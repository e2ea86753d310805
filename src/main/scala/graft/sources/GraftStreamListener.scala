package graft.sources

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Reader-group notification surface (client/.../stream/notifications/
  * notifier/{EndOfDataNotifier,SegmentNotifier}.java) mapped onto Spark's
  * StreamingQueryListener — SURVEY §2.8's "notifications" row, wired:
  *
  *  - END-OF-DATA: an AvailableNow (or sealed-stream) query terminates
  *    without exception once every announced offset is drained — the
  *    EndOfDataNotifier.java condition (readers reached the end of all
  *    data). `onEndOfData` fires at that termination.
  *  - SEGMENT COUNT: every progress event carries the source's end
  *    StreamCut; when the number of segments in the announced cut changes
  *    between progress events (a scale happened mid-read), the
  *    SegmentNotifier analog `onSegmentCountChange(newCount)` fires.
  *
  * Register with `spark.streams.addListener(...)`; events are delivered
  * asynchronously on Spark's listener bus, exactly like the reference's
  * notifier executor.
  */
class GraftStreamListener(
    onEndOfData: () => Unit = () => (),
    onSegmentCountChange: Int => Unit = _ => ()) extends StreamingQueryListener {

  private val lastCount = new java.util.concurrent.atomic.AtomicInteger(-1)
  @volatile private var sawGraftSource = false

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    e.progress.sources
      .filter(s => Option(s.description).exists(_.contains("GraftStreamSource")))
      .foreach { s =>
        sawGraftSource = true
        Option(s.endOffset).foreach { json =>
          val n = GraftStreamOffset.countSegments(json)
          val prev = lastCount.getAndSet(n)
          if (prev >= 0 && prev != n) onSegmentCountChange(n)
        }
      }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    if (e.exception.isEmpty && sawGraftSource) onEndOfData()
}
