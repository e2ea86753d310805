package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `role` marks the spans an end-to-end metric is
  * made of ("primary" / "secondary", see [[Roles]]); inner spans carry
  * an empty role and are attributed to their nearest ancestor with one.
  * Times are epoch milliseconds with sub-millisecond digits.
  */
final case class Span(id: Long, parent: Long, name: String, role: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** One Spark job with the task metrics summed over its stages. */
final case class JobRec(jobId: Int, start: Double, end: Double, props: Map[String, String],
                        tasks: Long, runMs: Long, cpuNs: Long, inputBytes: Long,
                        outputBytes: Long, shuffleBytes: Long, spillBytes: Long)

/** Planning time of one non-streaming query execution
  * (`QueryPlanningTracker` phases), stamped with when planning began.
  */
final case class PlanRec(start: Double, planMs: Double)

object Roles {
  val Primary = "primary"
  val Secondary = "secondary"
  val all: Seq[String] = Seq(Primary, Secondary)
}

/** Parents Spark jobs to spans. A job started while a benchmark call
  * ran carries that call's span id as a local property of the calling
  * thread; a micro-batch job carries its query id and batch id instead,
  * and goes to the trigger span rebuilt from that batch's progress event.
  */
object Attribution {
  val SpanKey = "perfbench.span"
  val QueryKey = "sql.streaming.queryId"
  val BatchKey = "streaming.sql.batchId"

  def parentOf(props: Map[String, String], triggers: Map[(String, Long), Long]): Option[Long] = {
    val streaming = for {
      q <- props.get(QueryKey)
      b <- props.get(BatchKey)
      s <- triggers.get((q, b.toLong))
    } yield s
    // a micro-batch thread inherits local properties from the thread that
    // started the query, so the streaming keys win over an inherited span
    if (props.contains(QueryKey)) streaming
    else props.get(SpanKey).map(_.toLong)
  }

  /** The nearest ancestor of `id` (itself included) that has a role. */
  def roleAncestor(id: Long, byId: Map[Long, Span]): Option[Span] = {
    var cur = byId.get(id)
    while (cur.exists(_.role.isEmpty)) cur = cur.flatMap(s => byId.get(s.parent))
    cur
  }
}

/** Records the benchmark's own calls as spans. With `traced` off it only
  * keeps the wall-clock samples the end-to-end metrics need; with it on
  * it also tags Spark jobs with the calling span and listens to Spark's
  * public listener buses.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  val spans = new ConcurrentLinkedQueue[Span]()

  /** Time `body` as one span; the span is kept even when `body` throws. */
  def span[T](name: String, role: String = "")(body: => T): T = {
    val id = ids.incrementAndGet()
    val parents = stack.get()
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(Attribution.SpanKey, id.toString)
    stack.set(id :: parents)
    val t0 = Clock.now()
    try body
    finally {
      val t1 = Clock.now()
      stack.set(parents)
      if (traced) sc.setLocalProperty(Attribution.SpanKey, parents.headOption.map(_.toString).orNull)
      spans.add(Span(id, parents.headOption.getOrElse(0L), name, role, t0, t1))
    }
  }

  def spansNamed(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  // ---------------------------------------------------------------- listeners

  private final class JobAcc(val jobId: Int, val start: Double, val props: Map[String, String]) {
    @volatile var end: Double = Double.NaN
    val tasks, runMs, cpuNs, inputBytes, outputBytes, shuffleBytes, spillBytes = new AtomicLong()
  }
  private val jobs = new ConcurrentHashMap[Int, JobAcc]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  @volatile private var fenceSeen = false

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties).map(_.asScala.toMap).getOrElse(Map.empty[String, String])
      jobs.put(e.jobId, new JobAcc(e.jobId, e.time.toDouble, props))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.end = e.time.toDouble
        if (j.props.contains(Tracer.FenceKey)) fenceSeen = true
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      val m = e.taskMetrics
      for (acc <- j; tm <- Option(m)) {
        acc.tasks.incrementAndGet()
        acc.runMs.addAndGet(tm.executorRunTime)
        acc.cpuNs.addAndGet(tm.executorCpuTime)
        acc.inputBytes.addAndGet(tm.inputMetrics.bytesRead)
        acc.outputBytes.addAndGet(tm.outputMetrics.bytesWritten)
        acc.shuffleBytes.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
        acc.spillBytes.addAndGet(tm.memoryBytesSpilled + tm.diskBytesSpilled)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // micro-batch planning is reported by the progress events instead
      if (qe.getClass.getSimpleName != "IncrementalExecution") {
        val phases = qe.tracker.phases.values
        if (phases.nonEmpty)
          plans.add(PlanRec(phases.map(_.startTimeMs).min.toDouble, phases.map(_.durationMs).sum.toDouble))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (traced) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Stop listening and hand over everything recorded. Waits for the
    * listener buses to drain first, so no event of the run is lost.
    */
  def finish(): Recorded = {
    if (traced) {
      // Listener events arrive asynchronously. A fence job submitted last
      // is seen last on the job listener's queue; the short grace lets the
      // other queues (query executions, streaming progress) catch up.
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.FenceKey, "1")
      try spark.range(1).collect() finally sc.setLocalProperty(Tracer.FenceKey, null)
      val deadline = Clock.now() + 10000
      while (!fenceSeen && Clock.now() < deadline) Thread.sleep(10)
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
      spark.streams.removeListener(streamListener)
    }
    val jobRecs = jobs.values.asScala.toSeq.filterNot(_.props.contains(Tracer.FenceKey)).map { a =>
      JobRec(a.jobId, a.start, if (a.end.isNaN) a.start else a.end, a.props,
        a.tasks.get, a.runMs.get, a.cpuNs.get, a.inputBytes.get, a.outputBytes.get,
        a.shuffleBytes.get, a.spillBytes.get)
    }
    Recorded(spans.asScala.toSeq, jobRecs, plans.asScala.toSeq, progress.asScala.toSeq)
  }
}

object Tracer {
  val FenceKey = "perfbench.fence"
}

/** What a traced run recorded, ready for [[Layers]]. */
final case class Recorded(spans: Seq[Span], jobs: Seq[JobRec], plans: Seq[PlanRec],
                          progress: Seq[StreamingQueryProgress]) {
  /** Only what started in the measured window [from, to]. Micro-batches
    * stay until the query stops, since they deliver the window's events.
    */
  def window(from: Double, to: Double): Recorded = {
    def in(t: Double) = t >= from && t <= to
    Recorded(spans.filter(s => in(s.start)),
      jobs.filter(j => j.start >= from && (j.start <= to || j.props.contains(Attribution.QueryKey))),
      plans.filter(p => in(p.start)),
      progress.filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= from))
  }
}
