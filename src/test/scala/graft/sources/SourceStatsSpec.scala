package graft.sources

import graft.SparkTestSession
import graft.core.StreamConfig
import graft.storage.GraftStreams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Planning statistics are manifest-only and cut-aware: file byte sizes
  * are recorded at commit (FileEntry.byteSize), so estimateStatistics
  * issues zero per-file getFileStatus RPCs, and a bounded read reports
  * a proportionally small sizeInBytes (still auto-broadcastable —
  * MultiStreamSpec gates the join shape).
  */
class SourceStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mk(scope: String): (GraftStreams, String) = {
    val root = Files.createTempDirectory("graft-stats").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope(scope)
    g.catalog.createStream(scope, "ev", StreamConfig(initialSegments = 2))
    g.writeEvents(scope, "ev", spark.range(0, 4000).select(
      concat(lit("k"), col("id") % 7).as("routingKey"),
      col("id").as("eventTime"),
      encode(col("id").cast("string"), "UTF-8").as("payload")))
    (g, root)
  }

  private def stats(root: String, sub: StreamSub) =
    new GraftScan(GraftSourceConfig(root, Seq(sub), None)).estimateStatistics()

  test("commit records byte sizes; estimates need no live data files") {
    val (g, root) = mk("st1")
    val meta = g.catalog.getStream("st1", "ev")
    assert(meta.files.nonEmpty)
    meta.files.foreach(f => assert(f.byteSize > 0L, s"unsized entry ${f.path}"))
    val manifestBytes = meta.files.distinctBy(_.path).map(_.byteSize).sum

    // Deleting every data file proves the estimate is manifest-only: the
    // old implementation stat'ed each file (and would report 0 here).
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    meta.files.foreach(f => fs.delete(new org.apache.hadoop.fs.Path(f.path), false))

    val s = stats(root, StreamSub("st1", "ev", None, None))
    assert(s.numRows().getAsLong === 4000L)
    assert(s.sizeInBytes().getAsLong === manifestBytes)
  }

  test("bounded reads report the cut range, pro-rated inside straddled files") {
    val (g, root) = mk("st2")
    val whole = stats(root, StreamSub("st2", "ev", None, None))
    assert(whole.numRows().getAsLong === 4000L)

    val head = g.catalog.getStream("st2", "ev").headStreamCut
    val from = g.nextStreamCut("st2", "ev", head, approxRows = 1000L)
    val to = g.nextStreamCut("st2", "ev", from, approxRows = 400L)
    val nRows = to.positions.values.sum - from.positions.values.sum
    val bounded = stats(root, StreamSub("st2", "ev", Some(from), Some(to)))
    assert(bounded.numRows().getAsLong === nRows)
    assert(bounded.sizeInBytes().getAsLong > 0L)
    // bytes shrink with the row fraction (generous slack for row-size skew)
    val frac = nRows.toDouble / 4000.0
    assert(bounded.sizeInBytes().getAsLong <=
      (whole.sizeInBytes().getAsLong * frac * 2).toLong + 1,
      s"bounded=${bounded.sizeInBytes().getAsLong} whole=${whole.sizeInBytes().getAsLong} frac=$frac")

    // an empty range is zero-sized
    val empty = stats(root, StreamSub("st2", "ev", Some(from), Some(from)))
    assert(empty.numRows().getAsLong === 0L)
    assert(empty.sizeInBytes().getAsLong === 0L)
  }

  test("segments born after a bounded read's cut contribute zero rows") {
    // Mirrors latestOffset's capping rule: a segment absent from sub.to
    // (created by a later scale-up) is capped to 0 rows, not counted to
    // its tail — otherwise bounded reads over scaled streams overestimate
    // and can miss the auto-broadcast threshold.
    val (g, root) = mk("st3")
    val cutBeforeScale = g.catalog.getStream("st3", "ev").tailCut
    g.scaleStream("st3", "ev", 4)
    g.writeEvents("st3", "ev", spark.range(0, 3000).select(
      concat(lit("k"), col("id") % 7).as("routingKey"),
      col("id").as("eventTime"),
      encode(col("id").cast("string"), "UTF-8").as("payload")))

    val bounded = stats(root, StreamSub("st3", "ev", None, Some(cutBeforeScale)))
    assert(bounded.numRows().getAsLong === 4000L,
      s"post-scale files leaked into the bounded estimate: ${bounded.numRows()}")
    // and the reported rows agree with what the read path actually returns
    val read = ReferenceRead.events(g, "st3", "ev", to = cutBeforeScale).count()
    assert(read === 4000L)
  }

  test("a batch scan reads one manifest state and never stats or lists a data file") {
    val fsImpl = classOf[graft.catalog.CountingOsFs].getName
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl", fsImpl)
    val root = "cntfs://" + Files.createTempDirectory("graft-stats-cnt").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("st5")
    g.catalog.createStream("st5", "ev", StreamConfig(initialSegments = 2))
    (0 until 20).foreach { i =>
      g.writeEvents("st5", "ev", spark.range(0, 100).select(
        concat(lit("k"), col("id") % 7).as("routingKey"),
        (col("id") + i * 100L).as("eventTime"),
        encode(col("id").cast("string"), "UTF-8").as("payload")))
    }
    assert(g.catalog.getStream("st5", "ev").files.size >= 40)
    import graft.catalog.CountingOsFs.{listPaths, statusPaths}
    import scala.jdk.CollectionConverters._
    // a warm manifest read makes two status calls here: the GC floor
    // record and the v0 identity record its cached state is validated
    // against (its tip probes are `exists` calls, not counted)
    def calls[T](what: String, manifestReads: Int)(body: => T): T = {
      statusPaths.clear(); listPaths.clear()
      val out = body
      val stats = statusPaths.asScala.toSeq
      assert(stats.forall(_.contains("/_meta/")), s"$what: non-manifest stats: $stats")
      assert(stats.size == 2 * manifestReads, s"$what: not $manifestReads warm manifest reads: $stats")
      assert(listPaths.isEmpty, s"$what: listings: ${listPaths.asScala.toSeq}")
      out
    }
    val dsv2 = spark.read.format("graft-stream")
      .option("rootDir", root).option("scope", "st5").option("stream", "ev").load()
    assert(calls("graft-stream count", 1)(dsv2.count()) === 2000L)
    // readEvents reads the tip once at call time, the scan once more
    assert(calls("readEvents count", 2)(g.readEvents("st5", "ev").count()) === 2000L)
    // a filter keeps the read off the manifest aggregate: plan its files
    val planned = calls("graft-stream planning", 1)(
      dsv2.filter($"eventTime" >= 0L).queryExecution.toRdd.partitions.length)
    assert(planned > 0)
  }

  test("statistics and planning of one scan see one manifest state") {
    val (g, root) = mk("st6")
    val filesBefore = g.catalog.getStream("st6", "ev").files.size
    val scan = new GraftScan(GraftSourceConfig(root, Seq(StreamSub("st6", "ev", None, None)), None))
    assert(scan.estimateStatistics().numRows().getAsLong === 4000L)
    // a truncate to the tail lands between statistics and planning
    g.catalog.truncateStream("st6", "ev", g.catalog.getStream("st6", "ev").tailCut)
    val planned = scan.toBatch.planInputPartitions().map {
      case p: GraftInputPartition =>
        p.files.asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition].files.length
    }.sum
    assert(planned === filesBefore, "planning re-read the manifest its statistics did not")
  }
}
