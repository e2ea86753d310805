package graft.sources

import graft.SparkTestSession
import graft.core.{RoutingKeyHash, StreamConfig}
import graft.storage.GraftStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** DSv2 scan pushdown over the graft-stream source: predicate →
  * manifest-file pruning, column pruning (payload never read when not
  * requested), and manifest-only aggregate pushdown
  * (COUNT/MIN/MAX(eventTime) with zero file IO). Every pruned plan is
  * also value-checked against a plain parquet read of the manifest's
  * files (ReferenceRead), so pruning can only ever skip work, not change
  * answers.
  */
class ScanPushdownSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 4 commits × 2 segments = 8 files, each commit a disjoint
    * eventTime epoch of 1000: [0,1000), [1000,2000), ...
    */
  private def mk(scope: String, segments: Int = 2): (GraftStreams, String) = {
    val root = Files.createTempDirectory("graft-prune").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope(scope)
    g.catalog.createStream(scope, "ev", StreamConfig(initialSegments = segments))
    (0 until 4).foreach { epoch =>
      g.writeEvents(scope, "ev", spark.range(0, 1000).select(
        concat(lit("k"), col("id") % 13).as("routingKey"),
        (col("id") + epoch * 1000L).as("eventTime"),
        encode(col("id").cast("string"), "UTF-8").as("payload")))
    }
    (g, root)
  }

  private def dsv2(root: String, scope: String): DataFrame =
    spark.read.format("graft-stream")
      .option("rootDir", root).option("scope", scope).option("stream", "ev")
      .load()

  private def scanExec(df: DataFrame): BatchScanExec = {
    def find(p: org.apache.spark.sql.execution.SparkPlan): Option[BatchScanExec] =
      p match {
        case b: BatchScanExec => Some(b)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          find(a.executedPlan)
        case other => other.children.view.flatMap(find(_)).headOption
      }
    find(df.queryExecution.executedPlan)
      .getOrElse(fail("no BatchScanExec in plan:\n" +
        df.queryExecution.executedPlan.toString))
  }

  private def plannedFiles(df: DataFrame): Int =
    scanExec(df).partitions.flatten.map {
      case g: GraftInputPartition =>
        g.files.asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition]
          .files.length
      case _ => 0
    }.sum

  test("eventTime range predicate prunes manifest files at planning") {
    val (g, root) = mk("pr1")
    val all = dsv2(root, "pr1")
    val total = plannedFiles(all)
    assert(total >= 8, s"expected >=8 committed files, planned $total")

    val sliced = all.filter($"eventTime" >= 1000L && $"eventTime" < 2000L)
    val planned = plannedFiles(sliced)
    assert(planned < total, s"no pruning: $planned of $total files planned")
    // one epoch = 2 files (one per segment)
    assert(planned <= total / 2, s"weak pruning: $planned of $total")

    // values unchanged vs a plain parquet read of the manifest's files
    val expected = ReferenceRead.events(g, "pr1", "ev")
      .filter($"eventTime" >= 1000L && $"eventTime" < 2000L).count()
    assert(sliced.count() === expected)
    assert(expected === 1000L)
  }

  test("a disjoint time slice plans zero files but stays correct") {
    val (_, root) = mk("pr2")
    val none = dsv2(root, "pr2").filter($"eventTime" > 50000L)
    assert(plannedFiles(none) === 0)
    assert(none.count() === 0L)
  }

  test("routingKey equality prunes to the owning segment's files") {
    val (g, root) = mk("pr3", segments = 4)
    val all = dsv2(root, "pr3")
    val total = plannedFiles(all)
    val key = "k5"
    val hit = all.filter($"routingKey" === key)
    val planned = plannedFiles(hit)
    // the key hashes into exactly one of 4 segments per epoch
    assert(planned <= total / 2, s"routingKey pruning weak: $planned of $total")
    val meta = g.catalog.getStream("pr3", "ev")
    val owner = meta.segments.find(_.range.contains(RoutingKeyHash.hashToRange(key)))
    assert(owner.isDefined)
    val expected = ReferenceRead.events(g, "pr3", "ev").filter($"routingKey" === key).count()
    assert(hit.count() === expected)
    assert(expected > 0L)
  }

  test("segmentId predicate prunes other segments; residual stays exact") {
    val (g, root) = mk("pr4", segments = 4)
    val all = dsv2(root, "pr4")
    val total = plannedFiles(all)
    val sid = g.catalog.getStream("pr4", "ev").segments.head.segmentId
    val one = all.filter($"segmentId" === sid)
    assert(plannedFiles(one) <= total / 2)
    assert(one.count() ===
      ReferenceRead.events(g, "pr4", "ev").filter($"segmentId" === sid).count())
  }

  test("column pruning drops payload from the parquet read schema") {
    val (_, root) = mk("pr5")
    val slim = dsv2(root, "pr5").select($"eventTime", $"routingKey")
    val scan = scanExec(slim.filter($"eventTime" >= 0)).scan
    val names = scan.readSchema().fieldNames.toSet
    assert(!names.contains("payload"), s"payload not pruned: $names")
    assert(names === Set("eventTime", "routingKey"))
    // values survive the projection (both row + columnar paths land here)
    val rows = slim.groupBy($"routingKey").agg(count(lit(1)).as("n"),
      max($"eventTime").as("mx")).collect()
    assert(rows.length === 13)
    assert(rows.map(_.getLong(1)).sum === 4000L)
  }

  test("count/min/max push to the manifest: zero file partitions") {
    val (g, root) = mk("pr6")
    val agg = dsv2(root, "pr6")
      .agg(count(lit(1)).as("n"), min($"eventTime").as("lo"), max($"eventTime").as("hi"))
    val scan = scanExec(agg).scan
    assert(scan.isInstanceOf[GraftAggScan],
      s"aggregate not pushed; scan = ${scan.description()}")
    assert(scanExec(agg).partitions.flatten.length === 1)
    val row = agg.head()
    assert(row.getLong(0) === 4000L)
    assert(row.getLong(1) === 0L)
    assert(row.getLong(2) === 3999L)
    // cross-check vs a plain parquet read of the manifest's files
    assert(ReferenceRead.events(g, "pr6", "ev").count() === 4000L)
  }

  test("aggregate over an empty stream emits the empty-partial row") {
    val root = Files.createTempDirectory("graft-prune").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("pr7")
    g.catalog.createStream("pr7", "ev", StreamConfig(initialSegments = 2))
    val agg = dsv2(root, "pr7")
      .agg(count(lit(1)).as("n"), min($"eventTime").as("lo"))
    assert(scanExec(agg).scan.isInstanceOf[GraftAggScan])
    val row = agg.head()
    assert(row.getLong(0) === 0L)
    assert(row.isNullAt(1))
  }

  test("a WHERE clause blocks aggregate pushdown but stays correct") {
    val (_, root) = mk("pr8")
    val agg = dsv2(root, "pr8").filter($"eventTime" < 1500L)
      .agg(count(lit(1)).as("n"))
    assert(!scanExec(agg).scan.isInstanceOf[GraftAggScan])
    assert(agg.head().getLong(0) === 1500L)
  }

  test("chunked large-event files block count pushdown (rows != events)") {
    val root = Files.createTempDirectory("graft-prune").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("pr9")
    g.catalog.createStream("pr9", "ev", StreamConfig(initialSegments = 1))
    // one payload over MaxEventSize → chunk rows on disk, one event on read
    val big = "x" * (GraftStreams.MaxEventSize + 100)
    g.writeEvents("pr9", "ev", Seq(("k1", 1L, big.getBytes("UTF-8")))
      .toDF("routingKey", "eventTime", "payload"))
    val agg = dsv2(root, "pr9").agg(count(lit(1)).as("n"))
    assert(!scanExec(agg).scan.isInstanceOf[GraftAggScan],
      "chunked file must not push manifest count")
    assert(agg.head().getLong(0) === 1L)
  }

  test("bounded cut count pushes and equals the cut distance") {
    val (g, root) = mk("pr10")
    val meta = g.catalog.getStream("pr10", "ev")
    val mid = graft.core.StreamCut(meta.tailCut.positions.map { case (s, o) => s -> o / 2 })
    val agg = spark.read.format("graft-stream")
      .option("rootDir", root).option("scope", "pr10").option("stream", "ev")
      .option("toStreamCut", mid.positions.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      .load().agg(count(lit(1)).as("n"))
    // mid-file cuts straddle → min/max would not push, but count does
    assert(scanExec(agg).scan.isInstanceOf[GraftAggScan])
    assert(agg.head().getLong(0) === mid.positions.values.sum)
  }

  test("pruning survives compaction (coarser files, same answers)") {
    val (g, root) = mk("prC")
    val before = dsv2(root, "prC").filter($"eventTime" >= 1000L && $"eventTime" < 2000L)
    val expected = before.count()
    g.compactStream("prC", "ev")
    val after = dsv2(root, "prC").filter($"eventTime" >= 1000L && $"eventTime" < 2000L)
    // compaction folds to one file per segment spanning all epochs —
    // the recorded bounds widen, pruning keeps them, values unchanged
    assert(after.count() === expected)
    val agg = dsv2(root, "prC").agg(count(lit(1)).as("n"))
    assert(scanExec(agg).scan.isInstanceOf[GraftAggScan])
    assert(agg.head().getLong(0) === 4000L)
  }

  test("SQL catalog path inherits every pushdown") {
    val (_, root) = mk("prD")
    spark.conf.set("spark.sql.catalog.gsql", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsql.rootDir", root)
    try {
      // aggregate pushdown through pure SQL
      val agg = spark.sql("SELECT count(*) AS n FROM gsql.prD.ev")
      assert(scanExec(agg).scan.isInstanceOf[GraftAggScan],
        s"SQL count not manifest-pushed: ${scanExec(agg).scan.description()}")
      assert(agg.head().getLong(0) === 4000L)
      // predicate file pruning + column pruning through pure SQL
      val slice = spark.sql(
        "SELECT count(*) AS n, max(eventTime) AS mx FROM gsql.prD.ev " +
          "WHERE eventTime >= 1000 AND eventTime < 2000")
      val planned = plannedFiles(slice)
      assert(planned > 0 && planned <= plannedFiles(
        spark.sql("SELECT count(*) AS n FROM gsql.prD.ev WHERE eventTime >= 0")) / 2)
      val names = scanExec(slice).scan.readSchema().fieldNames.toSet
      assert(names === Set("eventTime"))
      val row = slice.head()
      assert(row.getLong(0) === 1000L)
      assert(row.getLong(1) === 1999L)
    } finally {
      spark.conf.unset("spark.sql.catalog.gsql")
      spark.conf.unset("spark.sql.catalog.gsql.rootDir")
    }
  }

  test("GROUP BY segmentId count pushes to the manifest (EVENT_COUNT shape)") {
    val (g, root) = mk("prG")
    val agg = dsv2(root, "prG").groupBy($"segmentId")
      .agg(count(lit(1)).as("n"), min($"eventTime").as("lo"))
      .orderBy($"segmentId")
    assert(scanExec(agg).scan.isInstanceOf[GraftAggScan],
      s"grouped count not pushed: ${scanExec(agg).scan.description()}")
    val rows = agg.collect()
    val expected = ReferenceRead.events(g, "prG", "ev").groupBy($"segmentId")
      .agg(count(lit(1)).as("n"), min($"eventTime").as("lo"))
      .orderBy($"segmentId").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      expected.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    assert(rows.map(_.getLong(1)).sum === 4000L)
  }

  test("LIMIT plans only enough files to cover it, and stays exact") {
    val (_, root) = mk("prL")
    // avoid the manifest-count aggregate path: take real rows
    val limited = dsv2(root, "prL").limit(10)
    assert(plannedFiles(limited) <= 2, // one file per segment batch covers 10 rows
      s"limit planned ${plannedFiles(limited)} files")
    assert(limited.count() === 10L)
    // limit larger than the stream: all rows, all files
    val all = dsv2(root, "prL").limit(100000)
    assert(all.count() === 4000L)
    // LIMIT 0 plans nothing
    assert(dsv2(root, "prL").limit(0).count() === 0L)
  }

  test("LIMIT over chunked files still returns every available event") {
    val root = Files.createTempDirectory("graft-prune").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("prM")
    g.catalog.createStream("prM", "ev", StreamConfig(initialSegments = 1))
    val big = "x" * (GraftStreams.MaxEventSize + 100)
    g.writeEvents("prM", "ev", Seq(
      ("k1", 1L, big.getBytes("UTF-8")),
      ("k2", 2L, "small".getBytes("UTF-8"))).toDF("routingKey", "eventTime", "payload"))
    // chunked files guarantee 0 toward the limit, so every file plans
    // and both events come back
    assert(dsv2(root, "prM").limit(2).count() === 2L)
    assert(dsv2(root, "prM").limit(1).count() === 1L)
  }

  test("pushed predicates shrink the statistics estimate (broadcast stays reachable)") {
    val (_, root) = mk("prE")
    val sub = StreamSub("prE", "ev", None, None)
    def stats(p: PushedPredicates) =
      new GraftScan(GraftSourceConfig(root, Seq(sub), None), p).estimateStatistics()
    val full = stats(PushedPredicates.empty)
    val sliced = stats(PushedPredicates.from(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("eventTime", 1000L),
      org.apache.spark.sql.sources.LessThan("eventTime", 2000L))))
    assert(full.numRows().getAsLong === 4000L)
    assert(sliced.numRows().getAsLong <= full.numRows().getAsLong / 2)
    assert(sliced.sizeInBytes().getAsLong < full.sizeInBytes().getAsLong)
    assert(sliced.numRows().getAsLong >= 1000L)
  }

  test("multi-stream 'stream' predicate prunes whole subscriptions") {
    val root = Files.createTempDirectory("graft-prune").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("prA")
    Seq("a", "b").foreach { s =>
      g.catalog.createStream("prA", s, StreamConfig(initialSegments = 2))
      g.writeEvents("prA", s, spark.range(0, 500).select(
        concat(lit(s), col("id") % 5).as("routingKey"),
        col("id").as("eventTime"),
        encode(col("id").cast("string"), "UTF-8").as("payload")))
    }
    val both = spark.read.format("graft-stream")
      .option("rootDir", root).option("scope", "prA").option("streams", "a,b")
      .load()
    val total = plannedFiles(both.filter($"eventTime" >= 0))
    val one = both.filter($"stream" === "prA/a")
    assert(plannedFiles(one) < total)
    assert(one.count() === 500L)
  }
}
