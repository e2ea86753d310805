package graft.sources

import graft.SparkTestSession
import graft.core.{RoutingKeyHash, StreamConfig}
import graft.storage.GraftStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.In
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Runtime (join-driven) scan pruning — SupportsRuntimeFiltering on
  * GraftScan: Spark materializes a broadcast join's build-side keys and
  * hands them to the probe scan as IN filters before partitions plan.
  * The unit tests drive scan.filter(...) exactly as Spark does and
  * assert manifest files drop; the end-to-end test checks the join
  * stays value-correct with pruning active (the join itself still
  * filters rows, so pruning can only skip IO).
  */
class RuntimeFilterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mk(scope: String): (GraftStreams, String) = {
    val root = Files.createTempDirectory("graft-rtf").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope(scope)
    g.catalog.createStream(scope, "ev", StreamConfig(initialSegments = 4))
    g.writeEvents(scope, "ev", spark.range(0, 2000).select(
      concat(lit("k"), col("id") % 16).as("routingKey"),
      col("id").as("eventTime"),
      encode(col("id").cast("string"), "UTF-8").as("payload")))
    (g, root)
  }

  private def planned(scan: GraftScan): Int =
    scan.toBatch.planInputPartitions().map {
      case g: GraftInputPartition =>
        g.files.asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition]
          .files.length
      case _ => 0
    }.sum

  test("runtime IN(routingKey) prunes to the owning segments' files") {
    val (g, root) = mk("rf1")
    val sub = StreamSub("rf1", "ev", None, None)
    def scan() = new GraftScan(GraftSourceConfig(root, Seq(sub), None))
    val all = planned(scan())
    assert(all >= 4)

    val keys = Seq("k3", "k7")
    val s = scan()
    s.filter(Array[org.apache.spark.sql.sources.Filter](In("routingKey", keys.toArray[Any])))
    val pruned = planned(s)
    // the keys land in at most 2 of 4 segments
    val meta = g.catalog.getStream("rf1", "ev")
    val owners = keys.map(k =>
      meta.segments.find(_.range.contains(RoutingKeyHash.hashToRange(k))).get.segmentId).toSet
    assert(pruned <= all * owners.size / 4)
    assert(pruned > 0)
  }

  test("runtime IN(segmentId) composes with a static eventTime pushdown") {
    val (g, root) = mk("rf2")
    val sub = StreamSub("rf2", "ev", None, None)
    val sid = g.catalog.getStream("rf2", "ev").segments.head.segmentId
    val staticPushed = PushedPredicates.from(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("eventTime", 0L)))
    val s = new GraftScan(GraftSourceConfig(root, Seq(sub), None), staticPushed)
    s.filter(Array[org.apache.spark.sql.sources.Filter](In("segmentId", Array[Any](sid))))
    assert(planned(s) <= planned(new GraftScan(GraftSourceConfig(root, Seq(sub), None))) / 2)
  }

  test("runtime IN(eventTime) tightens the file time bounds") {
    val (_, root) = mk("rf6")
    val sub = StreamSub("rf6", "ev", None, None)
    def scan() = new GraftScan(GraftSourceConfig(root, Seq(sub), None))
    val all = planned(scan())
    val s = scan()
    // eventTime 0..1999 in one commit per mk(); a join on a handful of
    // times prunes nothing here (single files span everything), so use
    // an out-of-range set: [min,max] of the set misses every file
    s.filter(Array[org.apache.spark.sql.sources.Filter](
      In("eventTime", Array[Any](50000L, 60000L))))
    assert(planned(s) === 0)
    val s2 = scan()
    s2.filter(Array[org.apache.spark.sql.sources.Filter](
      In("eventTime", Array[Any](10L, 20L))))
    assert(planned(s2) === all) // in-range: conservative keep
  }

  test("an empty runtime key set prunes everything (join emits no rows)") {
    val (_, root) = mk("rf3")
    val sub = StreamSub("rf3", "ev", None, None)
    val s = new GraftScan(GraftSourceConfig(root, Seq(sub), None))
    s.filter(Array[org.apache.spark.sql.sources.Filter](In("routingKey", Array.empty[Any])))
    assert(planned(s) === 0)
  }

  test("scan declares the prunable attributes for the DPP planner") {
    val (_, root) = mk("rf4")
    val sub = StreamSub("rf4", "ev", None, None)
    val attrs = new GraftScan(GraftSourceConfig(root, Seq(sub), None))
      .filterAttributes().map(_.fieldNames.mkString(".")).toSet
    assert(attrs === Set("routingKey", "segmentId", "eventTime"))
  }

  test("end to end: stream-dim join with runtime filtering stays exact") {
    val (g, root) = mk("rf5")
    val dim = Seq(("k3", "gold"), ("k7", "silver")).toDF("routingKey", "tier")
    val events = spark.read.format("graft-stream")
      .option("rootDir", root).option("scope", "rf5").option("stream", "ev")
      .load()
    val joined = events.join(broadcast(dim), "routingKey")
      .groupBy($"tier").agg(count(lit(1)).as("n")).orderBy($"tier")
    val rows = joined.collect()
    val expected = ReferenceRead.events(g, "rf5", "ev")
      .join(dim, "routingKey").groupBy($"tier").agg(count(lit(1)).as("n"))
      .orderBy($"tier").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      expected.map(r => (r.getString(0), r.getLong(1))).toSeq)
    assert(rows.map(_.getLong(1)).sum === 250L)
  }
}
