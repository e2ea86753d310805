package perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.zip.CRC32

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.StreamConfig
import graft.storage.GraftStreams

/** Closed loop, one client, running a fixed named list of calls once per
  * pass: six DSv2 scan shapes over a payload-heavy stream written at
  * set-up (incompressible ~1 KiB payloads, many time-ordered commits),
  * then a list of inventory queries over generated tables, half bound by
  * the per-query floor and half by operator kernels. This is the analyst
  * path: scan pushdown and the per-query floor dominate the short calls,
  * operator kernels the long ones. It makes no commits.
  */
final class QueryMix(ctx: Ctx) extends Workload {
  import ctx._

  private val Scope = "bench"
  private val Stream = "payloads"
  private val Keys = 32
  private val Segments = 4
  private val Commits = 6
  private val EventsPerCommit = 500
  private val PayloadBytes = 1024
  /** Inventory scale (sf 0.01 is 60k lineitem rows). */
  private val Sf = 0.005

  /** The inventory queries of one pass, in order. The first three sit on
    * the per-query floor; the last two are bound by operator kernels. Their
    * latencies are far apart, so the median of a run's calls is `q1_agg`.
    */
  val Inventory: Seq[String] = Seq(
    "q1_agg", "ev_count_by_type", "txt_top_tokens",
    "q5_join_multiway", "dedup_minhash_lsh")
  /** The tables those queries read. */
  private val InventoryTables =
    Set("region", "nation", "customer", "orders", "lineitem", "events", "documents")

  /** What the scans are checked against, kept per written event. */
  private final case class Written(key: String, eventTime: Long, len: Int, crc: Long)

  private var tables: String = _
  private var root: String = _
  private var events: Seq[Written] = Nil
  private var sliceFrom, sliceTo = 0L
  private var pointKey = ""
  private val JoinTier = 0
  private val failures = ArrayBuffer.empty[String]
  private var attempts = 0L
  private val counts = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val scanMs, queryMs, passWall, gaps = ArrayBuffer.empty[Double]
  private val lastRows = mutable.HashMap.empty[String, (Array[Row], StructType)]
  private var streamBytes = 0.0
  private var manifestVersions = 0.0

  private def key(i: Int) = f"rk$i%02d"
  private def tier(k: String) = k.drop(2).toInt % 8

  override def setup(rep: Int): Unit = {
    val rnd = new SplittableRandom(seed)
    tables = dir(s"tables-$rep")
    Gen.tables(spark, tables, seed, Sf, InventoryTables)
    root = dir(s"mix-$rep")
    val g = new GraftStreams(spark, root)
    g.catalog.createScope(Scope)
    g.catalog.createStream(Scope, Stream, StreamConfig(initialSegments = Segments))
    val all = ArrayBuffer.empty[Written]
    (0 until Commits).foreach { c =>
      val batch = (0 until EventsPerCommit).map { j =>
        val p = new Array[Byte](PayloadBytes - 64 + rnd.nextInt(129))
        rnd.nextBytes(p)
        Gen.Ev(key(rnd.nextInt(Keys)), 1000000L + c * 10000L + j * 10L, p)
      }
      g.writeEvents(Scope, Stream, Gen.frame(spark, batch))
      all ++= batch.map { e =>
        val crc = new CRC32(); crc.update(e.payload)
        Written(e.routingKey, e.eventTime, e.payload.length, crc.getValue)
      }
    }
    events = all.toSeq
    sliceFrom = 1000000L + 2 * 10000L
    sliceTo = sliceFrom + 2 * 10000L
    pointKey = key(rnd.nextInt(Keys))
    spark.createDataFrame(java.util.Arrays.asList((0 until Keys).map(i => Row(key(i), tier(key(i)))): _*),
      StructType.fromDDL("routingKey STRING, tier INT"))
      .write.mode("overwrite").parquet(Paths.get(root, "dims.parquet").toString)
    streamBytes = Main.dirBytes(Paths.get(root, Scope, Stream))
    manifestVersions = g.catalog.manifestVersions(Scope, Stream).size.toDouble
  }

  private def stream: DataFrame = spark.read.format("graft-stream")
    .option("rootDir", root).option("scope", Scope).option("stream", Stream).load()

  /** The six scan shapes: name, query, and the expected answer computed
    * from the generated events.
    */
  private def scans: Seq[(String, () => DataFrame, () => Seq[Seq[Any]])] = Seq(
    ("full_payload_agg",
      () => stream.agg(count(lit(1)), sum(length(col("payload"))), sum(crc32(col("payload")))),
      () => Seq(Seq(events.size.toLong, events.map(_.len.toLong).sum, events.map(_.crc).sum))),
    ("pruned_agg",
      () => stream.groupBy("routingKey").agg(count(lit(1)), max("eventTime")).orderBy("routingKey"),
      () => events.groupBy(_.key).toSeq.sortBy(_._1).map { case (k, es) =>
        Seq(k, es.size.toLong, es.map(_.eventTime).max) }),
    ("time_slice",
      () => stream.filter(col("eventTime") >= sliceFrom && col("eventTime") < sliceTo)
        .agg(count(lit(1)), sum("eventTime")),
      () => {
        val es = events.filter(e => e.eventTime >= sliceFrom && e.eventTime < sliceTo)
        Seq(Seq(es.size.toLong, es.map(_.eventTime).sum))
      }),
    ("key_point",
      () => stream.filter(col("routingKey") === pointKey)
        .agg(count(lit(1)), min("eventTime"), max("eventTime")),
      () => {
        val es = events.filter(_.key == pointKey).map(_.eventTime)
        Seq(Seq(es.size.toLong, es.min, es.max))
      }),
    ("manifest_agg",
      () => stream.agg(count(lit(1)), min("eventTime"), max("eventTime")),
      () => Seq(Seq(events.size.toLong, events.map(_.eventTime).min, events.map(_.eventTime).max))),
    ("runtime_join",
      () => stream.join(broadcast(spark.read.parquet(Paths.get(root, "dims.parquet").toString)
          .filter(col("tier") === JoinTier)), "routingKey")
        .groupBy("routingKey").agg(count(lit(1))).orderBy("routingKey"),
      () => events.filter(e => tier(e.key) == JoinTier).groupBy(_.key).toSeq.sortBy(_._1)
        .map { case (k, es) => Seq(k, es.size.toLong) }))

  private def call(name: String, role: String, into: ArrayBuffer[Double], measured: Boolean)
                  (body: => Array[Row]): Option[Array[Row]] = {
    attempts += 1
    if (measured) counts(name) += 1
    val t0 = Clock.now()
    try {
      val rows = tracer.span(name, role)(body)
      if (measured) into += Clock.now() - t0
      Some(rows)
    } catch { case e: Exception => failures += s"$name failed: ${e.getMessage}"; None }
  }

  private def norm(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq.map { case a: Array[_] => a.toSeq; case x => x })

  private def pass(measured: Boolean): Unit = {
    val t0 = Clock.now()
    var last = Double.NaN
    def gap(): Unit = { if (measured && !last.isNaN) gaps += Clock.now() - last }
    scans.foreach { case (name, q, expected) =>
      gap()
      call(s"sources.scan.$name", Roles.Primary, scanMs, measured)(q().collect()).foreach { rows =>
        val got = rows.toSeq.map(_.toSeq)
        if (got != expected()) failures += s"scan $name returned $got, expected ${expected()}"
      }
      last = Clock.now()
    }
    Inventory.foreach { name =>
      gap()
      var schema: StructType = null
      call(s"queries.$name", Roles.Secondary, queryMs, measured) {
        val df = graft.SparkEntry.queries(name)(spark, tables)
        schema = df.schema
        df.collect()
      }.foreach { rows =>
        // every pass must give the same answer; the last one goes to the oracle
        lastRows.get(name).foreach { case (prev, _) =>
          if (norm(prev) != norm(rows))
            failures += s"query $name changed its answer between passes"
        }
        lastRows(name) = (rows, schema)
      }
      last = Clock.now()
    }
    if (measured) passWall += (Clock.now() - t0) / 1000
  }

  override def warm(): Unit = pass(measured = false)

  /** A pass takes about 10 s on 4 cores. */
  override def measure(seconds: Int): Unit =
    (0 until Stats.passes(seconds, 10.0)).foreach(_ => pass(measured = true))

  override def finish(): Seq[String] = {
    val out = dir("oracle-results")
    lastRows.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(Paths.get(out, name).toString)
    }
    val sql = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Main.json(Inventory.flatMap(n => sql.get(n).map(n -> _)).toMap))
    Inventory.filterNot(sql.contains).foreach(n => failures += s"query $n has no oracle SQL")
    failures.toSeq
  }

  override def extra: Map[String, Any] = Map("oracle" -> Map(
    "tables" -> tables, "results" -> Paths.get(workDir, "oracle-results").toString,
    "calls" -> Inventory.map(n => n -> counts(s"queries.$n")).toMap))

  override def attempted: Long = attempts
  override def opCounts: Map[String, Long] = counts.toMap
  override def primaryMs: Seq[Double] = scanMs.toSeq
  override def secondaryMs: Seq[Double] = queryMs.toSeq
  override def passS: Seq[Double] = passWall.toSeq
  override def lateMs: Seq[Double] = gaps.toSeq
  override def names: (String, String, String) = ("scan", "query", "mix_wall_s")

  override def storeLayers(rec: Recorded): Map[String, Double] = {
    val scanCalls = Layers.calls(rec).filter(_.span.role == Roles.Primary)
    val read = scanCalls.map(_.jobs.map(_.inputBytes.toDouble).sum)
    Map(
      "catalog.manifest_versions" -> manifestVersions,
      "catalog.meta_bytes" -> Main.dirBytes(Paths.get(root, Scope, Stream, "_meta")),
      "sources.scan.bytes_read_ratio" ->
        (if (read.isEmpty || streamBytes == 0) 0.0 else read.sum / read.size / streamBytes))
  }

  override def report(rec: Option[Recorded], from: Double): Seq[(String, Double, String)] =
    rec.toSeq.flatMap { r =>
      val calls = Layers.calls(r)
      val scanCalls = calls.filter(_.span.role == Roles.Primary)
      val q = Layers.roleMetrics("queries", calls.filter(_.span.role == Roles.Secondary))
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      Seq(
        ("sources.scan.plan_ms", med(scanCalls.map(_.planMs)), "ms"),
        ("sources.scan.tasks", scanCalls.map(_.jobs.map(_.tasks).sum.toDouble).sum / math.max(1, scanCalls.size), "count"),
        ("sources.scan.bytes_read_ratio", storeLayers(r)("sources.scan.bytes_read_ratio"), "ratio"),
        ("queries.plan_ms.p50", q("queries.plan_ms.p50"), "ms"),
        ("queries.jobs_per_query", q("queries.jobs_per_call"), "count"),
        ("queries.tasks_per_query", q("queries.tasks_per_call"), "count"),
        ("queries.driver_gap_ms.p50", q("queries.driver_ms.p50"), "ms"),
        ("queries.executor_run_ms", q("queries.executor_run_ms"), "ms"),
        ("queries.executor_cpu_ms", q("queries.executor_cpu_ms"), "ms"),
        ("queries.cpu_per_run", q("queries.cpu_per_run"), "ratio"),
        ("queries.shuffle_bytes", q("queries.shuffle_bytes"), "bytes"),
        ("queries.spill_bytes", q("queries.spill_bytes"), "bytes"))
    }
}
