package graft.sources

import graft.SparkTestSession
import graft.core._
import graft.storage.GraftStreams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Reader groups over multiple streams (ReaderGroupConfig.java:49-108 —
  * one group, N streams, per-stream start/end cuts): natively via the
  * source's `streams` option (one composite checkpointed offset, rows
  * tagged with a `stream` identity column), and the hand-union fallback
  * (offsets checkpoint independently per source).
  */
class MultiStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def cutJson(c: StreamCut): String =
    c.positions.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  test("native reader group: one source, two streams, stream identity column") {
    val root = Files.createTempDirectory("graft-msn").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("s")
    g.catalog.createStream("s", "a", StreamConfig(initialSegments = 2))
    g.catalog.createStream("s", "b", StreamConfig(initialSegments = 3))
    def batch(tag: String, n: Int, base: Int = 0) = spark.range(n).select(
      concat(lit(tag), col("id") % 4).as("routingKey"),
      (lit(1704067200000L) + col("id")).as("eventTime"),
      encode(concat(lit(tag), col("id") + base), "UTF-8").as("payload"))
    g.writeEvents("s", "a", batch("a", 300))
    g.writeEvents("s", "b", batch("b", 500))

    val df = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("streams", "a,b").load()
    assert(df.schema.fieldNames.endsWith(Array("stream")),
      "multi-stream subscription must append the stream identity column")
    val q = df.writeStream.format("memory").queryName("msn").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-msn-ck").toString)
      .start()
    try {
      q.processAllAvailable()
      def counts() = spark.table("msn").groupBy($"stream").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts() == Map("s/a" -> 300L, "s/b" -> 500L))
      // one stream advances alone; no redelivery on the idle one and the
      // payload set stays exact (composite offset advanced per stream)
      g.writeEvents("s", "b", batch("b", 100, base = 500))
      q.processAllAvailable()
      assert(counts() == Map("s/a" -> 300L, "s/b" -> 600L))
      val nDistinct = spark.table("msn")
        .select(decode($"payload", "UTF-8")).distinct().count()
      assert(nDistinct === 900L, "payloads must be exactly-once across both streams")
    } finally q.stop()
  }

  test("per-stream start and end cuts bound the subscription (ReaderGroupConfig cuts)") {
    val root = Files.createTempDirectory("graft-msc").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("s")
    g.catalog.createStream("s", "a", StreamConfig(initialSegments = 2))
    g.catalog.createStream("s", "b", StreamConfig(initialSegments = 2))
    def batch(tag: String, n: Int, base: Int = 0) = spark.range(n).select(
      concat(lit(tag), col("id") % 4).as("routingKey"),
      (lit(1704067200000L) + col("id")).as("eventTime"),
      encode(concat(lit(tag), col("id") + base), "UTF-8").as("payload"))

    // a: skip the first 200 via a start cut; b: stop at 500 via an end cut
    g.writeEvents("s", "a", batch("a", 200))
    val fromA = g.catalog.getStream("s", "a").tailCut
    g.writeEvents("s", "a", batch("a", 150, base = 200))
    g.writeEvents("s", "b", batch("b", 500))
    val toB = g.catalog.getStream("s", "b").tailCut
    g.writeEvents("s", "b", batch("b", 300, base = 500))

    val df = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("streams", "a,b")
      .option("fromStreamCut.a", cutJson(fromA))
      .option("toStreamCut.b", cutJson(toB))
      .load()
    val q = df.writeStream.format("memory").queryName("msc").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-msc-ck").toString)
      .start()
    try {
      q.processAllAvailable()
      val counts = spark.table("msc").groupBy($"stream").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("s/a" -> 150L, "s/b" -> 500L))
      // the end-cut stream never advances past its bound, even with data behind it
      g.writeEvents("s", "b", batch("b", 100, base = 800))
      q.processAllAvailable()
      val counts2 = spark.table("msc").groupBy($"stream").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts2 == Map("s/a" -> 150L, "s/b" -> 500L))
    } finally q.stop()
  }

  test("native group: checkpoint-resume restores the composite cut exactly") {
    val root = Files.createTempDirectory("graft-msr").toString
    val out = Files.createTempDirectory("graft-msr-out").toString
    val ckpt = Files.createTempDirectory("graft-msr-ck").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("s")
    g.catalog.createStream("s", "a", StreamConfig(initialSegments = 2))
    g.catalog.createStream("s", "b", StreamConfig(initialSegments = 3))
    def batch(tag: String, n: Int, base: Int = 0) = spark.range(n).select(
      concat(lit(tag), col("id") % 4).as("routingKey"),
      (lit(1704067200000L) + col("id")).as("eventTime"),
      encode(concat(lit(tag), col("id") + base), "UTF-8").as("payload"))
    g.writeEvents("s", "a", batch("a", 250))
    g.writeEvents("s", "b", batch("b", 400))

    def start() = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("streams", "a,b")
      .load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    g.writeEvents("s", "a", batch("a", 50, base = 250))
    g.writeEvents("s", "b", batch("b", 75, base = 400))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()

    val rows = spark.read.parquet(out)
    assert(rows.count() === 775L)
    assert(rows.select(decode($"payload", "UTF-8")).distinct().count() === 775L,
      "restart must deliver the exact remainder — no loss, no redelivery")
    val byStream = rows.groupBy($"stream").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStream == Map("s/a" -> 300L, "s/b" -> 475L))
  }

  test("native group: AvailableNow drains both streams in pages, then end-of-data") {
    val root = Files.createTempDirectory("graft-msa").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("s")
    g.catalog.createScope("s2")
    g.catalog.createStream("s", "a", StreamConfig(initialSegments = 2))
    g.catalog.createStream("s2", "c", StreamConfig(initialSegments = 2))
    def batch(tag: String, n: Int) = spark.range(n).select(
      concat(lit(tag), col("id") % 4).as("routingKey"),
      (lit(1704067200000L) + col("id")).as("eventTime"),
      encode(concat(lit(tag), col("id")), "UTF-8").as("payload"))
    g.writeEvents("s", "a", batch("a", 300))
    g.writeEvents("s2", "c", batch("c", 200))

    val ended = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new GraftStreamListener(onEndOfData = () => ended.set(true))
    spark.streams.addListener(listener)
    try {
      // cross-scope subscription: bare name resolves against `scope`,
      // qualified name overrides it
      val q = spark.readStream.format("graft-stream")
        .option("rootDir", root).option("scope", "s")
        .option("streams", "a,s2/c")
        .option("maxRowsPerTrigger", "120")
        .load()
        .writeStream.format("memory").queryName("msa").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
      val counts = spark.table("msa").groupBy($"stream").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("s/a" -> 300L, "s2/c" -> 200L))
      // paged drain: 500 rows at ~120/trigger needs several batches
      assert(spark.table("msa").select($"stream").inputFiles.nonEmpty ||
        counts.values.sum == 500L)
      spark.streams.active.foreach(_.processAllAvailable())
      // listener end-of-data fires on clean termination of the drain
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(
          org.scalatest.time.Span(30, org.scalatest.time.Seconds))) {
        assert(ended.get, "end-of-data notification after AvailableNow drain")
      }
    } finally spark.streams.removeListener(listener)
  }

  test("DSv2 plan gate: unpaced micro-batches read COLUMNAR; paced boundary batches row-filter") {
    val root = Files.createTempDirectory("graft-mscol").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("s")
    g.catalog.createStream("s", "a", StreamConfig(initialSegments = 2))
    g.writeEvents("s", "a", spark.range(600).select(
      concat(lit("k"), col("id") % 4).as("routingKey"),
      (lit(1704067200000L) + col("id")).as("eventTime"),
      encode(col("id").cast("string"), "UTF-8").as("payload")))

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit =
        if (qe.executedPlan.toString.contains("GraftStreamSource") ||
            qe.logical.toString.contains("graft")) plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      def run(name: String, pace: Option[String]): Unit = {
        val r = spark.readStream.format("graft-stream")
          .option("rootDir", root).option("scope", "s").option("stream", "a")
        val q = pace.fold(r)(p => r.option("maxRowsPerTrigger", p)).load()
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        assert(spark.table(name).count() === 600L)
      }
      plans.clear()
      run("colgate1", pace = None)
      // listener delivery is async — poll briefly for the batch plans
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(
          org.scalatest.time.Span(20, org.scalatest.time.Seconds))) {
        val unpaced = plans.toArray(Array.empty[String]).filter(_.contains("BatchScan"))
        assert(unpaced.nonEmpty, "micro-batch plans must be captured")
        assert(unpaced.exists(_.contains("ColumnarToRow")),
          "an unpaced drain reads whole manifest files -> the scan must stay " +
            "columnar (vectorized parquet), not fall back to row-based reads")
      }

      // paced: 250-row pages slice inside files -> row-filtered reads are
      // expected (and exactness over straddled files is what's asserted
      // by the count + StreamingSourceSpec pacing tests)
      plans.clear()
      run("colgate2", pace = Some("250"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("DSv2 batch read: spark.read over streams honors cuts and stream identity") {
    val root = Files.createTempDirectory("graft-msb").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("s")
    g.catalog.createStream("s", "a", StreamConfig(initialSegments = 2))
    g.catalog.createStream("s", "b", StreamConfig(initialSegments = 3))
    def batch(tag: String, n: Int, base: Int = 0) = spark.range(n).select(
      concat(lit(tag), col("id") % 4).as("routingKey"),
      (lit(1704067200000L) + col("id")).as("eventTime"),
      encode(concat(lit(tag), col("id") + base), "UTF-8").as("payload"))
    g.writeEvents("s", "a", batch("a", 200))
    val fromA = g.catalog.getStream("s", "a").tailCut
    g.writeEvents("s", "a", batch("a", 150, base = 200))
    g.writeEvents("s", "b", batch("b", 400))

    // single-stream bounded read: (fromStreamCut, tail]
    val one = spark.read.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("stream", "a")
      .option("fromStreamCut", cutJson(fromA))
      .load()
    assert(one.count() === 150L)
    assert(!one.columns.contains("stream"))
    // matches a plain parquet read of the manifest's files, same bounds
    assert(one.count() === ReferenceRead.events(g, "s", "a", from = fromA).count())

    // multi-stream batch read with identity column
    val both = spark.read.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("streams", "a,b")
      .load()
    val counts = both.groupBy($"stream").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("s/a" -> 350L, "s/b" -> 400L))
    assert(both.select(decode($"payload", "UTF-8")).distinct().count() === 750L)
  }

  test("DSv2 stats: Catalyst auto-broadcasts a small bounded stream read in a join") {
    val root = Files.createTempDirectory("graft-msst").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("s")
    g.catalog.createStream("s", "dim", StreamConfig(initialSegments = 1))
    g.writeEvents("s", "dim", spark.range(50).select(
      col("id").cast("string").as("routingKey"), col("id").as("eventTime"),
      encode(col("id").cast("string"), "UTF-8").as("payload")))
    val dim = spark.read.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("stream", "dim").load()
      .select($"routingKey", $"eventTime")
    val fact = spark.range(100000).select(($"id" % 50).cast("string").as("routingKey"), $"id")
    val joined = fact.join(dim, "routingKey")
    // manifest-derived SupportsReportStatistics must make the 50-row
    // stream read broadcastable WITHOUT a manual broadcast() hint
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"small stream side should auto-broadcast from reported stats:\n$plan")
    assert(joined.count() === 100000L)
  }

  test("truncation under a stopped reader fails loudly on resume (TruncatedDataException)") {
    val root = Files.createTempDirectory("graft-mstr").toString
    val out = Files.createTempDirectory("graft-mstr-out").toString
    val ckpt = Files.createTempDirectory("graft-mstr-ck").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("s")
    g.catalog.createStream("s", "a", StreamConfig(initialSegments = 2))
    def batch(n: Int, base: Int = 0) = spark.range(n).select(
      concat(lit("k"), col("id") % 4).as("routingKey"),
      (lit(1704067200000L) + col("id") + base).as("eventTime"),
      encode((col("id") + base).cast("string"), "UTF-8").as("payload"))
    g.writeEvents("s", "a", batch(300))

    def start() = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("stream", "a")
      .load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop()

    // truncate PAST the checkpointed position while the reader is down
    g.writeEvents("s", "a", batch(300, base = 300))
    val cut = g.catalog.getStream("s", "a").tailCut
    g.catalog.truncateStream("s", "a", cut, graceMillis = 0L)
    g.catalog.sweepDeletes("s", "a")

    val q2 = start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
      q2.awaitTermination(30000)
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(_.isInstanceOf[graft.core.TruncatedDataException]),
      s"resume below the head cut must raise TruncatedDataException, got: $ex")

    // batch surface agrees: explicit from below head throws too
    assertThrows[graft.core.TruncatedDataException] {
      spark.read.format("graft-stream")
        .option("rootDir", root).option("scope", "s").option("stream", "a")
        .option("fromStreamCut", """{"0":0,"1":0}""")
        .load().count()
    }
  }

  test("multi-stream group with a chunked large event: whole payload, correct stream column") {
    val root = Files.createTempDirectory("graft-msbig").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("s")
    g.catalog.createStream("s", "a", StreamConfig(initialSegments = 2))
    g.catalog.createStream("s", "b", StreamConfig(initialSegments = 2))
    def batch(tag: String, n: Int) = spark.range(n).select(
      concat(lit(tag), col("id") % 4).as("routingKey"),
      (lit(1704067200000L) + col("id")).as("eventTime"),
      encode(concat(lit(tag), col("id")), "UTF-8").as("payload"))
    g.writeEvents("s", "a", batch("a", 120))
    val unit = "0123456789abcdef"
    val reps = (9 * 1024 * 1024 / 16) + 7
    g.writeEvents("s", "a", spark.range(1).select(
      lit("big").as("routingKey"), lit(5L).as("eventTime"),
      encode(repeat(lit(unit), (col("id") + reps).cast("int")), "UTF-8").as("payload")))
    g.writeEvents("s", "b", batch("b", 80))

    val q = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("streams", "a,b")
      .load()
      .writeStream.format("memory").queryName("msbig").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-msbig-ck").toString)
      .start()
    try {
      q.processAllAvailable()
      val t = spark.table("msbig")
      assert(t.count() === 201L, "120 + 80 small + ONE reassembled large event")
      // stream identity survives the reassembling reader for EVERY row
      val byStream = t.groupBy($"stream").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byStream == Map("s/a" -> 121L, "s/b" -> 80L))
      val big = t.filter($"routingKey" === "big")
        .select(length($"payload"), $"stream").head()
      assert(big.getInt(0) === reps * 16 && big.getString(1) === "s/a")
      // small pass-through rows keep exact payloads (no schema skew)
      assert(t.filter($"stream" === "s/b")
        .select(decode($"payload", "UTF-8")).distinct().count() === 80L)
    } finally q.stop()
  }

  test("scale on ONE group member mid-query: its cut grows segments, the other is untouched") {
    val root = Files.createTempDirectory("graft-mssc").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("s")
    g.catalog.createStream("s", "a", StreamConfig(initialSegments = 2))
    g.catalog.createStream("s", "b", StreamConfig(initialSegments = 2))
    def batch(tag: String, n: Int, base: Int = 0) = spark.range(n).select(
      concat(lit(tag), col("id") % 8).as("routingKey"),
      (lit(1704067200000L) + col("id")).as("eventTime"),
      encode(concat(lit(tag), col("id") + base), "UTF-8").as("payload"))
    g.writeEvents("s", "a", batch("a", 200))
    g.writeEvents("s", "b", batch("b", 200))

    val q = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("streams", "a,b")
      .load()
      .writeStream.format("memory").queryName("mssc").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-mssc-ck").toString)
      .start()
    try {
      q.processAllAvailable()
      // epoch change on b only, then data lands on BOTH post-scale
      g.scaleStream("s", "b", 5)
      g.writeEvents("s", "a", batch("a", 100, base = 200))
      g.writeEvents("s", "b", batch("b", 150, base = 200))
      q.processAllAvailable()
      val t = spark.table("mssc")
      val byStream = t.groupBy($"stream").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byStream == Map("s/a" -> 300L, "s/b" -> 350L))
      assert(t.select(decode($"payload", "UTF-8")).distinct().count() === 650L,
        "exactly-once across the epoch hand-off on one group member")
      // the checkpointed composite offset carries b's new epoch segments
      val last = q.lastProgress.sources.head.endOffset
      val cuts = GraftStreamOffset.parse(last, "s/a")
      assert(cuts("s/b").positions.size > cuts("s/a").positions.size,
        s"b's cut must include post-scale segments: $last")
    } finally q.stop()
  }

  test("one query consumes two streams; per-source offsets checkpoint independently") {
    val root = Files.createTempDirectory("graft-ms").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("s")
    g.catalog.createStream("s", "a", StreamConfig(initialSegments = 2))
    g.catalog.createStream("s", "b", StreamConfig(initialSegments = 3))

    def batch(tag: String, n: Int) = spark.range(n).select(
      concat(lit(tag), col("id") % 4).as("routingKey"),
      (lit(1704067200000L) + col("id")).as("eventTime"),
      encode(lit(tag), "UTF-8").as("payload"))

    g.writeEvents("s", "a", batch("a", 300))
    g.writeEvents("s", "b", batch("b", 500))

    def src(stream: String) = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("stream", stream)
      .load().withColumn("stream", lit(stream))

    val ckpt = Files.createTempDirectory("graft-ms-ck").toString
    val q = src("a").unionByName(src("b"))
      .writeStream.format("memory").queryName("multi").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val counts = spark.table("multi").groupBy($"stream").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("a" -> 300L, "b" -> 500L))
      // more data on only one stream → only that source advances
      g.writeEvents("s", "b", batch("b", 100))
      q.processAllAvailable()
      val counts2 = spark.table("multi").groupBy($"stream").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts2 == Map("a" -> 300L, "b" -> 600L))
    } finally q.stop()
  }
}
