package graft.sources

import graft.SparkTestSession
import graft.core._
import graft.storage.GraftStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.streaming.{ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** checkpoint-resume + watermark fixtures (FIXTURES.md) mirroring
  * CheckpointTest / ReaderCheckpointTest / ControllerWatermarkingTest.
  */
class StreamingSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mk(): (GraftStreams, String) = {
    val root = Files.createTempDirectory("graft-ss").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("s")
    g.catalog.createStream("s", "ev", StreamConfig(initialSegments = 3))
    (g, root)
  }

  private def batch(tag: String, n: Int, t0: Long = 1704067200000L): DataFrame =
    spark.range(n).select(
      concat(lit(s"$tag-"), col("id") % 9).as("routingKey"),
      (lit(t0) + col("id")).as("eventTime"),
      encode(concat(lit(tag), lit("#"), col("id")), "UTF-8").as("payload"))

  private def readStreamDF(root: String) =
    spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("stream", "ev")
      .load()

  test("micro-batch read: incremental, exactly-once into memory sink") {
    val (g, root) = mk()
    g.writeEvents("s", "ev", batch("a", 900))

    val q = readStreamDF(root).writeStream
      .format("memory").queryName("mem1").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("mem1").count() == 900L)
      g.writeEvents("s", "ev", batch("b", 600))
      q.processAllAvailable()
      val all = spark.table("mem1")
      assert(all.count() == 1500L)
      assert(all.groupBy($"segmentId", $"offset").count().filter($"count" > 1).count() == 0,
        "duplicate delivery")
    } finally q.stop()
  }

  test("maxRowsPerTrigger paces batches like read throttling") {
    val (g, root) = mk()
    g.writeEvents("s", "ev", batch("a", 1200))
    val q = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("stream", "ev")
      .option("maxRowsPerTrigger", "300")
      .load()
      .writeStream.format("memory").queryName("mem2").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("mem2").count() == 1200L)
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 3, s"expected pacing into >=3 non-empty batches, got $batches")
    } finally q.stop()
  }

  test("a per-read option wins over the table's own value of the key") {
    val (_, root) = mk()
    val props = new java.util.HashMap[String, String]()
    Seq("rootDir" -> root, "scope" -> "s", "stream" -> "ev", "maxRowsPerTrigger" -> "5")
      .foreach { case (k, v) => props.put(k, v) }
    val scan = new GraftStreamTable(props)
      .newScanBuilder(new CaseInsensitiveStringMap(java.util.Map.of("maxRowsPerTrigger", "2")))
      .build()
    val stream = scan.toMicroBatchStream(Files.createTempDirectory("graft-ss-ckpt").toString)
    try stream.asInstanceOf[SupportsAdmissionControl].getDefaultReadLimit match {
      case m: ReadMaxRows => assert(m.maxRows() == 2L)
      case other => fail(s"read limit $other")
    } finally stream.stop()
  }

  test("maxBytesPerTrigger paces by manifest byte stats; min wins with a row cap") {
    val (g, root) = mk()
    g.writeEvents("s", "ev", batch("a", 1200)) // payloads ~6-10 B each
    def run(name: String, opts: (String, String)*): Int = {
      val r = spark.readStream.format("graft-stream")
        .option("rootDir", root).option("scope", "s").option("stream", "ev")
      opts.foreach { case (k, v) => r.option(k, v) }
      val q = r.load()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table(name).count() == 1200L, "byte pacing must still drain everything")
        assert(spark.table(name).groupBy($"segmentId", $"offset").count()
          .filter($"count" > 1).count() == 0, "duplicate delivery")
        q.recentProgress.count(_.numInputRows > 0)
      } finally q.stop()
    }
    // a budget far below the total byte volume forces multiple batches
    val paced = run("membytes", "maxBytesPerTrigger" -> "4096")
    assert(paced >= 3, s"expected byte pacing into >=3 non-empty batches, got $paced")
    // combined caps: the tighter (row) cap dominates a loose byte cap
    val both = run("memboth", "maxBytesPerTrigger" -> "10000000", "maxRowsPerTrigger" -> "300")
    assert(both >= 3, s"row cap must still pace when the byte cap is loose, got $both")
  }

  test("checkpoint-resume: restart yields the exact remainder, no loss/dup") {
    val (g, root) = mk()
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val out = Files.createTempDirectory("graft-out").toString

    g.writeEvents("s", "ev", batch("first", 500))
    val q1 = readStreamDF(root).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    q1.processAllAvailable()
    q1.stop()

    g.writeEvents("s", "ev", batch("second", 700))
    val q2 = readStreamDF(root).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    q2.processAllAvailable()
    q2.stop()

    val res = spark.read.parquet(out)
    assert(res.count() == 1200L)
    assert(res.groupBy($"segmentId", $"offset").count().filter($"count" > 1).count() == 0)
  }

  test("throttled restart: announced offsets never regress below the checkpoint") {
    // Regression: lastEnd was in-memory only, so a restart with all
    // batches committed re-derived the throttled cut from the stream head
    // and re-delivered processed rows. The cut now persists under the
    // source's metadataPath inside the checkpoint.
    val (g, root) = mk()
    val ckpt = Files.createTempDirectory("graft-ckpt-thr").toString
    val out = Files.createTempDirectory("graft-out-thr").toString
    def throttled() = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("stream", "ev")
      .option("maxRowsPerTrigger", "150")
      .load()

    g.writeEvents("s", "ev", batch("first", 600))
    val q1 = throttled().writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    q1.processAllAvailable()
    q1.stop()

    g.writeEvents("s", "ev", batch("second", 600))
    val q2 = throttled().writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    q2.processAllAvailable()
    q2.stop()

    val res = spark.read.parquet(out)
    assert(res.count() == 1200L, "lost or duplicated rows across throttled restart")
    assert(res.groupBy($"segmentId", $"offset").count().filter($"count" > 1).count() == 0,
      "re-delivered rows below the checkpointed cut")
  }

  test("Trigger.AvailableNow: paged catch-up drains the backlog then stops") {
    // the batch-client catch-up shape: process everything available in
    // throttled pages, then terminate — no manual stop
    val (g, root) = mk()
    g.writeEvents("s", "ev", batch("a", 900))
    val q = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("stream", "ev")
      .option("maxRowsPerTrigger", "300")
      .load()
      .writeStream.format("memory").queryName("avnow").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    assert(spark.table("avnow").count() == 900L)
    assert(spark.table("avnow")
      .groupBy($"segmentId", $"offset").count().filter($"count" > 1).count() == 0)
  }

  test("stream-to-stream pipeline via exactly-once foreachBatch sink") {
    val (g, root) = mk()
    g.catalog.createStream("s", "out", StreamConfig(initialSegments = 2))
    g.writeEvents("s", "ev", batch("x", 400))

    val q = readStreamDF(root)
      .select($"routingKey", $"eventTime", $"payload")
      .writeStream
      .foreachBatch(GraftStreamSink.writer(g, "s", "out", "pipe-1"))
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt2").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(g.readEvents("s", "out").count() == 400L)
      // writer mark noted from batch max eventTime (auto noteTime)
      val tw = g.timeWindow("s", "out")
      assert(tw.exists(_._2 == 1704067200000L + 399))
    } finally q.stop()
  }

  test("scale mid-query: the source follows the new epoch, exactly-once across epochs") {
    val (g, root) = mk()
    val ckpt = Files.createTempDirectory("graft-ckpt-scale").toString
    val out = Files.createTempDirectory("graft-out-scale").toString
    g.writeEvents("s", "ev", batch("pre", 400))

    val q = readStreamDF(root).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      // epoch change while the query runs: seal epoch-0, open epoch-1
      g.scaleStream("s", "ev", 5)
      g.writeEvents("s", "ev", batch("post", 500))
      q.processAllAvailable()

      val res = spark.read.parquet(out)
      assert(res.count() == 900L, "rows lost or duplicated across the scale event")
      assert(res.groupBy($"segmentId", $"offset").count().filter($"count" > 1).count() == 0)
      // post-scale rows landed in epoch-1 segments only
      val postEpochs = res.filter(decode($"payload", "UTF-8").startsWith("post"))
        .select(shiftrightunsigned($"segmentId", 32).as("epoch"))
        .distinct().collect().map(_.getLong(0)).toSet
      assert(postEpochs == Set(1L), s"post-scale rows in epochs $postEpochs")
    } finally q.stop()
  }

  test("watermark bounds: idle writers drop out of the lower bound") {
    val (g, _) = mk()
    g.noteTime("s", "ev", "w1", 1000L)
    g.noteTime("s", "ev", "w2", 5000L)
    assert(g.timeWindow("s", "ev") == Some((1000L, 5000L)))
    // marks are monotonic per writer
    g.noteTime("s", "ev", "w1", 500L)
    assert(g.timeWindow("s", "ev") == Some((1000L, 5000L)))
    g.noteTime("s", "ev", "w1", 9000L)
    assert(g.timeWindow("s", "ev") == Some((5000L, 9000L)))
    // timeout 0 → everyone idle → fall back to all marks
    assert(g.timeWindow("s", "ev", timeoutMillis = -1) == Some((5000L, 9000L)))
    g.removeWriter("s", "ev", "w2")
    assert(g.timeWindow("s", "ev") == Some((9000L, 9000L)))
  }

  test("paced drain respects segment lineage: children never precede their parents' last batch") {
    // the SegmentCompleted analog (ReaderGroupState.java:966): under
    // pacing, post-scale segments must not enter an EARLIER micro-batch
    // than the final rows of their parents — cross-batch epoch disorder
    // cannot be repaired by any consumer sort
    val (g, root) = mk()
    g.writeEvents("s", "ev", batch("pre", 600))
    g.scaleStream("s", "ev", 5)
    g.writeEvents("s", "ev", batch("post", 400, t0 = 1704067300000L))

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]() // (batchId, segmentId)
    val q = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("stream", "ev")
      .option("maxRowsPerTrigger", "120")
      .load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-lin-ck").toString)
      .foreachBatch { (df: DataFrame, id: Long) =>
        df.select($"segmentId").distinct().collect()
          .foreach(r => seen.add(id -> r.getLong(0)))
        ()
      }.start()
    try {
      q.processAllAvailable()
      val meta = g.catalog.getStream("s", "ev")
      val parentsOf = meta.segments.map(s => s.segmentId -> s.parents).toMap
      val pairs = seen.toArray(Array.empty[(Long, Long)])
      assert(pairs.nonEmpty && pairs.map(_._1).distinct.length > 3, "expected a multi-batch drain")
      val firstBatch = pairs.groupBy(_._2).map { case (sid, xs) => sid -> xs.map(_._1).min }
      val lastBatch = pairs.groupBy(_._2).map { case (sid, xs) => sid -> xs.map(_._1).max }
      for ((sid, parents) <- parentsOf; p <- parents; if firstBatch.contains(sid)) {
        assert(lastBatch.contains(p), s"child $sid delivered but parent $p never was")
        assert(firstBatch(sid) > lastBatch(p),
          s"child segment $sid entered batch ${firstBatch(sid)} before parent $p finished (${lastBatch(p)})")
      }
    } finally q.stop()
  }

  test("streaming delivers large (>MaxEventSize) events WHOLE, even under pacing") {
    val (g, root) = mk()
    // 300 small events around one 9.5 MiB event (2 chunks at rest)
    g.writeEvents("s", "ev", batch("pre", 150))
    val unit = "0123456789abcdef" // 16 B
    val reps = (9.5 * 1024 * 1024 / 16).toInt
    g.writeEvents("s", "ev", spark.range(1).select(
      lit("big-key").as("routingKey"), lit(42L).as("eventTime"),
      encode(repeat(lit(unit), (col("id") + reps).cast("int")), "UTF-8").as("payload")))
    g.writeEvents("s", "ev", batch("post", 150))

    // pace far below the chunked file's row-neighborhood: the cut must
    // snap around the chunk group instead of splitting it
    val q = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("stream", "ev")
      .option("maxRowsPerTrigger", "40")
      .load()
      .writeStream.format("memory").queryName("bigev").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-big-ck").toString)
      .start()
    try {
      q.processAllAvailable()
      val t = spark.table("bigev")
      assert(t.count() === 301L, "150 + 150 small + ONE reassembled large event")
      val big = t.filter($"routingKey" === "big-key")
        .select(length($"payload").as("len"), md5($"payload").as("digest")).head()
      assert(big.getInt(0) === reps * 16, "large event must arrive whole")
      val expected = spark.range(1).select(
        md5(encode(repeat(lit(unit), reps), "UTF-8"))).head().getString(0)
      assert(big.getString(1) === expected, "payload must be byte-exact")
      // exactly-once for the small neighbors too
      assert(t.select($"routingKey", $"eventTime").distinct().count() === 301L)
    } finally q.stop()
  }

  test("a toStreamCut slicing inside a chunk file drains (whole file), never stalls") {
    val (g, root) = mk()
    g.catalog.createStream("s", "one", StreamConfig(initialSegments = 1))
    def small(tag: String, n: Int) = spark.range(n).select(
      lit(tag).as("routingKey"), col("id").as("eventTime"),
      encode(concat(lit(tag), col("id")), "UTF-8").as("payload"))
    g.writeEvents("s", "one", small("pre", 30))
    val unit = "0123456789abcdef"
    val reps = (9.5 * 1024 * 1024 / 16).toInt
    g.writeEvents("s", "one", spark.range(1).select(
      lit("big-key").as("routingKey"), lit(42L).as("eventTime"),
      encode(repeat(lit(unit), (col("id") + reps).cast("int")), "UTF-8").as("payload")))
    g.writeEvents("s", "one", small("post", 30))

    val sid = g.catalog.getStream("s", "one").segments.head.segmentId
    // offsets: pre [0,30), big chunks [30,32), post [32,62) — the end
    // bound at 31 slices INSIDE the chunk group's file
    val q = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("stream", "one")
      .option("toStreamCut", s"""{"$sid":31}""")
      .option("maxRowsPerTrigger", "10")
      .load()
      .writeStream.format("memory").queryName("slicecut").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-slc-ck").toString)
      .start()
    try {
      q.processAllAvailable()
      val t = spark.table("slicecut")
      // the bound is final, so the chunk file is swallowed whole (batch
      // parity: the whole group whose head is below the bound) — the 30
      // pre events plus ONE whole big event, none of the post events
      assert(t.count() === 31L, "expected pre + whole big event")
      assert(t.filter($"routingKey" === "big-key").count() === 1L)
      assert(t.filter($"routingKey" === "post").count() === 0L)
    } finally q.stop()
  }

  test("a broken chunk group drops, but the row that broke it is re-examined") {
    val (g, root) = mk()
    g.catalog.createStream("s", "brk", StreamConfig(initialSegments = 1))
    def small(tag: String, n: Int) = spark.range(n).select(
      lit(tag).as("routingKey"), col("id").as("eventTime"),
      encode(concat(lit(tag), col("id")), "UTF-8").as("payload"))
    g.writeEvents("s", "brk", small("pre", 3))
    val unit = "0123456789abcdef"
    val reps = (9.5 * 1024 * 1024 / 16).toInt
    g.writeEvents("s", "brk", spark.range(1).select(
      lit("big-key").as("routingKey"), lit(42L).as("eventTime"),
      encode(repeat(lit(unit), (col("id") + reps).cast("int")), "UTF-8").as("payload")))
    g.writeEvents("s", "brk", small("post", 3))

    // corrupt the chunk file at rest: keep the group head (chunkSeq 0 of
    // 2) but replace the second chunk with a VALID single event — the
    // silent-loss shape from the round-6 advice (the mismatched row that
    // ends a broken group could itself be a real event)
    val meta = g.catalog.getStream("s", "brk")
    val chunkFile = meta.files.find(_.maxChunkCount > 1).get
    val df = spark.read.schema(GraftStreams.storageSchema).parquet(chunkFile.path)
    val head = df.filter($"chunkSeq" === 0)
    val rescued = head.select($"segmentId", ($"offset" + 1).as("offset"),
      lit("rescue-key").as("routingKey"), lit(7L).as("eventTime"),
      $"processingTime", encode(lit("rescued"), "UTF-8").as("payload"),
      lit(null).cast("int").as("chunkSeq"), lit(null).cast("int").as("chunkCount"))
    val tmp = Files.createTempDirectory("graft-brk").toString + "/out"
    head.union(rescued).orderBy($"offset").coalesce(1).write.parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.delete(new org.apache.hadoop.fs.Path(chunkFile.path), false)
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs,
      new org.apache.hadoop.fs.Path(chunkFile.path), false, fs.getConf)

    val q = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("stream", "brk")
      .load()
      .writeStream.format("memory").queryName("brkgrp").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-brk-ck").toString)
      .start()
    try {
      q.processAllAvailable()
      val t = spark.table("brkgrp")
      // incomplete group dropped; its breaking row delivered, not lost
      assert(t.filter($"routingKey" === "big-key").count() === 0L)
      assert(t.filter($"routingKey" === "rescue-key").count() === 1L)
      assert(t.count() === 7L, "3 pre + 3 post + the rescued row")
    } finally q.stop()
  }
}
