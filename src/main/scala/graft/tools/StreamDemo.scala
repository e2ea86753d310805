package graft.tools

import graft.core._
import graft.storage.{AutoScaler, GraftStreams, Retention}
import org.apache.spark.sql.functions._

/** Runnable end-to-end demo of the stream engine's public API: create →
  * write → bounded read → scale → truncate. Usage:
  * runMain graft.tools.StreamDemo [workDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val spark = graft.util.LocalSession(defaultCpus = 8)

    val g = new GraftStreams(spark, work)
    g.catalog.createScope("demo")
    g.catalog.createStream("demo", "clicks", StreamConfig(initialSegments = 4))

    val events = spark.range(10000).select(
      concat(lit("user-"), col("id") % 50).as("routingKey"),
      (lit(1704067200000L) + col("id") * 250).as("eventTime"),
      encode(concat(lit("click-"), col("id")), "UTF-8").as("payload"))
    val tail = g.writeEvents("demo", "clicks", events, Some("demo-writer"), Some(1L))
    println(s"[demo] wrote 10000 events; tail cut = ${tail.positions.toSeq.sorted}")

    val total = g.readEvents("demo", "clicks").count()
    val head = g.catalog.getStream("demo", "clicks").headStreamCut
    val mid = g.nextStreamCut("demo", "clicks", head, 4000)
    val bounded = g.readEvents("demo", "clicks", head, mid).count()
    println(s"[demo] total=$total boundedBelowMid=$bounded distance=${g.distance("demo", "clicks", head, mid)}")

    g.scaleStream("demo", "clicks", 6)
    g.writeEvents("demo", "clicks", events, Some("demo-writer"), Some(2L))
    val afterScale = g.readEventsOrdered("demo", "clicks").count()
    val epochs = g.catalog.getStream("demo", "clicks").epochs.map(_.epoch)
    println(s"[demo] after scale: rows=$afterScale epochs=$epochs")

    g.catalog.truncateStream("demo", "clicks", mid)
    val afterTrunc = g.readEvents("demo", "clicks").count()
    println(s"[demo] after truncate at mid: rows=$afterTrunc (expected ${afterScale - bounded})")

    val probe = g.fetchEvent("demo", "clicks", EventPointer(SegmentId.pack(0, 0), head.positions.getOrElse(SegmentId.pack(0, 0), 0L) + bounded / 4))
      .select("routingKey", "offset").collect()
    println(s"[demo] fetchEvent → ${probe.mkString(",")}")

    // transactions: commit is atomic, abort leaves nothing
    val txn = g.beginTxn("demo", "clicks")
    g.writeToTxn("demo", "clicks", txn, events.limit(1000))
    val duringTxn = g.readEvents("demo", "clicks").count()
    g.commitTxn("demo", "clicks", txn)
    val afterCommit = g.readEvents("demo", "clicks").count()
    val txn2 = g.beginTxn("demo", "clicks")
    g.writeToTxn("demo", "clicks", txn2, events.limit(500))
    g.abortTxn("demo", "clicks", txn2)
    val afterAbort = g.readEvents("demo", "clicks").count()
    println(s"[demo] txn: during=$duringTxn afterCommit=$afterCommit (+1000) afterAbort=$afterAbort (unchanged)")

    // key-value table: conditional updates + sorted scans
    import graft.kv.KeyValueTable
    val t = new KeyValueTable(spark, s"$work/kv", "profiles", partitionCount = 8)
    t.insert(spark.range(100).select(
      concat(lit("user"), format_string("%03d", col("id"))).as("pk"),
      lit("").as("sk"), encode(concat(lit("profile-"), col("id")), "UTF-8").as("value")))
    val vGot = t.get("user042").map(p => new String(p._1))
    val pfx = t.scanPrefix("user00").count()
    println(s"[demo] kv: get(user042)=$vGot prefixCount=$pfx version=${t.currentVersion}")

    // structured streaming: stream → windowed agg → exactly-once sink stream
    g.catalog.createStream("demo", "derived", StreamConfig(initialSegments = 2))
    val q = spark.readStream.format("graft-stream")
      .option("rootDir", work).option("scope", "demo").option("stream", "clicks")
      .option("maxRowsPerTrigger", "5000")
      .load()
      .select(col("routingKey"), col("eventTime"), col("payload"))
      .writeStream
      .foreachBatch(graft.sources.GraftStreamSink.writer(g, "demo", "derived", "demo-pipe"))
      .option("checkpointLocation", s"$work/_ckpt")
      .start()
    q.processAllAvailable()
    q.stop()
    val derived = g.readEvents("demo", "derived").count()
    val tw = g.timeWindow("demo", "derived")
    println(s"[demo] streaming: derived=$derived batches=${q.recentProgress.count(_.numInputRows > 0)} timeWindow=$tw")

    // named checkpoint cut + size-based retention + auto-scale evaluation
    g.saveStreamCut("demo", "derived", "checkpoint-A")
    g.catalog.createStream("demo", "retained",
      StreamConfig(initialSegments = 2, retentionMaxRows = 5000, targetRatePerSegment = 10))
    g.writeEvents("demo", "retained", events)
    val rcut = new Retention(g).apply("demo", "retained")
    val kept = g.readEvents("demo", "retained").count()
    val scaled = new AutoScaler(g, cooldownMillis = 0L).evaluate("demo", "retained",
      now = System.currentTimeMillis() + 11 * 60 * 1000)
    println(s"[demo] retention cut=${rcut.isDefined} kept=$kept; autoscale=${scaled.map(_.currentEpoch.epoch)}; checkpointA=${g.getStreamCut("demo", "derived", "checkpoint-A").isDefined}")

    // small-file compaction: many batch files → one per segment
    val (cb, ca) = g.compactStream("demo", "derived")
    println(s"[demo] compaction: files $cb → $ca; rows still ${g.readEvents("demo", "derived").count()}")

    // raw byte stream
    val bs = new graft.storage.ByteStreams(s"$work/bytes")
    bs.create("demo", "blob")
    bs.append("demo", "blob", "raw-bytes-".getBytes)
    bs.append("demo", "blob", "stream".getBytes)
    println(s"[demo] bytestream read='${new String(bs.read("demo", "blob", 0, 100))}' tail=${bs.tail("demo", "blob")}")
    println(s"[demo] OK workDir=$work")
    spark.stop()
  }
}
