package graft.sources

import graft.SparkTestSession
import graft.core.StreamConfig
import graft.storage.GraftStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** DSv2 write path: INSERT INTO / INSERT OVERWRITE / TRUNCATE TABLE /
  * df.write / writeStream.format("graft-stream") all land events through
  * the engine write path (EventStreamWriter.java:75 surface through SQL),
  * with exactly-once on epoch redelivery.
  */
class GraftWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val root: String = {
    val dir = Files.createTempDirectory("graft-wsql").toString
    spark.conf.set("spark.sql.catalog.gw", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gw.rootDir", dir)
    dir
  }

  private def mkStream(scope: String, stream: String, segments: Int = 2): GraftStreams = {
    val g = new GraftStreams(spark, root)
    if (!g.catalog.scopeExists(scope)) g.catalog.createScope(scope)
    g.catalog.createStream(scope, stream, StreamConfig(initialSegments = segments))
    g
  }

  private def events(n: Int, from: Int = 0): DataFrame =
    spark.range(from, from + n).select(
      concat(lit("k"), col("id") % 5).as("routingKey"),
      col("id").as("eventTime"),
      encode(col("id").cast("string"), "UTF-8").as("payload"))

  test("INSERT INTO by name, positionally, and via VALUES") {
    val g = mkStream("w1", "ev")
    events(100).createOrReplaceTempView("src_named")

    // 3-column by-name SELECT
    spark.sql("INSERT INTO gw.w1.ev SELECT routingKey, eventTime, payload FROM src_named")
    assert(spark.sql("SELECT count(*) FROM gw.w1.ev").head().getLong(0) === 100L)

    // positional VALUES (string, long, binary)
    spark.sql("INSERT INTO gw.w1.ev VALUES ('kx', 1000L, X'AB'), ('ky', 1001L, X'CD')")
    assert(spark.sql("SELECT count(*) FROM gw.w1.ev").head().getLong(0) === 102L)

    // full 6-column shape: SELECT * from another graft read round-trips;
    // engine-assigned columns are ignored on write
    spark.sql("INSERT INTO gw.w1.ev SELECT * FROM gw.w1.ev WHERE routingKey = 'kx'")
    assert(spark.sql("SELECT count(*) FROM gw.w1.ev WHERE routingKey = 'kx'")
      .head().getLong(0) === 2L)

    // events are real engine rows: readable via the Scala API with
    // assigned offsets
    val rows = g.readEvents("w1", "ev")
    assert(rows.count() === 103L)
    assert(rows.select("segmentId").distinct().count() === 2L)
  }

  test("INSERT OVERWRITE truncates to tail then appends; TRUNCATE TABLE empties") {
    val g = mkStream("w2", "ev")
    spark.sql("INSERT INTO gw.w2.ev VALUES ('a', 1L, X'01'), ('b', 2L, X'02')")
    events(50).createOrReplaceTempView("src_ow")
    spark.sql("INSERT OVERWRITE gw.w2.ev SELECT routingKey, eventTime, payload FROM src_ow")
    assert(spark.sql("SELECT count(*) FROM gw.w2.ev").head().getLong(0) === 50L)
    // truncation is a head-cut rise with tombstones, not a sync delete
    assert(g.catalog.getStream("w2", "ev").pendingDeletes.nonEmpty)

    spark.sql("TRUNCATE TABLE gw.w2.ev")
    assert(spark.sql("SELECT count(*) FROM gw.w2.ev").head().getLong(0) === 0L)
  }

  test("df.write.format append through the path-based provider") {
    mkStream("w3", "ev")
    events(80).write.format("graft-stream")
      .option("rootDir", root).option("scope", "w3").option("stream", "ev")
      .mode("append").save()
    val back = spark.read.format("graft-stream")
      .option("rootDir", root).option("scope", "w3").option("stream", "ev").load()
    assert(back.count() === 80L)
  }

  test("bad write shapes fail at plan time with the expected shapes named") {
    mkStream("w4", "ev")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gw.w4.ev VALUES (1, 2)")
    }
    assert(e.getMessage.contains("routingKey"))
  }

  test("writeStream sink: graft-to-graft streaming copy, AvailableNow") {
    val g = mkStream("w5", "src")
    mkStream("w5", "dst")
    g.writeEvents("w5", "src", events(600))
    val ckpt = Files.createTempDirectory("graft-wck").toString

    val q = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "w5").option("stream", "src")
      .option("maxRowsPerTrigger", "250")
      .load()
      .select("routingKey", "eventTime", "payload")
      .writeStream.format("graft-stream")
      .option("rootDir", root).option("scope", "w5").option("stream", "dst")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val dst = g.readEvents("w5", "dst")
    assert(dst.count() === 600L)
    // per-event content survives: same multiset of (routingKey, payload)
    val a = g.readEvents("w5", "src").select($"routingKey", $"eventTime", $"payload")
      .as[(String, Long, Array[Byte])].collect()
      .map(t => (t._1, t._2, t._3.map("%02x".format(_)).mkString)).sorted
    val b = dst.select($"routingKey", $"eventTime", $"payload")
      .as[(String, Long, Array[Byte])].collect()
      .map(t => (t._1, t._2, t._3.map("%02x".format(_)).mkString)).sorted
    assert(a.toSeq === b.toSeq)
    // sink auto-notes the writer mark from the batch max eventTime
    assert(g.catalog.getStream("w5", "dst").writerMarks.nonEmpty)
    // epoch staging dirs are cleaned up after commit
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dataDir = g.catalog.dataDir("w5", "dst")
    val leftover = fs.listStatus(dataDir)
      .filter(_.getPath.getName.startsWith("sinkstage-"))
      .flatMap(d => fs.listStatus(d.getPath))
    assert(leftover.isEmpty, s"staging leftovers: ${leftover.map(_.getPath).mkString(",")}")
  }

  test("writeStream.toTable routes through the catalog's STREAMING_WRITE") {
    val g = mkStream("w8", "src")
    mkStream("w8", "dst")
    g.writeEvents("w8", "src", events(120))
    val ckpt = Files.createTempDirectory("graft-wtt").toString
    val q = spark.readStream.table("gw.w8.src")
      .select("routingKey", "eventTime", "payload")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("gw.w8.dst")
    q.awaitTermination(120000)
    assert(spark.sql("SELECT count(*) FROM gw.w8.dst").head().getLong(0) === 120L)
    assert(g.readEvents("w8", "dst").count() === 120L)
  }

  test("redelivered epoch commits exactly once") {
    val g = mkStream("w6", "ev")
    val conf = GraftSourceConfig(root, Seq(StreamSub("w6", "ev", None, None)), None)
    val sw = new GraftStreamingWrite(conf, "q-redeliver",
      GraftWriteMapping.writeSchema, autoNoteTime = true)

    def stage(tag: String): Array[org.apache.spark.sql.connector.write.WriterCommitMessage] = {
      val dir = Files.createTempDirectory(s"graft-stage-$tag").toString + "/data"
      events(40).write.parquet(dir)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val paths = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath.toString).toSeq
      Array(GraftStagedFiles(paths, 40L))
    }

    sw.commit(7L, stage("a"))
    assert(g.readEvents("w6", "ev").count() === 40L)
    // Spark redelivers epoch 7 after a crash: fresh staged files, same
    // epoch id — the engine's writer-batch dedup makes it a no-op
    sw.commit(7L, stage("b"))
    assert(g.readEvents("w6", "ev").count() === 40L)
    // the next epoch lands
    sw.commit(8L, stage("c"))
    assert(g.readEvents("w6", "ev").count() === 80L)
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES maps onto updateStream + tags") {
    val g = mkStream("w7", "ev")
    spark.sql("ALTER TABLE gw.w7.ev SET TBLPROPERTIES " +
      "('tags' = 'gold,ml', 'minSegments' = '3', 'targetRatePerSegment' = '500')")
    val m = g.catalog.getStream("w7", "ev")
    assert(m.tags === Set("gold", "ml"))
    assert(m.config.minSegments === 3)
    assert(m.config.targetRatePerSegment === 500L)
    assert(g.catalog.listStreamsByTag("w7", "gold") === Seq("ev"))

    // the policy update takes effect at the next scale evaluation: with
    // minSegments=3 the idle 2-segment stream may not merge down; after
    // ALTER lowers the floor to 1, the SAME evaluation merges the cold
    // pair (UpdateStreamTask semantics: config lands now, the scale
    // decision applies it on its next pass)
    val scaler = new graft.storage.AutoScaler(g)
    val later = System.currentTimeMillis() + 48L * 3600 * 1000
    assert(scaler.evaluate("w7", "ev", later).isEmpty)
    spark.sql("ALTER TABLE gw.w7.ev SET TBLPROPERTIES ('minSegments' = '1')")
    assert(scaler.evaluate("w7", "ev", later).nonEmpty)
    assert(g.catalog.getStream("w7", "ev").openSegments.size === 1)

    spark.sql("ALTER TABLE gw.w7.ev UNSET TBLPROPERTIES ('tags')")
    assert(g.catalog.getStream("w7", "ev").tags.isEmpty)

    val e = intercept[Exception] {
      spark.sql("ALTER TABLE gw.w7.ev SET TBLPROPERTIES ('nope' = '1')")
    }
    assert(e.getMessage.contains("unknown graft stream property"))

    // A malformed value fails fast with a typed error naming the property,
    // BEFORE the manifest CAS runs — never a raw NumberFormatException,
    // and never a partially-applied edit.
    val before = g.catalog.getStream("w7", "ev")
    val bad = intercept[Exception] {
      spark.sql("ALTER TABLE gw.w7.ev SET TBLPROPERTIES " +
        "('retentionMillis' = 'forever', 'minSegments' = '2')")
    }
    def rootMsg(t: Throwable): String =
      Option(t.getCause).map(rootMsg).getOrElse(t.getMessage)
    assert(rootMsg(bad).contains("retentionMillis"), rootMsg(bad))
    assert(rootMsg(bad).contains("long integer"), rootMsg(bad))
    val after = g.catalog.getStream("w7", "ev")
    assert(after.config === before.config, "no partial edit may land")
  }
}
