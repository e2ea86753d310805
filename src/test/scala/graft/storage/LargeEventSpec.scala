package graft.storage

import graft.SparkTestSession
import graft.core.{EventPointer, StreamConfig, StreamCut}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Large-event (> MAX_EVENT_SIZE) write path — the LargeEventWriter
  * analog (client/.../stream/impl/LargeEventWriter.java:77,99,153):
  * oversized payloads chunk at write, occupy consecutive offsets, and
  * reassemble transparently on the batch read surface.
  */
class LargeEventSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Max = GraftStreams.MaxEventSize

  private def fresh(): (GraftStreams, String) = {
    val root = Files.createTempDirectory("graft-large").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("s")
    g.catalog.createStream("s", "ev", StreamConfig(initialSegments = 2))
    (g, root)
  }

  private def ev(key: String, payload: org.apache.spark.sql.Column) =
    spark.range(1).select(lit(key).as("routingKey"), lit(1L).as("eventTime"),
      encode(payload, "UTF-8").as("payload"))

  test("reject→chunk boundary: exactly MaxEventSize stays one row, +1 byte becomes two chunks") {
    val (g, _) = fresh()
    g.writeEvents("s", "ev",
      ev("exact", repeat(lit("abcdefgh"), Max / 8))
        .union(ev("plus1", concat(repeat(lit("abcdefgh"), Max / 8), lit("x")))))

    val meta = g.catalog.getStream("s", "ev")
    // at rest: 1 + 2 = 3 rows, chunk markers in the footer-derived manifest
    assert(meta.files.map(_.rowCount).sum == 3)
    assert(meta.files.map(_.maxChunkCount).max == 2)

    // outward: exactly the two whole events, byte-identical
    val back = g.readEvents("s", "ev")
      .select($"routingKey", length($"payload").as("len"), md5($"payload").as("d"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(back("exact")._1 == Max)
    assert(back("plus1")._1 == Max + 1)
    val want = spark.range(1).select(
      md5(encode(repeat(lit("abcdefgh"), Max / 8), "UTF-8")).as("a"),
      md5(encode(concat(repeat(lit("abcdefgh"), Max / 8), lit("x")), "UTF-8")).as("b")).head()
    assert(back("exact")._2 == want.getString(0))
    assert(back("plus1")._2 == want.getString(1))
  }

  test("multi-chunk payload round-trips byte-exactly, interleaved with small events") {
    val (g, _) = fresh()
    val smalls = spark.range(100).select(
      concat(lit("k"), $"id" % 7).as("routingKey"), $"id".as("eventTime"),
      encode($"id".cast("string"), "UTF-8").as("payload"))
    g.writeEvents("s", "ev", smalls)
    g.writeEvents("s", "ev", ev("big", repeat(lit("0123456789abcdef"), (Max / 16) * 3 / 2))) // 12 MiB
    g.writeEvents("s", "ev", smalls.withColumn("eventTime", $"eventTime" + 1000))

    val rows = g.readEvents("s", "ev")
    assert(rows.count() == 201, "200 small events + 1 reassembled large event")
    val big = rows.filter($"routingKey" === "big")
      .select(length($"payload"), md5($"payload")).head()
    assert(big.getInt(0) == (Max / 16) * 3 / 2 * 16)
    val want = spark.range(1).select(
      md5(encode(repeat(lit("0123456789abcdef"), (Max / 16) * 3 / 2), "UTF-8"))).head().getString(0)
    assert(big.getString(1) == want)
  }

  test("fetchEvent(EventPointer) addresses a large event by its head chunk") {
    val (g, _) = fresh()
    g.writeEvents("s", "ev", ev("big", concat(repeat(lit("abcdefgh"), Max / 8), lit("tail"))))
    val meta = g.catalog.getStream("s", "ev")
    val seg = meta.files.head.segmentId
    val got = g.fetchEvent("s", "ev", EventPointer(seg, 0L))
      .select(length($"payload")).collect()
    assert(got.length == 1 && got.head.getInt(0) == Max + 4)
    // a pointer into the middle of the chunk span is not an event head
    assert(g.fetchEvent("s", "ev", EventPointer(seg, 1L)).count() == 0)
  }

  test("adjacent ranges cut inside a large event return every event exactly once") {
    val (g, root) = fresh()
    g.catalog.createStream("s", "one", StreamConfig(initialSegments = 1))
    def smalls(tag: String) = spark.range(3).select(concat(lit(tag), $"id").as("routingKey"),
      $"id".as("eventTime"), encode($"id".cast("string"), "UTF-8").as("payload"))
    // one file: 3 small events, a 2-chunk event, 3 small events
    g.writeEvents("s", "one", smalls("a")
      .union(ev("big", concat(repeat(lit("abcdefgh"), Max / 8), lit("z"))))
      .union(smalls("b")).coalesce(1))
    val meta = g.catalog.getStream("s", "one")
    assert(meta.files.size == 1 && meta.files.head.maxChunkCount == 2)
    val sid = meta.segments.head.segmentId
    val head = g.readEvents("s", "one").filter($"routingKey" === "big")
      .select($"offset").head().getLong(0)
    val (a, m, b) = (meta.headStreamCut, StreamCut(Map(sid -> (head + 1))), meta.tailCut)

    def json(c: StreamCut) = c.positions.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    def dsv2(from: StreamCut, to: StreamCut) = spark.read.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("stream", "one")
      .option("fromStreamCut", json(from)).option("toStreamCut", json(to)).load()
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select($"routingKey", length($"payload")).collect().map(r => (r.getString(0), r.getInt(1)))
    val want = (Seq("a0", "a1", "a2", "b0", "b1", "b2").map(_ -> 1) :+ ("big" -> (Max + 1))).sorted
    for ((surface, read) <- Seq[(String, (StreamCut, StreamCut) => org.apache.spark.sql.DataFrame)](
        "readEvents" -> ((f, t) => g.readEvents("s", "one", f, t)), "graft-stream" -> dsv2)) {
      val lower = keys(read(a, m))
      val upper = keys(read(m, b))
      assert(lower.map(_._1).contains("big"), s"$surface: the event whose head is below m")
      assert((lower ++ upper).toSeq.sorted == want, s"$surface: ${lower.toSeq} + ${upper.toSeq}")
    }
  }

  test("large events survive compaction and keep reassembling") {
    val (g, _) = fresh()
    g.writeEvents("s", "ev", ev("big", repeat(lit("zy"), Max / 2 + 8))) // > Max, 2 chunks
    g.writeEvents("s", "ev", ev("small", lit("x")))
    g.writeEvents("s", "ev", ev("small2", lit("y")))
    g.compactStream("s", "ev", minFilesPerSegment = 2)
    val meta = g.catalog.getStream("s", "ev")
    assert(meta.files.map(_.maxChunkCount).max == 2, "chunk markers lost in compaction rewrite")
    val big = g.readEvents("s", "ev").filter($"routingKey" === "big")
      .select(length($"payload")).head()
    assert(big.getInt(0) == Max + 16)
  }
}
