package graft.storage

import graft.SparkTestSession
import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Invariant tests mirroring the reference's integration suite:
  * ReadWriteTest.java:226-272 (exactly-once, uniqueness, per-key order),
  * StreamCutsTest / BoundedStreamReaderTest (bounded reads, truncation),
  * AutoScaleTest (order across epochs).
  */
class GraftStreamsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshStreams(): GraftStreams =
    new GraftStreams(spark, Files.createTempDirectory("graft-data").toString)

  /** ordered-rk fixture: `keys` routing keys × `perKey` events, interleaved
    * in writer order (seed-free: deterministic by construction).
    */
  private def fixture(keys: Int, perKey: Int): DataFrame =
    spark.range(keys.toLong * perKey)
      .select(
        concat(lit("rk-"), col("id") % keys).as("routingKey"),
        (lit(1704067200000L) + col("id") * 1000).as("eventTime"),
        encode(concat(lit("payload-"), col("id")), "UTF-8").as("payload"),
        (col("id") / keys).cast("long").as("seqPerKey"))

  test("ordered-rk: exactly-once, unique offsets, per-key order preserved") {
    val g = freshStreams()
    g.catalog.createScope("sc")
    g.catalog.createStream("sc", "st", StreamConfig(initialSegments = 4))

    val events = fixture(keys = 10, perKey = 1000)
    g.writeEvents("sc", "st", events.drop("seqPerKey"))

    val got = g.readEvents("sc", "st").cache()
    assert(got.count() == 10000L)
    // offsets unique per segment
    assert(got.groupBy($"segmentId", $"offset").count().filter($"count" > 1).count() == 0)
    // offsets contiguous from 0 per segment
    val spans = got.groupBy($"segmentId")
      .agg(min($"offset").as("lo"), max($"offset").as("hi"), count(lit(1)).as("n"))
      .collect()
    spans.foreach(r => assert(r.getAs[Long]("lo") == 0L &&
      r.getAs[Long]("hi") == r.getAs[Long]("n") - 1))
    // per-key order: offsets must increase with the writer's per-key sequence
    val seq = udf((s: Array[Byte]) => new String(s, "UTF-8").stripPrefix("payload-").toLong / 10)
    val misordered = got
      .withColumn("seqPerKey", seq($"payload"))
      .withColumn("rk", $"routingKey")
      .groupBy($"rk")
      .agg(collect_list(struct($"seqPerKey", $"offset")).as("pairs"))
      .as[(String, Seq[(Long, Long)])]
      .map { case (_, pairs) =>
        val sorted = pairs.sortBy(_._1).map(_._2)
        if (sorted == sorted.sorted) 0 else 1
      }.reduce(_ + _)
    assert(misordered == 0, "per-routing-key order violated")
    got.unpersist()
  }

  test("writer idempotence: same (writerId, batchId) commits once") {
    val g = freshStreams()
    g.catalog.createScope("sc")
    g.catalog.createStream("sc", "idem", StreamConfig(initialSegments = 2))
    val ev = fixture(4, 50).drop("seqPerKey")
    g.writeEvents("sc", "idem", ev, writerId = Some("w1"), batchId = Some(1L))
    g.writeEvents("sc", "idem", ev, writerId = Some("w1"), batchId = Some(1L)) // duplicate delivery
    assert(g.readEvents("sc", "idem").count() == 200L)
    g.writeEvents("sc", "idem", ev, writerId = Some("w1"), batchId = Some(2L))
    assert(g.readEvents("sc", "idem").count() == 400L)
  }

  test("bounded cut reads, nextStreamCut, distance, fetchEvent") {
    val g = freshStreams()
    g.catalog.createScope("sc")
    g.catalog.createStream("sc", "cuts", StreamConfig(initialSegments = 2))
    g.writeEvents("sc", "cuts", fixture(6, 100).drop("seqPerKey"))

    val meta = g.catalog.getStream("sc", "cuts")
    val head = meta.headStreamCut
    val tail = meta.tailCut
    assert(g.distance("sc", "cuts", head, tail) == 600L)

    val mid = g.nextStreamCut("sc", "cuts", head, approxRows = 100)
    val below = g.readEvents("sc", "cuts", head, mid).count()
    val above = g.readEvents("sc", "cuts", mid, tail).count()
    assert(below + above == 600L)
    assert(below == g.distance("sc", "cuts", head, mid))

    // cut advance clamps at tail
    val far = g.nextStreamCut("sc", "cuts", tail, approxRows = 100000)
    assert(far == tail)

    // point lookup round-trips the exact row
    val sid = meta.segments.head.segmentId
    val row = g.fetchEvent("sc", "cuts", EventPointer(sid, 5L)).collect()
    assert(row.length == 1 && row.head.getAs[Long]("offset") == 5L)
  }

  test("reader-group metrics: unreadRows / unreadBySegment track the remainder") {
    val g = freshStreams()
    g.catalog.createScope("sc")
    g.catalog.createStream("sc", "met", StreamConfig(initialSegments = 2))
    g.writeEvents("sc", "met", fixture(6, 100).drop("seqPerKey"))

    val meta = g.catalog.getStream("sc", "met")
    val head = meta.headStreamCut
    assert(g.unreadRows("sc", "met", head) == 600L, "nothing consumed yet")

    val mid = g.nextStreamCut("sc", "met", head, approxRows = 100)
    val consumed = g.readEvents("sc", "met", head, mid).count()
    val unread = g.unreadRows("sc", "met", mid)
    assert(consumed + unread == 600L, "consumed + unread must cover the stream")

    val bySeg = g.unreadBySegment("sc", "met", mid)
    assert(bySeg.values.sum == unread, "per-segment distribution sums to the total")
    assert(bySeg.keySet == meta.segments.map(_.segmentId).toSet)

    assert(g.unreadRows("sc", "met", meta.tailCut) == 0L, "caught-up reader")
  }

  test("truncation: head rises, truncated reads fail, remainder intact") {
    val g = freshStreams()
    g.catalog.createScope("sc")
    g.catalog.createStream("sc", "tr", StreamConfig(initialSegments = 2))
    g.writeEvents("sc", "tr", fixture(4, 100).drop("seqPerKey"))
    val metaBefore = g.catalog.getStream("sc", "tr")
    val cut = g.nextStreamCut("sc", "tr", metaBefore.headStreamCut, 100)

    g.catalog.truncateStream("sc", "tr", cut)
    val remaining = g.readEvents("sc", "tr").count()
    assert(remaining == 400L - g.distance("sc", "tr", metaBefore.headStreamCut, cut))

    // reading below the head cut must fail like TruncatedDataException
    assertThrows[TruncatedDataException] {
      g.readEvents("sc", "tr", from = metaBefore.headStreamCut)
    }
  }

  test("segmentsAtTime after a mid-file truncate answers at or above the head") {
    val g = freshStreams()
    g.catalog.createScope("sc")
    g.catalog.createStream("sc", "sat", StreamConfig(initialSegments = 1))
    g.writeEvents("sc", "sat", fixture(1, 100).drop("seqPerKey"))
    val sid = g.catalog.getStream("sc", "sat").segments.head.segmentId
    // the one file straddles the new head, so it stays live
    g.catalog.truncateStream("sc", "sat", StreamCut(Map(sid -> 40L)))
    assert(g.catalog.getStream("sc", "sat").files.size == 1)

    val at = g.segmentsAtTime("sc", "sat", 0L)
    assert(at.positions(sid) == 40L, s"position below the head cut: $at")
    assert(g.readEvents("sc", "sat", from = at).count() == 60L)
  }

  test("fetchEvent below the head cut fails like a read from there") {
    val g = freshStreams()
    g.catalog.createScope("sc")
    g.catalog.createStream("sc", "fev", StreamConfig(initialSegments = 1))
    g.writeEvents("sc", "fev", fixture(1, 100).drop("seqPerKey"))
    val sid = g.catalog.getStream("sc", "fev").segments.head.segmentId
    g.catalog.truncateStream("sc", "fev", StreamCut(Map(sid -> 40L)))

    assertThrows[TruncatedDataException](
      g.fetchEvent("sc", "fev", EventPointer(sid, 10L)).collect())
    val live = g.fetchEvent("sc", "fev", EventPointer(sid, 40L)).collect()
    assert(live.length == 1 && live.head.getAs[Long]("offset") == 40L)
  }

  test("seal rejects writes") {
    val g = freshStreams()
    g.catalog.createScope("sc")
    g.catalog.createStream("sc", "sealed", StreamConfig(initialSegments = 1))
    g.catalog.sealStream("sc", "sealed")
    assertThrows[StreamSealedException] {
      g.writeEvents("sc", "sealed", fixture(2, 5).drop("seqPerKey"))
    }
  }

  test("scale 2→4→3: lineage recorded, no loss/dup, epoch-major order") {
    val g = freshStreams()
    g.catalog.createScope("sc")
    g.catalog.createStream("sc", "scale", StreamConfig(initialSegments = 2))

    g.writeEvents("sc", "scale", fixture(8, 100).drop("seqPerKey"))
    g.scaleStream("sc", "scale", 4)
    g.writeEvents("sc", "scale", fixture(8, 100).drop("seqPerKey"))
    g.scaleStream("sc", "scale", 3)
    g.writeEvents("sc", "scale", fixture(8, 100).drop("seqPerKey"))

    val meta = g.catalog.getStream("sc", "scale")
    assert(meta.epochs.map(_.epoch) == Seq(0, 1, 2))
    assert(meta.openSegments.forall(s => SegmentId.epoch(s.segmentId) == 2))
    // every epoch-1 segment has epoch-0 parents; lineage is queryable
    val e1 = meta.epochs.find(_.epoch == 1).get.segmentIds
    e1.foreach { sid =>
      assert(meta.segment(sid).parents.nonEmpty)
      meta.segment(sid).parents.foreach(p => assert(g.successors("sc", "scale", p).contains(sid)))
    }
    // no loss, no dup across epochs
    val all = g.readEventsOrdered("sc", "scale").cache()
    assert(all.count() == 2400L)
    assert(all.groupBy($"segmentId", $"offset").count().filter($"count" > 1).count() == 0)
    // sealed parents no longer take writes: all epoch-2 appends landed in epoch 2
    val lastBatch = all.filter(shiftrightunsigned($"segmentId", 32) === 2)
    assert(lastBatch.count() == 800L)
    all.unpersist()
  }
}
