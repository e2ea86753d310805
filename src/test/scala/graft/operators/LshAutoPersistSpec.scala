package graft.operators

import graft.SparkTestSession
import graft.util.{Pin, PinLog}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r15 size-adaptive banded-signature pin: the gate's decision must
  * never change WHAT nearDuplicates computes — only whether the minhash
  * kernel runs once (pinned feed) or twice (r14's scale-safe recompute).
  * Drive both branches through the cap extremes, check that each branch
  * really ran, and pin pair-set equality.
  */
class LshAutoPersistSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs = {
    // overlapping shingle runs → a real mix of near-dup and distinct docs
    spark.range(300).select(
      $"id".as("doc_id"),
      concat_ws(" ", (0 until 12).map(i =>
        concat(lit(s"w$i"), ($"id" + i) % 9)): _*).as("text"))
  }

  /** The pair set and whether the banded rows were pinned, at cap `cap`. */
  private def pairs(cap: Long): (Set[(Long, Long)], Boolean) = {
    spark.conf.set(Pin.MaxBytesConf, cap.toString)
    try {
      val (set, lines) = PinLog.capture(
        MinHashLSH.nearDuplicates(docs, "doc_id", "text",
            shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.4)
          .select($"a_id", $"b_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
      val decisions = PinLog.events(lines, "pin.fits", "lsh.bandedRows").map(_("pin").toBoolean)
      assert(decisions.size == 1, lines.mkString("\n"))
      val released = PinLog.events(lines, "pin.release", "lsh.bandedRows")
      assert(released.size == (if (decisions.head) 1 else 0), lines.mkString("\n"))
      (set, decisions.head)
    } finally spark.conf.unset(Pin.MaxBytesConf)
  }

  test("pair set is identical with the banded rows pinned and recomputed, at both cap extremes") {
    val (pinned, pinnedBranch) = pairs(Long.MaxValue) // est fits the heap ceiling
    val (recomputed, recomputedBranch) = pairs(0L) // est never fits
    assert(pinnedBranch && !recomputedBranch, "the cap extremes must select both branches")
    assert(pinned.nonEmpty, "fixture must produce near-dup pairs")
    assert(recomputed == pinned, "recompute path diverged from pinned path")
  }
}
