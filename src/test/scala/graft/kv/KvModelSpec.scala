package graft.kv

import graft.SparkTestSession
import graft.core.{ConditionalCheckFailedException, TruncatedDataException}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.collection.mutable

/** Seeded model check of a key-value table: random sequences of insert,
  * put, remove, putIfVersion (right and stale), compact, sweepDeletes and
  * gcManifests, issued from two `KeyValueTable` instances on one root,
  * against a sequential map model. After every operation the other
  * instance's `get` of the touched key must match the model; at the end
  * of a sequence `entries`, `entriesAt(v)`, `deltaSince(v)` and
  * `versionAtTime` must match it at every version still readable.
  *
  * Each sequence is generated from its own seed, which also draws each
  * write's input as driver-local or distributed, and a failure names the
  * seed and the operations, so `Seeds` can be narrowed to reproduce it.
  */
class KvModelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The fixed seed budget: one sequence per seed, about a minute in
    * all. Twenty operations reach past the first checkpoint interval.
    */
  private val Seeds: Seq[Long] = 1L to 24L
  private val OpsPerSequence = 20
  private val Keys = 6

  private sealed trait Op { def on: Int }
  private final case class Insert(on: Int, key: Int) extends Op
  private final case class Put(on: Int, keys: Seq[Int]) extends Op
  private final case class Remove(on: Int, key: Int) extends Op
  private final case class PutIfVersion(on: Int, key: Int, stale: Boolean) extends Op
  private final case class Compact(on: Int) extends Op
  private final case class Sweep(on: Int) extends Op
  private final case class Gc(on: Int, keep: Int) extends Op

  private val opGen: Gen[Op] = {
    val on = Gen.choose(0, 1)
    val key = Gen.choose(0, Keys - 1)
    Gen.frequency(
      3 -> Gen.zip(on, key).map { case (o, k) => Insert(o, k) },
      5 -> Gen.zip(on, Gen.choose(1, 3).flatMap(n => Gen.pick(n, 0 until Keys)))
        .map { case (o, ks) => Put(o, ks.toSeq.sorted) },
      2 -> Gen.zip(on, key).map { case (o, k) => Remove(o, k) },
      3 -> Gen.zip(on, key, Gen.oneOf(true, false)).map { case (o, k, s) => PutIfVersion(o, k, s) },
      1 -> on.map(Compact),
      1 -> on.map(Sweep),
      1 -> Gen.zip(on, Gen.choose(1, 3)).map { case (o, k) => Gc(o, k) })
  }

  private def pk(k: Int) = s"k$k"

  private def frame(kvs: Seq[(String, String)]): DataFrame =
    kvs.toDF("pk", "v").select($"pk", lit("").as("sk"), encode($"v", "UTF-8").as("value"))

  /** One change a commit made: (pk, op, value, entry version). */
  private type Change = (String, String, String, Long)

  private def run(seed: Long, ops: Seq[Op]): Unit = {
    val root = Files.createTempDirectory("graft-kvmodel").toString
    val tables = Seq.fill(2)(new KeyValueTable(spark, root, "t", partitionCount = 2, deleteGraceMillis = 0L))
    // the model: live entries pk -> (value, version), the live map at each
    // version, every committed change, and each version's wall-clock bounds
    var live = Map.empty[String, (String, Long)]
    val at = mutable.Map(0L -> live)
    val changes = mutable.ArrayBuffer.empty[Change]
    val startedAt = mutable.Map.empty[Long, Long]
    val endedAt = mutable.Map.empty[Long, Long]
    var version = 0L
    var floor = 0L
    var lastCompactBase = -1L // the base directory's commitVersion
    var lastCompact = 0L // the compaction's own commit version
    var sweptBelow = 0L // versions below it name swept directories

    def where(i: Int, op: Op) = s"seed=$seed op #$i $op in ${ops.mkString(", ")}"
    // each write's input is drawn from the seed: driver-local (written on
    // the calling thread) or distributed (written by a Spark job)
    val draw = new scala.util.Random(seed)
    def input(df: DataFrame): DataFrame =
      if (draw.nextBoolean()) df else spark.createDataFrame(df.rdd, df.schema)
    ops.zipWithIndex.foreach { case (op, i) =>
      val t = tables(op.on)
      val other = tables(1 - op.on)
      val value = s"v$i"
      val t0 = System.currentTimeMillis()
      def committed(v: Long, touched: Seq[Change]): Unit = {
        assert(v == version + 1, s"${where(i, op)}: committed v$v after v$version")
        version = v
        touched.foreach {
          case (p, "PUT", x, _) => live += p -> (x, v)
          case (p, _, _, _) => live -= p
        }
        changes ++= touched.map(c => c.copy(_4 = v))
        at(v) = live
        startedAt(v) = t0
        endedAt(v) = System.currentTimeMillis()
      }
      /** Versions a maintenance call committed, which leave entries as they were. */
      def unchanged(from: Long, to: Long): Unit =
        (from + 1 to to).foreach(v => committed(v, Nil))
      def refused(body: => Long, why: String): Unit =
        try {
          val v = body
          fail(s"${where(i, op)}: committed v$v although $why")
        } catch { case _: ConditionalCheckFailedException => }
      op match {
        case Insert(_, k) =>
          if (live.contains(pk(k))) refused(t.insert(input(frame(Seq(pk(k) -> value)))), s"${pk(k)} exists")
          else committed(t.insert(input(frame(Seq(pk(k) -> value)))), Seq((pk(k), "PUT", value, 0L)))
        case Put(_, ks) =>
          committed(t.put(input(frame(ks.map(k => pk(k) -> value)))), ks.map(k => (pk(k), "PUT", value, 0L)))
        case Remove(_, k) =>
          committed(t.remove(input(Seq((pk(k), "")).toDF("pk", "sk"))), Seq((pk(k), "REMOVE", null, 0L)))
        case PutIfVersion(_, k, stale) =>
          val cur = live.get(pk(k)).map(_._2)
          val expected = cur.fold(1L)(c => if (stale) c + 1 else c)
          if (cur.contains(expected))
            committed(t.putIfVersion(input(frame(Seq(pk(k) -> value))), expected), Seq((pk(k), "PUT", value, 0L)))
          else refused(t.putIfVersion(input(frame(Seq(pk(k) -> value))), expected), s"${pk(k)} is at $cur")
        case Compact(_) =>
          val before = version
          t.compact()
          val after = t.currentVersion
          // compaction first sweeps the due tombstones of earlier ones
          if (after - before == 2) sweptBelow = lastCompact
          unchanged(before, after)
          if (after > before) { lastCompactBase = after - 1; lastCompact = after }
        case Sweep(_) =>
          val before = version
          t.sweepDeletes()
          val after = t.currentVersion
          if (after > before) sweptBelow = lastCompact
          unchanged(before, after)
        case Gc(_, keep) =>
          t.gcManifests(keep)
          val cut = version - keep
          val interval = graft.catalog.StreamCatalog.DefaultCheckpointInterval
          val cv = if (cut >= interval) cut / interval * interval else cut
          if (version > 0 && cv > floor) floor = cv
          assert(t.manifestFloor == floor, s"${where(i, op)}: floor ${t.manifestFloor}, model $floor")
      }
      val touched = op match {
        case Insert(_, k) => Seq(k)
        case Put(_, ks) => ks
        case Remove(_, k) => Seq(k)
        case PutIfVersion(_, k, _) => Seq(k)
        case _ => 0 until Keys
      }
      touched.foreach { k =>
        val got = other.get(pk(k)).map(p => (new String(p._1, "UTF-8"), p._2))
        assert(got == live.get(pk(k)), s"${where(i, op)}: get ${pk(k)} on the other instance")
      }
    }

    def state(df: DataFrame): Map[String, (String, Long)] =
      df.select($"pk", decode($"value", "UTF-8"), $"version").collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    val rnd = new scala.util.Random(seed)
    val end = s"seed=$seed after ${ops.mkString(", ")}"
    for (t <- tables) {
      assert(t.currentVersion == version, end)
      assert(state(t.entries()) == live, s"$end: entries")
    }
    val readable = math.max(1L, math.max(floor, sweptBelow)) to version
    rnd.shuffle(readable.toList).take(3).foreach { v =>
      assert(state(tables(rnd.nextInt(2)).entriesAt(v)) == at(v), s"$end: entriesAt($v)")
    }
    if (floor > 1L) {
      val v = 1L + rnd.nextInt((floor - 1L).toInt)
      intercept[IllegalArgumentException](tables(0).entriesAt(v))
    }
    // the delta feed is exact from the last compaction's base on; below
    // it, compaction has folded the history
    val from = math.max(lastCompactBase, 0L) + rnd.nextInt((version - math.max(lastCompactBase, 0L) + 1).toInt)
    val feed = tables(rnd.nextInt(2)).deltaSince(from)
      .select($"pk", $"op", decode($"value", "UTF-8"), $"version").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    def sorted(cs: Seq[Change]) = cs.sortBy(c => (c._4, c._1, c._2))
    assert(sorted(feed) == sorted(changes.filter(_._4 > from).toSeq), s"$end: deltaSince($from)")
    // TIMESTAMP AS OF: an instant just after v's commit returned resolves
    // to v or to a later version that had started by then
    for (v <- math.max(1L, floor) to version) {
      val t = endedAt(v)
      val latestStarted = startedAt.collect { case (u, s) if s <= t => u }.max
      val got = tables(rnd.nextInt(2)).versionAtTime(t)
      assert(got.exists(g => g >= v && g <= latestStarted), s"$end: versionAtTime(v$v end $t) = $got")
    }
    if (version > 0L) {
      val before = startedAt(1L) - 1000L
      try assert(tables(0).versionAtTime(before).isEmpty, s"$end: versionAtTime before v1")
      catch { case _: TruncatedDataException => assert(floor > 0L, s"$end: retired history without a floor") }
    }
    assert(tables(0).fsck().isEmpty, s"$end: ${tables(0).fsck().mkString("; ")}")
  }

  test(s"random operation sequences from two instances match a sequential model (${Seeds.size} seeds)") {
    for (seed <- Seeds) {
      val ops = Gen.listOfN(OpsPerSequence, opGen).pureApply(Gen.Parameters.default, Seed(seed))
      // the model's own assertions name the seed; so must a throwing call
      try run(seed, ops)
      catch {
        case e: org.scalatest.exceptions.TestFailedException => throw e
        case scala.util.control.NonFatal(e) => fail(s"seed=$seed ${ops.mkString(", ")}: $e", e)
      }
    }
  }
}
