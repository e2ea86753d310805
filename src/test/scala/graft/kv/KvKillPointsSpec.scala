package graft.kv

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Kill-point crash injection over the KV table's delta/manifest CAS —
  * the table-segment counterpart of the stream-side manifest kill-point
  * suite: a writer or compactor dies at each seam and the invariants
  * must hold: (a) readers never observe partial state, (b) `fsck()`
  * names the leak, (c) `sweepOrphans`/`sweepDeletes` reclaims it,
  * (d) a rerun of the interrupted logical operation lands exactly-once.
  * Reference analog: crash-recovery of conditional table updates in
  * segmentstore/server/.../tables/ContainerTableExtensionImpl (updates
  * visible only after the durable commit point).
  */
class KvKillPointsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fresh(grace: Long = 0L): (KeyValueTable, String) = {
    val root = Files.createTempDirectory("graft-kvkill").toString
    (new KeyValueTable(spark, root, "t", partitionCount = 4,
      deleteGraceMillis = grace), root)
  }

  private def kv(pairs: (String, String)*) =
    pairs.toSeq.toDF("pk", "v")
      .select($"pk", lit("").as("sk"), encode($"v", "UTF-8").as("value"))

  /** What a writer that died between its delta write and the manifest
    * CAS leaves behind: a fully-written, unreferenced dir in the table
    * directory with the at-rest delta schema.
    */
  private def injectCrashedDir(root: String, name: String, version: Long): String = {
    val dir = s"$root/t/$name-$version-${java.util.UUID.randomUUID()}"
    Seq(("zz", "", "GHOST"))
      .toDF("pk", "sk", "v")
      .select(lit(0L).as("bucket"), $"pk", $"sk",
        encode($"v", "UTF-8").as("value"), lit("PUT").as("op"),
        lit(version).as("version"))
      .coalesce(1).write.parquet(dir)
    dir
  }

  test("kill between delta write and CAS: invisible, reported, reclaimed, rerun exactly-once") {
    val (t, root) = fresh()
    t.put(kv("a" -> "1", "b" -> "2"))
    injectCrashedDir(root, "delta", 99)

    // (a) the ghost write is invisible on every read surface
    assert(t.get("zz").isEmpty)
    assert(t.get("a").map(p => new String(p._1)) == Some("1"))
    // (b) fsck names exactly the leak
    val issues = t.fsck()
    assert(issues.size == 1 && issues.head.startsWith("orphan-dir:"), issues.toString)
    // (c) sweep reclaims it; fsck comes back clean
    val swept = t.sweepOrphans(graceMillis = 0L)
    assert(swept.size == 1)
    assert(t.fsck().isEmpty)
    // (d) rerunning the crashed logical batch lands exactly-once
    val v = t.put(kv("zz" -> "real"))
    assert(t.get("zz").map(p => new String(p._1)) == Some("real"))
    assert(t.get("zz").map(_._2) == Some(v))
  }

  test("kill mid-compaction (base written, CAS never reached): resolve unchanged, leak reclaimed") {
    val (t, root) = fresh()
    t.put(kv("a" -> "1"))
    t.put(kv("a" -> "2", "b" -> "3"))
    injectCrashedDir(root, "base", 7)

    assert(t.get("a").map(p => new String(p._1)) == Some("2"))
    assert(t.get("zz").isEmpty, "half-compacted base must stay invisible")
    assert(t.fsck().exists(_.startsWith("orphan-dir:")))
    assert(t.sweepOrphans(0L).size == 1 && t.fsck().isEmpty)
    // the real compaction then succeeds over the same state
    t.compact()
    assert(t.get("a").map(p => new String(p._1)) == Some("2"))
    assert(t.get("b").map(p => new String(p._1)) == Some("3"))
  }

  test("kill between compaction CAS and physical delete: tombstoned files readable era ends idempotently") {
    val (t, _) = fresh(grace = 0L)
    t.put(kv("a" -> "1"))
    t.put(kv("b" -> "2"))
    t.compact() // replaced deltas become pending deletes (grace 0: due at once)
    // crash here = pending deletes linger on disk; reads already serve the base
    assert(t.get("a").map(p => new String(p._1)) == Some("1"))
    assert(t.get("b").map(p => new String(p._1)) == Some("2"))
    val swept = t.sweepDeletes()
    assert(swept.nonEmpty, "due tombstones must be reclaimed")
    assert(t.sweepDeletes().isEmpty, "second sweep is a no-op (idempotent)")
    assert(t.fsck().isEmpty)
    assert(t.get("a").map(p => new String(p._1)) == Some("1"))
  }

  test("kill between physical delete and tombstone clear: the next sweep clears the tombstones") {
    val (t, _) = fresh(grace = 0L)
    t.put(kv("a" -> "1"))
    t.put(kv("b" -> "2"))
    t.compact()
    val tombstoned = t.manifestAt(None).pendingDeletes.map(_.path)
    assert(tombstoned.nonEmpty)
    // the crashed sweep deleted the dirs but never committed the clear
    val fs = new org.apache.hadoop.fs.Path(t.tableDirPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    tombstoned.foreach(p => assert(fs.delete(new org.apache.hadoop.fs.Path(p), true)))
    assert(t.sweepDeletes().sorted == tombstoned.sorted)
    assert(t.manifestAt(None).pendingDeletes.isEmpty, "gone paths must clear their tombstones")
    assert(t.fsck().isEmpty)
    assert(t.get("b").map(p => new String(p._1)) == Some("2"))
  }

  test("grace shields an in-flight writer's delta from the orphan sweep") {
    val (t, root) = fresh()
    t.put(kv("a" -> "1"))
    injectCrashedDir(root, "delta", 50)
    // an hour of grace: the just-written dir must NOT be reclaimed
    assert(t.sweepOrphans(graceMillis = 3600000L).isEmpty)
    assert(t.fsck().exists(_.startsWith("orphan-dir:")), "still reported, just not reclaimed")
    assert(t.sweepOrphans(graceMillis = 0L).size == 1)
  }
}
