package graft.tools

import graft.SparkTestSession
import graft.core.StreamConfig
import graft.storage.GraftStreams
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Fsck must pass a root that went through the full lifecycle (writes,
  * scale, truncate, compaction, txn, KVT registration) and must detect
  * injected damage: a deleted data file, a truncated (wrong-length)
  * file, and a hole punched in the manifest history.
  */
class FsckSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshRoot(): (String, GraftStreams) = {
    val root = Files.createTempDirectory("graft-fsck").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("s")
    g.catalog.createStream("s", "ev", StreamConfig(initialSegments = 2))
    val ev = spark.range(0, 2000).select(
      concat(lit("k"), $"id" % 40).as("routingKey"),
      $"id".as("eventTime"),
      encode($"id".cast("string"), "UTF-8").as("payload"))
    g.writeEvents("s", "ev", ev.filter($"eventTime" < 1000))
    g.scaleStream("s", "ev", 3)
    g.writeEvents("s", "ev", ev.filter($"eventTime" >= 1000))
    g.compactStream("s", "ev", minFilesPerSegment = 2)
    g.catalog.createKeyValueTable("s", "kt")
    (root, g)
  }

  test("a full-lifecycle root is clean") {
    val (root, _) = freshRoot()
    assert(Fsck.checkRoot(root).isEmpty)
  }

  test("a deleted data file is reported as file-missing and tail-mismatch") {
    val (root, g) = freshRoot()
    val meta = g.catalog.getStream("s", "ev")
    val victim = new Path(meta.files.last.path)
    victim.getFileSystem(spark.sessionState.newHadoopConf()).delete(victim, false)
    val kinds = Fsck.checkRoot(root).map(_.kind).toSet
    assert(kinds.contains("file-missing"))
  }

  test("a wrong-length file is reported as file-size") {
    val (root, g) = freshRoot()
    val meta = g.catalog.getStream("s", "ev")
    val f = meta.files.find(_.byteSize > 0L).get
    val p = new Path(f.path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true) // overwrite with garbage of another length
    out.write(Array.fill(17)(7.toByte)); out.close()
    val kinds = Fsck.checkRoot(root).map(_.kind).toSet
    assert(kinds.contains("file-size"))
  }

  test("an orphan batch dir (crashed writer) is reported and is reclaim-safe") {
    val (root, g) = freshRoot()
    val dataDir = g.catalog.dataDir("s", "ev")
    val fs = dataDir.getFileSystem(spark.sessionState.newHadoopConf())
    // a crashed writeEvents: staged parquet exists, manifest CAS never ran
    val stray = new org.apache.hadoop.fs.Path(dataDir, "batch-deadbeef-crashed")
    fs.mkdirs(new org.apache.hadoop.fs.Path(stray, "segId=0"))
    val issues = Fsck.checkRoot(root)
    assert(issues.map(_.kind) == Seq("orphan-data"), s"got $issues")
    // readers are unaffected — plans come from the manifest
    assert(g.readEvents("s", "ev").count() == 2000L)
    fs.delete(stray, true)
    assert(Fsck.checkRoot(root).isEmpty)
  }

  test("an orphan dir is still reported when the stream has zero live files") {
    // A fully-truncated / retention-swept stream has an empty files list;
    // the orphan scan must come from the catalog's data dir, not from the
    // first manifest file path, or crashed-writer leaks report clean.
    val root = Files.createTempDirectory("graft-fsck").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("z")
    g.catalog.createStream("z", "empty", StreamConfig(initialSegments = 1))
    assert(g.catalog.getStream("z", "empty").files.isEmpty)
    val dataDir = g.catalog.dataDir("z", "empty")
    val fs = dataDir.getFileSystem(spark.sessionState.newHadoopConf())
    val stray = new Path(dataDir, "batch-cafebabe-crashed")
    fs.mkdirs(new Path(stray, "segId=0"))
    val issues = Fsck.checkRoot(root)
    assert(issues.map(_.kind) == Seq("orphan-data"), s"got $issues")
    fs.delete(stray, true)
    assert(Fsck.checkRoot(root).isEmpty)
  }

  test("an expired open transaction is reported as advisory") {
    val (root, g) = freshRoot()
    val txn = g.beginTxn("s", "ev", leaseMillis = 1L)
    Thread.sleep(10L)
    val kinds = Fsck.checkRoot(root).map(_.kind).toSet
    assert(kinds == Set("txn-lease-expired"), s"got $kinds")
    // after the sweep the root is clean again
    g.sweepExpiredTxns("s", "ev")
    assert(Fsck.checkRoot(root).isEmpty)
  }

  test("a hole in the manifest chain is reported") {
    val (root, g) = freshRoot()
    val meta = g.catalog.getStream("s", "ev")
    assert(meta.version >= 3, "lifecycle should have committed >= 3 versions")
    val holed = new Path(root, s"s/ev/_meta/manifest-${"%012d".format(2)}.json")
    val fs = holed.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(holed), s"expected manifest at $holed")
    fs.delete(holed, false)
    val kinds = Fsck.checkRoot(root).map(_.kind).toSet
    assert(kinds.contains("manifest-chain"))
  }

  test("a hole in a registered KV table's manifest chain is reported") {
    val (root, g) = freshRoot()
    val t = g.catalog.openKeyValueTable(spark, "s", "kt")
    for (i <- 1 to 3)
      t.put(Seq(s"k$i").toDF("pk").select($"pk", lit("").as("sk"), encode($"pk", "UTF-8").as("value")))
    assert(Fsck.checkRoot(root).isEmpty)
    val holed = new Path(root, s"s/_kvt/kt/_meta/manifest-${"%012d".format(2)}.json")
    val fs = holed.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(holed, false), s"expected manifest at $holed")
    val issues = Fsck.checkRoot(root)
    assert(issues.exists(i => i.where == "s/kt" && i.kind == "manifest-chain" && i.detail.contains("2")),
      issues.mkString("; "))
  }

  test("a lost floor-chain anchor is classified gc-floor-anchor-lost; reads recover a positive floor") {
    import graft.core.FileEntry
    val root = Files.createTempDirectory("graft-fsck-anchor").toString
    val conf = new org.apache.hadoop.conf.Configuration()
    val c = new graft.catalog.StreamCatalog(root, conf, checkpointInterval = 4)
    c.createScope("s")
    c.createStream("s", "x", StreamConfig(initialSegments = 1))
    def add(i: Int): Unit = c.update("s", "x")(m => m.copy(files = m.files :+
      FileEntry(0L, s"data/part-$i.parquet", i * 100L, 100L, 0L, 99L, 1, 1024L)))
    for (i <- 1 to 24) add(i)
    c.flushCheckpoints()
    assert(c.gcManifests("s", "x", keepVersions = 12).nonEmpty) // floor 12 → floor-1
    for (i <- 25 to 28) add(i)
    c.flushCheckpoints()
    assert(c.gcManifests("s", "x", keepVersions = 4).nonEmpty) // floor 24 → floor-2
    assert(c.manifestFloor("s", "x") == 24L)
    // hand surgery / storage corruption: the PERMANENT anchor vanishes
    // while the suffix record survives (unreachable through the chain's
    // own protocol — prune never touches seq 1)
    val fs = new Path(root).getFileSystem(conf)
    assert(fs.delete(new Path(root, f"s/x/_meta/floor-${1L}%012d.json"), false))
    // a completely COLD instance must not conclude "never GC'd": the
    // positive floor recovers from the listed suffix and reads work
    val fresh = new graft.catalog.StreamCatalog(root, conf, checkpointInterval = 4)
    assert(fresh.manifestFloor("s", "x") == 24L)
    assert(fresh.getStream("s", "x").version == 28L)
    // and fsck classifies the corruption instead of staying silent
    val issues = Fsck.checkRoot(root, hadoopConf = Some(conf))
    assert(issues.exists(_.kind == "gc-floor-anchor-lost"), issues.mkString("; "))
    // retention holes stay retention, not corruption spam
    assert(!issues.exists(i => i.kind == "manifest-chain" || i.kind == "gc-floor-base"),
      issues.mkString("; "))
  }

  test("a regressed floor marker reads as gc-floor-regressed (benign), not chain corruption") {
    import graft.core.FileEntry
    val root = Files.createTempDirectory("graft-fsck-regress").toString
    val conf = new org.apache.hadoop.conf.Configuration()
    val c = new graft.catalog.StreamCatalog(root, conf, checkpointInterval = 4)
    c.createScope("s")
    c.createStream("s", "x", StreamConfig(initialSegments = 1))
    for (i <- 1 to 24) c.update("s", "x")(m => m.copy(files = m.files :+
      FileEntry(0L, s"data/part-$i.parquet", i * 100L, 100L, 0L, 99L, 1, 1024L)))
    c.flushCheckpoints()
    assert(c.gcManifests("s", "x", keepVersions = 4).nonEmpty)
    val floor = c.manifestFloor("s", "x")
    assert(floor == 20L)
    // construct the REGRESSED-marker state directly: a legacy
    // rename-replaced marker could land a smaller floor after a
    // larger-cut gc's deletes (the FloorChain CAS makes this
    // unreachable going forward — hence raw surgery, not engine calls)
    val fs = new Path(root).getFileSystem(conf)
    val rec = new Path(root, f"s/x/_meta/floor-${1L}%012d.json")
    assert(fs.exists(rec))
    fs.delete(rec, false)
    val out = fs.create(rec, true)
    out.write("""{"floor":8,"incarnation":"legacy"}""".getBytes("UTF-8"))
    out.close()
    val issues = Fsck.checkRoot(root, hadoopConf = Some(conf))
    val regressed = issues.filter(_.kind == "gc-floor-regressed")
    assert(regressed.size == 1, issues.mkString("; "))
    assert(regressed.head.detail.contains("v8") && regressed.head.detail.contains("v20"))
    // the benign state must NOT page as corruption: no chain-hole spam
    // for the retired range, no gc-floor-base (the effective base v20
    // reconstructs fine)
    assert(!issues.exists(i => i.kind == "manifest-chain" || i.kind == "gc-floor-base"),
      issues.mkString("; "))
    // and a genuinely broken chain above the regressed marker still pages
    fs.delete(new Path(root, f"s/x/_meta/manifest-${22L}%012d.json"), false)
    val issues2 = Fsck.checkRoot(root, hadoopConf = Some(conf))
    assert(issues2.exists(i => i.kind == "manifest-chain" && i.detail.contains("22")),
      issues2.mkString("; "))
  }
}
