package graft.kv

import graft.SparkTestSession
import graft.core.ConditionalCheckFailedException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** kv-table fixture (FIXTURES.md) mirroring KeyValueTableTest.java:
  * conditional semantics incl. bad-version, sorted prefix/range iteration,
  * delta (CDF) reads, compaction equivalence.
  */
class KeyValueTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fresh(parts: Int = 8): KeyValueTable =
    new KeyValueTable(spark, Files.createTempDirectory("graft-kv").toString, "t", parts)

  private def kvScan(df: DataFrame) = graft.sources.GraftKvTableSpec.kvScan(df)

  private def kv(pairs: (String, String)*): DataFrame =
    pairs.toSeq.toDF("pk", "v")
      .select($"pk", lit("").as("sk"), encode($"v", "UTF-8").as("value"))

  test("insert/put/get/exists with version semantics") {
    val t = fresh()
    val v1 = t.insert(kv("a" -> "1", "b" -> "2"))
    assert(t.get("a").map(p => new String(p._1)) == Some("1"))
    assert(t.get("a").map(_._2) == Some(v1))
    assert(!t.exists("zz"))

    // Insert on existing key must fail (key-exists condition)
    assertThrows[ConditionalCheckFailedException](t.insert(kv("a" -> "X")))
    assert(t.get("a").map(p => new String(p._1)) == Some("1"), "failed insert leaked")

    // unconditional put overwrites, version advances
    val v2 = t.put(kv("a" -> "10"))
    assert(v2 > v1)
    assert(t.get("a").map(p => new String(p._1)) == Some("10"))

    // conditional put with right/wrong version
    val v3 = t.putIfVersion(kv("a" -> "11"), v2)
    assert(new String(t.get("a").get._1) == "11")
    assertThrows[ConditionalCheckFailedException](t.putIfVersion(kv("a" -> "12"), v2))
    assert(new String(t.get("a").get._1) == "11")
    assert(t.get("a").get._2 == v3)
  }

  test("remove hides entries; delta feed reports every change") {
    val t = fresh()
    t.insert(kv("x" -> "1", "y" -> "2"))
    val vAfterInsert = t.currentVersion
    t.remove(Seq(("x", "")).toDF("pk", "sk"))
    assert(!t.exists("x") && t.exists("y"))

    val delta = t.deltaSince(vAfterInsert).collect()
    assert(delta.length == 1 && delta.head.getAs[String]("op") == "REMOVE"
      && delta.head.getAs[String]("pk") == "x")
    assert(t.deltaSince(-1L).count() == 3) // 2 puts + 1 remove
  }

  test("sorted prefix and range iteration over many keys") {
    val t = fresh()
    val entries = (0 until 500).map(i => f"key$i%04d" -> s"v$i")
    t.put(kv(entries: _*))
    val prefix = t.scanPrefix("key00").select($"pk").as[String].collect()
    assert(prefix.length == 100 && prefix.toSeq == prefix.toSeq.sorted)
    val range = t.scanRange("key0100", "key0200").select($"pk").as[String].collect()
    assert(range.length == 100 && range.head == "key0100" && range.last == "key0199")
  }

  test("compaction preserves resolved state and prunes history") {
    val t = fresh()
    t.put(kv((0 until 200).map(i => s"k$i" -> s"v$i"): _*))
    t.put(kv((0 until 100).map(i => s"k$i" -> s"w$i"): _*))  // overwrite half
    t.remove((0 until 50).map(i => (s"k$i", "")).toDF("pk", "sk"))
    val before = t.entries().select($"pk", $"value").collect()
      .map(r => r.getAs[String]("pk") -> new String(r.getAs[Array[Byte]]("value"))).toMap
    t.compact()
    val after = t.entries().select($"pk", $"value").collect()
      .map(r => r.getAs[String]("pk") -> new String(r.getAs[Array[Byte]]("value"))).toMap
    assert(after == before)
    assert(after.size == 150)
    assert(after("k60") == "w60" && after("k150") == "v150")
    // writes continue after compaction
    t.put(kv("k999" -> "z"))
    assert(new String(t.get("k999").get._1) == "z")
  }

  test("paged iteration: keyset continuation covers the range exactly once") {
    val t = fresh()
    val entries = (0 until 157).map(i => f"key$i%04d" -> s"v$i")
    t.put(kv(entries: _*))

    // walk the whole [key0000, key0200) range in pages of 25
    var after: Option[(String, String)] = None
    val seen = scala.collection.mutable.ListBuffer.empty[String]
    var pages = 0
    var done = false
    while (!done) {
      val page = t.scanPage("key0000", "key0200", 25, after)
        .select($"pk", $"sk").collect()
      pages += 1
      if (page.isEmpty) done = true
      else {
        val pks = page.map(_.getString(0))
        assert(pks.toSeq == pks.toSeq.sorted, "page must be sorted")
        seen ++= pks
        after = Some((page.last.getString(0), page.last.getString(1)))
        if (page.length < 25) done = true
      }
    }
    assert(seen.toList == entries.map(_._1).sorted.toList, "pages must tile the range exactly")
    assert(pages == 7, s"157 entries / 25 per page = 7 pages, got $pages")

    // scale gate: the page's pk range + continuation predicates must push
    // BELOW resolution into the KV scan (they keep or drop whole key
    // groups, so the scan hands them to parquet stats); without this
    // every page would re-resolve the whole table
    val pagePushed = kvScan(t.scanPage("key0000", "key0200", 25, after))
      .pushedFilters.mkString(" ")
    assert(pagePushed.contains("GreaterThan") && pagePushed.contains("pk"),
      s"pk keyset predicates not pushed below resolution to the scan: $pagePushed")

    // prefix paging returns the same keys as the unpaged prefix scan
    val prefixAll = t.scanPrefix("key00").select($"pk").as[String].collect().toList
    val p1 = t.scanPrefixPage("key00", 60).select($"pk", $"sk").collect()
    val p2 = t.scanPrefixPage("key00", 60,
      Some((p1.last.getString(0), p1.last.getString(1)))).select($"pk", $"sk").collect()
    assert((p1 ++ p2).map(_.getString(0)).toList == prefixAll)
  }

  test("entriesAt: snapshot reads replay any commit; compaction stays invisible to history") {
    val t = fresh()
    val v1 = t.put(kv("a" -> "1", "b" -> "2", "c" -> "3"))
    val v2 = t.put(kv("b" -> "20"))
    val v3 = t.remove(Seq(("a", "")).toDF("pk", "sk"))
    def state(df: DataFrame): Set[(String, String)] =
      df.select($"pk", decode($"value", "UTF-8")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    assert(state(t.entriesAt(v1)) == Set("a" -> "1", "b" -> "2", "c" -> "3"))
    assert(state(t.entriesAt(v2)) == Set("a" -> "1", "b" -> "20", "c" -> "3"))
    // as-of latest ≡ entries(), including the tombstone
    assert(state(t.entriesAt(v3)) == state(t.entries()))
    // version 0 = before any commit; bad versions fail loudly
    assert(t.entriesAt(0L).count() == 0)
    assertThrows[IllegalArgumentException](t.entriesAt(99L))
    // compaction rewrites the PRESENT, not the past
    t.compact()
    assert(state(t.entriesAt(v2)) == Set("a" -> "1", "b" -> "20", "c" -> "3"),
      "compaction leaked into a historical snapshot")
    assert(state(t.entriesAt(t.currentVersion)) == state(t.entries()))
  }

  test("fsck: clean through the lifecycle; detects missing files, orphans, chain holes") {
    val t = fresh()
    t.put(kv("a" -> "1", "b" -> "2", "c" -> "3"))
    t.put(kv("b" -> "20"))
    t.remove(Seq(("a", "")).toDF("pk", "sk"))
    assert(t.fsck().isEmpty)
    t.compact() // replaced files become pending deletes — still referenced
    assert(t.fsck().isEmpty)

    val fs = new org.apache.hadoop.fs.Path(t.tableDirPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // orphan: an unreferenced delta dir (crashed writer's leak)
    val orphan = new org.apache.hadoop.fs.Path(s"${t.tableDirPath}/delta-99-deadbeef")
    fs.mkdirs(orphan)
    assert(t.fsck().exists(_.startsWith("orphan-dir")))
    fs.delete(orphan, true)

    // missing live file
    fs.delete(new org.apache.hadoop.fs.Path(t.liveFilePaths.head), true)
    assert(t.fsck().exists(_.startsWith("file-missing")))
  }

  test("gcManifests retires as-of history below the floor; live reads unaffected") {
    val t = fresh(parts = 4)
    for (i <- 1 to 8) t.put(kv(s"k$i" -> s"v$i"))
    assert(t.currentVersion == 8L)
    // keep 3 behind tip 8 → floor 5, manifests 1..4 retired
    assert(t.gcManifests(keepVersions = 3) == Seq(1L, 2L, 3L, 4L))
    assert(t.manifestFloor == 5L)
    // live reads, delta feed, point reads: unaffected (latest-only)
    assert(t.entries().count() == 8L)
    assert(t.deltaSince(0L).count() == 8L)
    assert(t.get("k3").map(v => new String(v._1, "UTF-8")).contains("v3"))
    // retained as-of reads still work; below-floor fails loudly
    assert(t.entriesAt(5L).count() == 5L)
    val e = intercept[IllegalArgumentException](t.entriesAt(2L))
    assert(e.getMessage.contains("no commit 2"), e.getMessage)
    // fsck sees retention, not corruption
    assert(t.fsck().isEmpty, t.fsck().mkString("; "))
    // idempotent/monotone; commits continue normally
    assert(t.gcManifests(keepVersions = 3).isEmpty)
    t.put(kv("k9" -> "v9"))
    assert(t.currentVersion == 9L && t.entries().count() == 9L)
    // TIMESTAMP AS OF resolution skips retired versions gracefully
    assert(t.versionAtTime(System.currentTimeMillis() + 1000L).contains(9L))
  }

  test("a regressed floor marker reads as gc-floor-regressed (benign), not chain corruption") {
    val t = fresh(parts = 4)
    for (i <- 1 to 12) t.put(kv(s"k$i" -> s"v$i"))
    assert(t.gcManifests(keepVersions = 3).nonEmpty && t.manifestFloor == 9L)
    // construct the LEGACY regressed-marker state directly (impossible
    // through the FloorChain CAS): rewrite floor-1 with a smaller floor
    val fs = new org.apache.hadoop.fs.Path(t.tableDirPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val rec = new org.apache.hadoop.fs.Path(
      s"${t.tableDirPath}/_meta/floor-${"%012d".format(1)}.json")
    assert(fs.exists(rec))
    fs.delete(rec, false)
    val out = fs.create(rec, true)
    out.write("""{"floor":4,"incarnation":"legacy"}""".getBytes("UTF-8"))
    out.close()
    val t2 = new KeyValueTable(spark, t.tableDirPath.stripSuffix("/" + t.name), t.name,
      partitionCount = 4) // fresh instance: no cached floor
    assert(t2.manifestFloor == 4L)
    val issues = t2.fsck()
    assert(issues.count(_.startsWith("gc-floor-regressed")) == 1, issues.mkString("; "))
    assert(!issues.exists(_.startsWith("manifest-chain")), issues.mkString("; "))
    // live reads unaffected by the stale marker
    assert(t2.entries().count() == 12L)
    // a genuinely broken chain above the regressed marker still pages
    fs.delete(new org.apache.hadoop.fs.Path(
      s"${t.tableDirPath}/_meta/manifest-${"%012d".format(10)}.json"), false)
    val issues2 = t2.fsck()
    assert(issues2.exists(i => i.startsWith("manifest-chain") && i.contains("10")),
      issues2.mkString("; "))
  }

  test("floor records carry the table incarnation; a recreate-surviving chain audits as stale") {
    val conf = spark.sessionState.newHadoopConf()
    def manifests(t: KeyValueTable) = new org.apache.hadoop.fs.Path(t.tableDirPath, "_meta")
    // table A: commit, gc → its floor chain is stamped with A's identity
    val a = fresh(parts = 4)
    for (i <- 1 to 8) a.put(kv(s"k$i" -> s"v$i"))
    val incA = a.incarnation
    assert(incA.nonEmpty, "the v1 commit must mint the incarnation")
    assert(a.gcManifests(keepVersions = 3).nonEmpty)
    val fs = manifests(a).getFileSystem(conf)
    val recPath = new org.apache.hadoop.fs.Path(manifests(a), f"floor-${1L}%012d.json")
    val in = fs.open(recPath)
    val recTxt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(recTxt.contains(incA), s"floor record must carry the incarnation: $recTxt")
    // compaction (a fresh-manifest construction) carries the identity too
    a.compact()
    assert(a.incarnation == incA, "compaction must not drop the incarnation")
    assert(a.fsck().isEmpty, a.fsck().mkString("; "))
    // table B: same name, independent root, NO gc — then table A's floor
    // chain lands in B's _meta (the delete+recreate survivor shape: a
    // partial hand-delete left the old chain under a recreated table)
    val b = fresh(parts = 4)
    for (i <- 1 to 8) b.put(kv(s"k$i" -> s"v$i"))
    assert(b.incarnation.nonEmpty && b.incarnation != incA)
    org.apache.hadoop.fs.FileUtil.copy(fs, recPath,
      fs, new org.apache.hadoop.fs.Path(manifests(b), f"floor-${1L}%012d.json"),
      false, conf)
    val b2 = new KeyValueTable(spark, b.tableDirPath.stripSuffix("/" + b.name),
      b.name, partitionCount = 4) // fresh instance: no cached floor
    val issues = b2.fsck()
    assert(issues.exists(_.startsWith("gc-floor-stale-incarnation")),
      issues.mkString("; "))
    // live reads keep working — the stale chain is an audit finding, not
    // a read outage (B's versions 1..8 all exist at/above the floor 5)
    assert(b2.entries().count() == 8L)
  }

  test("a lost floor-chain anchor: positive floor recovered; fsck classifies gc-floor-anchor-lost") {
    val t = fresh(parts = 4)
    for (i <- 1 to 12) t.put(kv(s"k$i" -> s"v$i"))
    assert(t.gcManifests(keepVersions = 6).nonEmpty && t.manifestFloor == 6L)
    for (i <- 13 to 16) t.put(kv(s"k$i" -> s"v$i"))
    assert(t.gcManifests(keepVersions = 3).nonEmpty && t.manifestFloor == 13L)
    // hand surgery: the permanent anchor vanishes, the suffix survives
    val fs = new org.apache.hadoop.fs.Path(t.tableDirPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      s"${t.tableDirPath}/_meta/floor-${"%012d".format(1)}.json"), false))
    // a completely COLD instance must not conclude "never GC'd"
    val t2 = new KeyValueTable(spark, t.tableDirPath.stripSuffix("/" + t.name),
      t.name, partitionCount = 4)
    assert(t2.manifestFloor == 13L, "cold floor read must recover from the suffix")
    assert(t2.entries().count() == 16L)
    val issues = t2.fsck()
    assert(issues.exists(_.startsWith("gc-floor-anchor-lost")), issues.mkString("; "))
    assert(!issues.exists(_.startsWith("manifest-chain")), issues.mkString("; "))
  }

  // GC + list-lag DOUBLE-BLIND, KV twin of ManifestLogSpec's case: with
  // [1, floor) retired and every RETAINED manifest still inside the lag
  // window, a fresh reader's listing is EMPTY (KV chains have no v0) and
  // latest() silently answered "empty table" before the floor-probe
  // recovery — the worst wrong-answer class. The floor marker is the
  // recovery base (written before any delete, floors only move up).
  test("gc + list-lag double-blind: fresh reader recovers the table from the floor") {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.oscas.impl", classOf[graft.storage.LaggedObjectStoreFs].getName)
    spark.sparkContext.hadoopConfiguration
      .set("fs.oscas.impl", classOf[graft.storage.LaggedObjectStoreFs].getName)
    val dir = Files.createTempDirectory("graft-kv-blind").toString
    val root = "oscas://" + dir
    val prev = graft.storage.LaggedObjectStoreFs.lagMs
    try {
      val a = new KeyValueTable(spark, root, "t", 4, hadoopConf = conf)
      for (i <- 1 to 9) a.put(kv(s"k$i" -> s"v$i"))
      // every FURTHER manifest is invisible to LIST for an hour; exact-key
      // reads stay consistent (the object-store contract)
      graft.storage.LaggedObjectStoreFs.lagMs = 3600000L
      for (i <- 10 to 12) a.put(kv(s"k$i" -> s"v$i"))
      // tip 12, keep 2 → floor 10: the whole retained chain [10..12] sits
      // inside the lag window, [1, 10) is deleted
      assert(a.gcManifests(keepVersions = 2) == (1L to 9L))
      assert(a.manifestFloor == 10L)

      val b = new KeyValueTable(spark, root, "t", 4, hadoopConf = conf)
      assert(b.currentVersion == 12L,
        "fresh reader resolved the EMPTY table — the double-blind bug this pins")
      assert(b.entries().count() == 12L)
      assert(b.get("k12").map(p => new String(p._1, "UTF-8")).contains("v12"))
      // commits keep extending the recovered chain
      b.put(kv("k13" -> "v13"))
      assert(b.currentVersion == 13L)
    } finally graft.storage.LaggedObjectStoreFs.lagMs = prev
  }

  // …and when the floor names a retained chain that is GENUINELY gone
  // (not lag-hidden), latest() must fail loudly — the silent alternative
  // is answering with an EMPTY table — while fsck reports the state
  // instead of crashing on it.
  test("floor with no readable retained chain: loud failure; fsck classifies") {
    val work = Files.createTempDirectory("graft-kv-lost").toString
    val t = new KeyValueTable(spark, work, "t", 4)
    for (i <- 1 to 8) t.put(kv(s"k$i" -> s"v$i"))
    assert(t.gcManifests(keepVersions = 3).nonEmpty && t.manifestFloor == 5L)
    for (v <- 5L to 8L)
      Files.deleteIfExists(java.nio.file.Paths.get(work, "t", "_meta", f"manifest-$v%012d.json"))
    val b = new KeyValueTable(spark, work, "t", 4)
    val e = intercept[graft.core.GraftException](b.currentVersion)
    assert(e.getMessage.contains("retention floor"), e.getMessage)
    assert(b.fsck().exists(_.startsWith("gc-floor-base")), b.fsck().mkString("; "))
  }

  test("probe-forward tip hint: stale hints fall back; recreates stay exact") {
    val work = Files.createTempDirectory("graft-kvpf").toString
    val a = new KeyValueTable(spark, work, "t", 4)
    for (i <- 1 to 6) a.put(kv(s"k$i" -> s"v$i"))
    assert(a.currentVersion == 6L) // a's probe hint now points at v6
    // another actor deletes + recreates the table with a SHORTER chain
    val p = new org.apache.hadoop.fs.Path(work, "t")
    p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, true)
    val b = new KeyValueTable(spark, work, "t", 4)
    b.put(kv("x1" -> "y1")); b.put(kv("x2" -> "y2"))
    // a's hint points at a missing manifest → listing fallback, no ghost
    assert(a.currentVersion == 2L)
    assert(a.entries().count() == 2L)
    // a recreate that REACHES the old hint's version is exact too: KV
    // manifests are self-contained, so whatever version a probe lands on
    // reads as precisely that version's state
    for (i <- 3 to 7) b.put(kv(s"x$i" -> s"y$i"))
    assert(a.currentVersion == 7L && a.entries().count() == 7L)
  }

  test("getAll multiget prunes the scan to the touched buckets") {
    val t = fresh(parts = 8)
    t.put(kv((0 until 400).map(i => s"k$i" -> s"v$i"): _*))
    t.compact() // base layout: one file per bucket, sorted (bucket, pk, sk)

    val got = t.getAll(Seq(("k7", ""), ("k123", ""), ("nope", "")))
    val rows = got.collect().map(r => r.getAs[String]("pk") ->
      new String(r.getAs[Array[Byte]]("value"))).toMap
    assert(rows == Map("k7" -> "v7", "k123" -> "v123"))

    // the pk literals must reach the scan as pushed filters, and the scan
    // must plan exactly the part indices those keys hash to (every bucket
    // holds keys here, so every touched index has files)
    def partOf(pk: String) =
      KeyValueTable.partIndexOfBucket(KeyValueTable.bucketOf(pk, 8), 8)
    def planned(s: graft.sources.GraftKvScan) = s.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftKvInputPartition].partIdx).toSet
    val scan = kvScan(got)
    val pushed = scan.pushedFilters.mkString(" ")
    assert(pushed.contains("pk"), s"pk predicates not pushed to the scan: $pushed")
    assert(planned(scan) == Set("k7", "k123", "nope").map(partOf),
      s"planned ${planned(scan)}")

    // a single key plans one partition: one job, one task, no shuffle
    val one = t.getAll(Seq(("k7", "")))
    assert(one.collect().length == 1)
    val oneScan = kvScan(one)
    assert(planned(oneScan) == Set(partOf("k7")),
      s"single-key getAll planned ${planned(oneScan)}")
    val plan = one.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Window"), plan)
  }

  test("1-key conditional put validates against a pruned scan, not the whole table") {
    val t = fresh(parts = 8)
    t.put(kv((0 until 400).map(i => s"k$i" -> s"v$i"): _*))
    t.compact()
    val v = t.get("k3").get._2

    // capture per-job input rows: the conditional check must read one
    // bucket's worth of rows, not all 400
    val read = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      t.putIfVersion(kv("k3" -> "v3b"), v)
      // listener delivery is async: wait until the counter stops moving
      var last = -1L
      var spins = 0
      while (read.get() != last && spins < 40) {
        last = read.get(); Thread.sleep(100); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(new String(t.get("k3").get._1) == "v3b")
    // the update also re-reads for the write itself; 400-row full scans
    // would push this way past 400 — with 8 buckets a pruned check reads
    // ~50 rows for the condition
    assert(read.get() < 400, s"conditional check read ${read.get()} rows — full-table resolve?")

    // wrong version still fails via the pruned path
    assertThrows[ConditionalCheckFailedException](t.putIfVersion(kv("k3" -> "x"), v))
  }

  test("conditional batches past ConditionPruneLimit validate through the semi-join path") {
    val t = fresh(parts = 4)
    val n = KeyValueTable.ConditionPruneLimit + 76
    val keys = (0 until n).map(i => f"k$i%05d" -> s"v$i")
    val v1 = t.insert(kv(keys: _*))
    // every key now exists: a large insert touching one of them fails whole
    val again = keys.drop(1).map { case (k, _) => (k + "x") -> "n" } :+ ("k00000" -> "dup")
    val e = intercept[ConditionalCheckFailedException](t.insert(kv(again: _*)))
    assert(e.getMessage.contains("pk=k00000"), e.getMessage)
    assert(t.currentVersion == v1)
    // a large putIfVersion at the right version wins; at a wrong one fails
    val v2 = t.putIfVersion(kv(keys.map { case (k, _) => k -> "w" }: _*), v1)
    assertThrows[ConditionalCheckFailedException](
      t.putIfVersion(kv(keys.map { case (k, _) => k -> "z" }: _*), v1))
    assert(t.get("k00007").map(p => (new String(p._1), p._2)) == Some(("w", v2)))
  }

  test("putIfVersion refuses expected versions below 1 instead of switching mode") {
    val t = fresh()
    val v1 = t.put(kv("a" -> "1"))
    // -1 would be an unconditional put and 0 insert-if-absent in update's
    // per-row modes; the typed call names put/insert instead
    for (bad <- Seq(-1L, 0L)) {
      val e = intercept[IllegalArgumentException](t.putIfVersion(kv("a" -> "x"), bad))
      assert(e.getMessage.contains("put") && e.getMessage.contains("insert"), e.getMessage)
    }
    assert(t.currentVersion == v1, "a refused putIfVersion committed")
    assert(t.get("a").map(p => new String(p._1)) == Some("1"))
  }

  test("compact() reclaims past-grace tombstones from earlier compactions") {
    val root = Files.createTempDirectory("graft-kv-sweep").toString
    val grace = new KeyValueTable(spark, root, "g", 4) // default 15-min grace
    grace.put(kv("a" -> "1"))
    grace.put(kv("a" -> "1b"))
    grace.compact()
    assert(grace.sweepDeletes().isEmpty, "tombstones inside grace must survive a sweep")
    assert(new java.io.File(root + "/g").listFiles().count(_.getName.startsWith("delta-")) >= 1,
      "tombstoned delta dirs must stay on disk during the reader grace")

    val t = new KeyValueTable(spark, root, "t", 4, deleteGraceMillis = 5L)
    t.put(kv("a" -> "1", "b" -> "2"))
    t.put(kv("a" -> "1b"))
    t.compact() // the two delta dirs become tombstones with a ~now deadline
    assert(new java.io.File(root + "/t").listFiles().count(_.getName.startsWith("delta-")) == 2)
    Thread.sleep(20)
    // the next compact() sweeps them physically before compacting again;
    // only its OWN fresh tombstone (delta of "c") may remain on disk
    t.put(kv("c" -> "3"))
    t.compact()
    assert(new java.io.File(root + "/t").listFiles().count(_.getName.startsWith("delta-")) == 1,
      "past-grace tombstoned delta dirs were not reclaimed by compact()")
    assert(t.entries().count() == 3)
    ()
  }

  test("versionAtTime: bisection matches linear semantics at every boundary") {
    val t = fresh(parts = 2)
    val stamps = (1 to 10).map { i =>
      t.put(kv(s"k$i" -> s"v$i"))
      Thread.sleep(3)
      // read the stamp back from the manifest (the resolution authority)
      System.currentTimeMillis()
    }
    // an instant just after commit i resolves to version i (max stamp <= t)
    for ((after, i) <- stamps.zipWithIndex)
      assert(t.versionAtTime(after).contains(i + 1L), s"instant after v${i + 1}")
    // before the first commit → None (no retention in play)
    assert(t.versionAtTime(1L).isEmpty)
  }

  test("versionAtTime inside GC-retired history fails loudly; retained scan skips the floor") {
    val t = fresh(parts = 2)
    for (i <- 1 to 4) { t.put(kv(s"k$i" -> s"v$i")); Thread.sleep(3) }
    val retiredInstant = System.currentTimeMillis()
    Thread.sleep(3)
    for (i <- 5 to 9) t.put(kv(s"k$i" -> s"v$i"))
    assert(t.gcManifests(keepVersions = 3) == (1L to 5L))
    assert(t.manifestFloor == 6L)
    // t falls inside retired history → loud retention failure, never a
    // silent resolve to some wrong retained version
    assertThrows[graft.core.TruncatedDataException](t.versionAtTime(retiredInstant))
    // …and an instant BEFORE the table existed is indistinguishable from
    // retired history once a floor exists — also loud (documented)
    assertThrows[graft.core.TruncatedDataException](t.versionAtTime(1L))
    // retained instants resolve exactly as before
    assert(t.versionAtTime(System.currentTimeMillis() + 1000L).contains(9L))
  }

  test("capped probe walk: a far-behind hint falls back to the listing") {
    // on the counting object-store contract, like the stream twin in
    // ManifestLogSpec: HOW the read resolved, not only what it returned
    val fsImpl = classOf[graft.catalog.CountingOsFs].getName
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.cntfs.impl", fsImpl)
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl", fsImpl)
    val work = "cntfs://" + Files.createTempDirectory("graft-kvcap").toString
    val a = new KeyValueTable(spark, work, "t", 2, hadoopConf = conf)
    a.put(kv("seed" -> "1"))
    assert(a.currentVersion == 1L) // a's hint: v1
    // another instance advances the chain far PAST the 32-probe cap
    val b = new KeyValueTable(spark, work, "t", 2, hadoopConf = conf)
    val gap = 64
    for (i <- 1 to gap) b.put(kv(s"k$i" -> s"v$i"))
    import graft.catalog.CountingOsFs.{listCalls, statusCalls}
    val s0 = statusCalls.get()
    val l0 = listCalls.get()
    // a's capped walk abandons probing, takes the listing, serves the tip
    assert(a.currentVersion == 1L + gap)
    val probes = statusCalls.get() - s0
    val lists = listCalls.get() - l0
    // without the cap this read pays ~gap sequential exists() GETs
    assert(lists >= 1, "LIST fallback did not engage")
    assert(probes <= 40L, s"far-behind read made $probes point GETs (walk not capped)")
    assert(a.entries().count() == 1L + gap)
    // hint repaired: the next read stays on the fast path, LIST-free
    b.put(kv("zz" -> "tail"))
    val l1 = listCalls.get()
    assert(a.currentVersion == 2L + gap)
    assert(listCalls.get() == l1, "warm read re-listed _meta")
  }

  // the CAS winner of tip+1 died between the exclusive create and its
  // write: the zero-byte record must cost one version of staleness, never
  // the table (reads, fsck) — and commits must fail loudly, not parse-crash
  for (contract <- Seq("local", "objectstore")) {
    test(s"[$contract] a torn tip manifest: reads serve the tip, fsck reports, commits fail loudly") {
      val conf = new org.apache.hadoop.conf.Configuration()
      val fsImpl = classOf[graft.storage.LaggedObjectStoreFs].getName
      if (contract == "objectstore") {
        conf.set("fs.oscas.impl", fsImpl)
        spark.sparkContext.hadoopConfiguration.set("fs.oscas.impl", fsImpl)
      }
      val dir = Files.createTempDirectory(s"graft-kv-torn-$contract").toString
      val root = if (contract == "objectstore") "oscas://" + dir else dir
      val t = new KeyValueTable(spark, root, "t", 2, hadoopConf = conf)
      for (i <- 1 to 3) t.put(kv(s"k$i" -> s"v$i"))
      val tip = t.currentVersion
      Files.write(java.nio.file.Paths.get(dir, "t", "_meta", f"manifest-${tip + 1}%012d.json"),
        Array.empty[Byte])
      // a warm and a cold instance both serve the tip's state
      for (r <- Seq(t, new KeyValueTable(spark, root, "t", 2, hadoopConf = conf))) {
        assert(r.get("k3").map(p => new String(p._1, "UTF-8")).contains("v3"))
        assert(r.entries().count() == 3L)
        assert(r.currentVersion == tip)
      }
      val e = intercept[graft.core.GraftException](t.entriesAt(tip + 1))
      assert(e.getMessage.contains(s"version ${tip + 1}"), e.getMessage)
      val issues = t.fsck()
      assert(issues.exists(_.startsWith("manifest-torn")), issues.mkString("; "))
      // every CAS loses to the torn record until the retries run out
      intercept[ConditionalCheckFailedException](t.put(kv("k4" -> "v4")))
      assert(t.currentVersion == tip && t.get("k4").isEmpty)
    }
  }

  test("stream -> KV materialized view via foreachBatch (latest value per key)") {
    // the reference pairing of streams and table segments: a stream of
    // events folded into a keyed table, exactly-once per micro-batch
    import graft.storage.GraftStreams
    import graft.core.StreamConfig
    val root = Files.createTempDirectory("graft-kvmv").toString
    val g = new GraftStreams(spark, root)
    g.catalog.createScope("s")
    g.catalog.createStream("s", "ev", StreamConfig(initialSegments = 2))
    val t = new KeyValueTable(spark, root + "/kv", "view", partitionCount = 4)

    def evBatch(tag: String, n: Int) = spark.range(n).select(
      concat(lit("u"), col("id") % 10).as("routingKey"),
      (lit(1704067200000L) + col("id")).as("eventTime"),
      encode(concat(lit(tag), lit("#"), col("id")), "UTF-8").as("payload"))

    g.writeEvents("s", "ev", evBatch("a", 100))
    val q = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", "s").option("stream", "ev")
      .load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        // latest event per key within the batch → one atomic KV commit
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("routingKey"))
          .orderBy(col("segmentId").desc, col("offset").desc)
        t.put(df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("routingKey").as("pk"), lit("").as("sk"),
            col("payload").as("value")))
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("graft-kvmv-ck").toString)
      .start()
    try {
      q.processAllAvailable()
      g.writeEvents("s", "ev", evBatch("b", 50))
      q.processAllAvailable()
      val resolved = t.entries()
        .select($"pk", decode($"value", "UTF-8").as("v")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(resolved.size == 10)
      // keys u0..u9: batch b wrote ids 0..49, so the latest value per key
      // is b#(40+k) for key u(k%10)... each key's max id in batch b
      (0 until 10).foreach { k =>
        assert(resolved(s"u$k") == s"b#${40 + k}", s"key u$k -> ${resolved(s"u$k")}")
      }
    } finally q.stop()
  }

  test("StateSynchronizer: CAS revisions, lost race, update loop") {
    val root = Files.createTempDirectory("graft-state").toString
    val s1 = new StateSynchronizer(root, "rg")
    assert(s1.fetch() == (-1L, None))
    val r0 = s1.writeConditionally(-1L, "state0")
    assert(r0 == 0L)
    // stale writer loses
    assertThrows[ConditionalCheckFailedException](s1.writeConditionally(-1L, "conflict"))
    // two synchronizers over the same state converge via updateState
    val s2 = new StateSynchronizer(root, "rg")
    s1.updateState(cur => cur.getOrElse("") + "+a")
    s2.updateState(cur => cur.getOrElse("") + "+b")
    assert(s1.fetch()._2 == Some("state0+a+b"))
    s1.compact(keep = 1)
    assert(s1.fetch()._2 == Some("state0+a+b"))
  }
}
