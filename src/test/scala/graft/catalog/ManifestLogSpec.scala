package graft.catalog

import graft.core._
import org.json4s.DefaultFormats
import org.json4s.jackson.JsonMethods

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Incremental manifest log (delta records + periodic checkpoints):
  * on-disk cadence, exact state reconstruction through mixed operations,
  * as-of reads at delta versions, torn-tip vs broken-chain distinction,
  * cross-instance tailing, recreate, GC and the retention floor. The log
  * cases run once per store — a stream through its catalog and a
  * key-value table (`[kv]` in the name) — since both keep their state in
  * the one [[ManifestLog]]. ManifestBench carries the wall-clock
  * evidence (p50 commit flat 2–5 ms from 10^3 to 10^6 live files); this
  * spec carries the semantics.
  */
class ManifestLogSpec extends AnyFunSuite {
  private implicit val fmts: DefaultFormats.type = DefaultFormats

  private def fresh(interval: Int = 4): (String, StreamCatalog) = {
    val root = Files.createTempDirectory("graft-mlog").toString
    (root, new StreamCatalog(rootDir = root, checkpointInterval = interval))
  }

  private def rawKind(meta: Path, v: Long): String = {
    val jv = JsonMethods.parse(new String(
      Files.readAllBytes(meta.resolve(f"manifest-$v%012d.json")), StandardCharsets.UTF_8))
    jv \ "kind" match {
      case org.json4s.JString(k) => k
      case _ => "legacy-full"
    }
  }

  private def fe(i: Int, seg: Long = 0L, off: Long = -1L): FileEntry =
    FileEntry(seg, s"data/part-$i-${java.util.UUID.randomUUID()}.parquet",
      if (off >= 0) off else i * 100L, 100L, 0L, 99L, 1, 1024L)

  /** One instance of a store's log, as the shared cases drive it. Every
    * `append` commits one more live file, so the state at version v lists
    * exactly v files; `state` is the store's whole state at a version.
    */
  private trait LogHandle {
    def append(i: Int): Unit
    /** One commit adding a live file per element. */
    def appendAll(is: Seq[Int]): Unit
    def tip(): (Long, Int)
    def at(v: Long): (Long, Int)
    def state(v: Option[Long] = None): AnyRef
    def incarnation: String
    /** (live file paths, tombstoned paths) at a version (None = tip). */
    def paths(v: Option[Long] = None): (Seq[String], Seq[String])
    /** Version numbers the log's listing resolves, ascending. */
    def versions(): Seq[Long]
    /** Retire live files to tombstones (stream: a truncate-shaped update
      * of the first file, then a retag through `updateStreamTags`, a
      * small field riding wholesale; KV: compaction, which replaces them
      * all).
      */
    def retire(): Unit
    /** Clear every tombstone. */
    def sweep(): Unit
    def gc(keep: Int): Seq[Long]
    def floor: Long
    /** Delete the log and create it anew under the same name. */
    def recreate(): Unit
    def fsckKinds(): Seq[String]
  }

  /** A store whose log the shared cases run against. */
  private trait Store {
    def tag: String
    def interval: Int
    def fixture(contract: String = "local"): Fixture
  }

  private trait Fixture {
    /** The log's `_meta` directory on the local disk. */
    def meta: Path
    /** A new instance on the same root, sharing no cache. */
    def open(): LogHandle
  }

  private def contractRoot(contract: String, tag: String): (String, String, org.apache.hadoop.conf.Configuration) = {
    val conf = new org.apache.hadoop.conf.Configuration()
    if (contract == "objectstore")
      conf.set("fs.oscas.impl", classOf[graft.storage.LaggedObjectStoreFs].getName)
    val dir = Files.createTempDirectory(s"graft-mlog-$tag-$contract").toString
    (dir, if (contract == "objectstore") "oscas://" + dir else dir, conf)
  }

  private object StreamStore extends Store {
    val tag = ""
    val interval = 4
    def fixture(contract: String): Fixture = {
      val (dir, root, conf) = contractRoot(contract, "s")
      val c = new StreamCatalog(root, conf, interval)
      c.createScope("s")
      c.createStream("s", "x", StreamConfig(initialSegments = 1))
      new Fixture {
        val meta: Path = Paths.get(dir, "s", "x", "_meta")
        def open(): LogHandle = new LogHandle {
          private val c = new StreamCatalog(root, conf, interval)
          private def n(m: StreamMetadata) = (m.version, m.files.size)
          def append(i: Int): Unit = c.update("s", "x")(m => m.copy(files = m.files :+ fe(i))): Unit
          def appendAll(is: Seq[Int]): Unit =
            c.update("s", "x")(m => m.copy(files = m.files ++ is.map(i => fe(i, seg = i % 2)))): Unit
          def tip(): (Long, Int) = n(c.getStream("s", "x"))
          def at(v: Long): (Long, Int) = n(c.getStreamAt("s", "x", v))
          def state(v: Option[Long]): AnyRef = v.fold(c.getStream("s", "x"))(c.getStreamAt("s", "x", _))
          def incarnation: String = c.getStream("s", "x").incarnation
          def paths(v: Option[Long]): (Seq[String], Seq[String]) = {
            val m = v.fold(c.getStream("s", "x"))(c.getStreamAt("s", "x", _))
            (m.files.map(_.path), m.pendingDeletes.map(_.path))
          }
          def versions(): Seq[Long] = c.manifestVersions("s", "x")
          def retire(): Unit = {
            c.update("s", "x") { m =>
              m.copy(files = m.files.tail,
                pendingDeletes = m.pendingDeletes :+ PendingDelete(m.files.head.path, 1L))
            }
            c.updateStreamTags("s", "x", Set("retired")): Unit
          }
          def sweep(): Unit = c.update("s", "x")(m => m.copy(pendingDeletes = Nil)): Unit
          def gc(keep: Int): Seq[Long] = c.gcManifests("s", "x", keep)
          def floor: Long = c.manifestFloor("s", "x")
          def recreate(): Unit = {
            c.sealStream("s", "x")
            c.deleteStream("s", "x")
            c.createStream("s", "x", StreamConfig(initialSegments = 2)): Unit
          }
          // this spec's FileEntry paths are synthetic: only chain kinds count
          def fsckKinds(): Seq[String] = graft.tools.Fsck.checkRoot(root, hadoopConf = Some(conf))
            .map(_.kind).filterNot(_ == "file-missing")
        }
      }
    }
  }

  private object KvStore extends Store {
    val tag = "[kv] "
    val interval: Int = StreamCatalog.DefaultCheckpointInterval
    private lazy val spark = {
      val s = graft.SparkTestSession.spark
      s.sparkContext.hadoopConfiguration
        .set("fs.oscas.impl", classOf[graft.storage.LaggedObjectStoreFs].getName)
      s
    }
    def fixture(contract: String): Fixture = {
      val (dir, root, conf) = contractRoot(contract, "kv")
      val sp = spark
      import sp.implicits._
      import org.apache.spark.sql.functions.{encode, lit}
      new Fixture {
        val meta: Path = Paths.get(dir, "t", "_meta")
        def open(): LogHandle = new LogHandle {
          private val t = new graft.kv.KeyValueTable(sp, root, "t", partitionCount = 2,
            deleteGraceMillis = 0L, hadoopConf = conf)
          private def n(m: graft.kv.KvManifest) = (m.version, m.files.size)
          def append(i: Int): Unit = appendAll(Seq(i))
          def appendAll(is: Seq[Int]): Unit = t.put(is.map(i => s"k$i").toDF("pk")
            .select($"pk", lit("").as("sk"), encode($"pk", "UTF-8").as("value"))): Unit
          def tip(): (Long, Int) = n(t.manifestAt(None))
          def at(v: Long): (Long, Int) = n(t.manifestAt(Some(v)))
          def state(v: Option[Long]): AnyRef = t.manifestAt(v)
          def incarnation: String = t.incarnation
          def paths(v: Option[Long]): (Seq[String], Seq[String]) = {
            val m = t.manifestAt(v)
            (m.files.map(_.path), m.pendingDeletes.map(_.path))
          }
          def versions(): Seq[Long] = t.manifestVersions
          def retire(): Unit = t.compact()
          def sweep(): Unit = t.sweepDeletes(): Unit
          def gc(keep: Int): Seq[Long] = t.gcManifests(keep)
          def floor: Long = t.manifestFloor
          def recreate(): Unit = {
            val p = new org.apache.hadoop.fs.Path(root, "t")
            p.getFileSystem(conf).delete(p, true): Unit
          }
          def fsckKinds(): Seq[String] = t.fsck().map(_.takeWhile(_ != ':'))
        }
      }
    }
  }

  /** Where gc puts the floor for a cut (see [[ManifestLog.gc]]). */
  private def floorOf(store: Store, tip: Long, keep: Int): Long = {
    val cut = tip - keep
    if (cut >= store.interval) cut / store.interval * store.interval else cut
  }

  private def sidecar(meta: Path, v: Long): Path = meta.resolve(f"checkpoint-$v%012d.json")

  for (store <- Seq(StreamStore, KvStore)) {
    val tag = store.tag
    val iv = store.interval

    test(s"${tag}cadence: every commit is a delta; checkpoints land out-of-band") {
      val fx = store.fixture()
      val w = fx.open()
      val n = 2 * iv + 1
      for (i <- 1 to n) {
        w.append(i)
        // drain per commit: the checkpointer COALESCES per log (newest
        // pending wins), so without a flush a lagging executor would only
        // write the newest eligible sidecar — this test asserts the
        // per-version cadence, so keep it in lockstep
        ManifestLog.flushCheckpoints()
      }
      // v0 is the full identity record; the chain itself never carries
      // O(files) records after it
      assert(rawKind(fx.meta, 0) == ManifestRecord.Full)
      for (v <- 1L to n)
        assert(rawKind(fx.meta, v) == ManifestRecord.Delta, s"v$v should be delta")
      def sidecarOk(v: Long): Boolean = {
        val jv = JsonMethods.parse(new String(Files.readAllBytes(sidecar(fx.meta, v)), StandardCharsets.UTF_8))
        (jv \ "version").extract[Long] == v && (jv \ "files").children.size == v.toInt
      }
      for (v <- Seq(iv.toLong, 2L * iv)) {
        assert(Files.exists(sidecar(fx.meta, v)), s"sidecar for v$v missing")
        assert(sidecarOk(v))
      }
      assert(!Files.exists(sidecar(fx.meta, n)))
      // a lost sidecar (crashed checkpointer) is an OPTIMIZATION loss,
      // not corruption: reads fall back to delta replay transparently…
      Files.delete(sidecar(fx.meta, 2L * iv))
      val r = fx.open()
      assert(r.tip() == ((n.toLong, n)))
      assert(r.at(2L * iv) == ((2L * iv, 2 * iv)))
      // …and the walk READ-REPAIRS the hole from the replayed state, so a
      // read-mostly log (no further commits) heals itself
      ManifestLog.flushCheckpoints()
      assert(Files.exists(sidecar(fx.meta, 2L * iv)), "missing sidecar not read-repaired")
      assert(sidecarOk(2L * iv))
    }

    test(s"${tag}mixed append/remove/small-field ops reconstruct exactly") {
      val fx = store.fixture()
      val w = fx.open()
      // appends of two files per commit (prefix fast path)
      for (i <- 1 to 3) w.appendAll(Seq(i, 100 + i))
      val (before, _) = w.paths()
      // a removal + tombstone (slow-path diff), like truncate/compaction
      w.retire()
      val retired = w.state()
      val retiredAt = w.tip()._1
      val victims = before.filterNot(w.paths()._1.toSet)
      assert(victims.nonEmpty)
      w.append(4)
      // clearing tombstones (slow-path diff of the pending list)
      w.sweep()
      w.append(5)
      val last = w.state()
      val lastV = w.tip()._1
      // a FRESH instance (no cache) replays the chain to the same state
      val r = fx.open()
      assert(r.state() == last, "replayed state must equal the writer's committed state")
      assert(r.state(Some(retiredAt)) == retired)
      val (live, tombs) = fx.open().paths(Some(retiredAt))
      assert(victims.forall(p => !live.contains(p) && tombs.contains(p)))
      assert(r.paths()._2.isEmpty)
      for (v <- 1L to lastV) assert(fx.open().state(Some(v)) == r.state(Some(v)), s"as-of v$v")
    }

    test(s"${tag}as-of reads resolve at delta versions; cache stays tip-monotone") {
      val fx = store.fixture()
      val w = fx.open()
      val states = (1 to 7).map { i => w.append(i); w.state() }
      val r = fx.open()
      // read an OLD delta version first…
      assert(r.state(Some(3L)) == states(2), "as-of state at a delta version")
      assert(r.at(3L) == ((3L, 3)))
      // …then the tip still reads as the tip (old read must not shadow it)
      assert(r.state() == states.last)
      // and every version is individually addressable
      for ((st, i) <- states.zipWithIndex)
        assert(r.state(Some(i + 1L)) == st, s"as-of v${i + 1}")
    }

    test(s"${tag}torn tip falls back one version; broken chain fails loudly") {
      val fx = store.fixture()
      val w = fx.open()
      val n = iv + 2
      for (i <- 1 to n) w.append(i)
      ManifestLog.flushCheckpoints()

      // torn tip: version n+1 exists with zero bytes (CAS winner crashed)
      val torn = fx.meta.resolve(f"manifest-${n + 1L}%012d.json")
      Files.write(torn, Array.empty[Byte])
      assert(fx.open().tip()._1 == n.toLong, "torn tip → fall back one version")
      assert(fx.open().fsckKinds().contains("manifest-torn"))
      Files.delete(torn)

      // broken chain: CORRUPT a committed mid-chain delta (between the
      // checkpoint and the tip) — present but truncated bytes must
      // classify exactly like a missing record (a parse failure below the
      // requested version is storage corruption, not a torn tip), never
      // silently serve the checkpoint
      val hole = fx.meta.resolve(f"manifest-${iv + 1L}%012d.json")
      val intact = Files.readAllBytes(hole)
      Files.write(hole, intact.take(intact.length / 2))
      assertThrows[ManifestChainBrokenException](fx.open().tip())
      assertThrows[ManifestChainBrokenException](fx.open().at(n.toLong))
      // …and the same for a missing mid-chain record
      Files.delete(hole)
      val r = fx.open()
      assertThrows[ManifestChainBrokenException](r.tip())
      // versions at or below the checkpoint stay readable
      assert(r.at(iv.toLong) == ((iv.toLong, iv)))
    }

    test(s"${tag}cross-instance tailing applies one delta per new version") {
      val fx = store.fixture()
      val w = fx.open()
      val reader = fx.open()
      assert(reader.tip()._1 == 0L)
      for (i <- 1 to 5) {
        w.append(i)
        assert(reader.tip() == ((i.toLong, i)))
      }
    }

    // delete+recreate restarts the version chain, so version numbers
    // collide across incarnations — a cached tip of the DEAD incarnation
    // must never be served once another instance recreates the log.
    // Parameterized over both FS contracts like ConcurrencySpec.
    for (contract <- Seq("local", "objectstore")) {
      test(s"$tag[$contract] recreate across instances invalidates the cached tip") {
        val fx = store.fixture(contract)
        val a = fx.open()
        for (i <- 1 to 3) a.append(i)
        val oldTip = a.state() // instance A caches tip v3 (a delta)
        val oldInc = a.incarnation
        assert(a.tip()._1 == 3L && oldInc.nonEmpty)

        // instance B: delete + recreate the SAME name, then commit the new
        // chain to the colliding version 3
        val b = fx.open()
        b.recreate()
        for (i <- 1 to 3) b.append(100 + i)
        val newTip = b.state()
        assert(b.tip()._1 == 3L && b.incarnation != oldInc)

        // A's cache holds the dead incarnation at the SAME version — the
        // equality fast path must detect and replace it
        assert(a.state() == newTip, "instance A served the dead incarnation's cached tip")
        assert(a.state() != oldTip)

        // and the delta-base path (cached version < requested) too
        b.append(104)
        assert(a.state() == b.state())
        // as-of reads address the NEW incarnation's history
        assert(a.state(Some(1L)) == b.state(Some(1L)))
      }
    }

    test(s"${tag}gc with a crashed checkpointer repairs the floor base first") {
      val fx = store.fixture()
      val w = fx.open()
      val n = 2 * iv + 5
      for (i <- 1 to n) w.append(i)
      ManifestLog.flushCheckpoints()
      val fl = 2L * iv
      assert(floorOf(store, n, 5) == fl)
      // simulate the checkpointer having crashed at the floor's write
      // (under a lagging shared executor the coalescer may have skipped
      // it anyway — same scenario, so a missing file is fine)
      Files.deleteIfExists(sidecar(fx.meta, fl))
      assert(w.gc(keep = 5) == (1L until fl))
      assert(w.floor == fl)
      // the base was re-established synchronously before any delete
      assert(Files.exists(sidecar(fx.meta, fl)))
      assert(fx.open().at(fl + 1) == ((fl + 1, fl.toInt + 1)))
    }

    // GC + list-lag DOUBLE-BLIND (GcRaceSpec caught it live; this is the
    // deterministic pin): gc retires [1, floor) while the lag window
    // still hides every RETAINED manifest from listings, so a fresh
    // instance's listing collapses to at most {manifest-0} — probe-past-max
    // dies at the first retired version and, before the floor-probe
    // recovery, the read silently reconstructed the EMPTY creation state.
    // The floor marker is the recovery base: retained by the gc contract
    // (base verified → marker written → deletes), so probing forward from
    // it always rediscovers the chain.
    test(s"${tag}gc + list-lag double-blind: fresh instance recovers the chain from the floor") {
      val fx = store.fixture("objectstore")
      val prev = graft.storage.LaggedObjectStoreFs.lagMs
      try {
        val a = fx.open()
        for (i <- 1 to 10) a.append(i)
        // every FURTHER manifest stays invisible to LIST for an hour —
        // exact-key reads stay consistent (the object-store contract)
        graft.storage.LaggedObjectStoreFs.lagMs = 3600000L
        for (i <- 11 to 14) a.append(i)
        ManifestLog.flushCheckpoints()
        // tip 14, keep 2 → floor 12: the whole retained chain [12..14]
        // sits inside the lag window, [1, 12) is deleted
        assert(floorOf(store, 14, 2) == 12L)
        assert(a.gc(keep = 2) == (1L to 11L))
        assert(a.floor == 12L)

        val b = fx.open()
        assert(b.tip() == ((14L, 14)),
          "fresh instance resolved a shorter chain — the empty-creation-state answer is the bug this pins")
        assert(b.versions() == (0L +: (12L to 14L)))
        for (v <- 12L to 14L) assert(b.at(v) == ((v, v.toInt)), s"as-of v$v")
        // commits keep extending the recovered chain
        b.append(99)
        assert(b.tip()._1 == 15L)
      } finally graft.storage.LaggedObjectStoreFs.lagMs = prev
    }

    // …and when the floor names a retained chain that is GENUINELY gone
    // (not lag-hidden), resolution must fail loudly — the silent
    // alternative is answering with the empty creation state — while
    // fsck reports the state instead of crashing on it.
    test(s"${tag}floor with no readable retained chain: loud failure; fsck classifies") {
      val fx = store.fixture()
      val w = fx.open()
      for (i <- 1 to 14) w.append(i)
      ManifestLog.flushCheckpoints()
      val fl = floorOf(store, 14, 5)
      assert(w.gc(keep = 5).nonEmpty && w.floor == fl)
      // storage loses the ENTIRE retained chain (v0 + floor marker survive)
      for (v <- fl to 14L) Files.deleteIfExists(fx.meta.resolve(f"manifest-$v%012d.json"))
      assertThrows[ManifestChainBrokenException](fx.open().tip())
      val kinds = fx.open().fsckKinds()
      assert(kinds.contains("gc-floor-base"), kinds.mkString("; "))
    }
  }

  test("manifest GC retires history below a verified checkpoint floor") {
    val (root, c) = fresh(interval = 4)
    c.createScope("s")
    c.createStream("s", "x", StreamConfig(initialSegments = 1))
    for (i <- 1 to 14) c.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
    c.flushCheckpoints()
    // keep 5 behind tip 14 → cut 9 → floor lands on eligible v8
    val retired = c.gcManifests("s", "x", keepVersions = 5)
    assert(retired == (1L to 7L), s"retired $retired")
    assert(c.manifestFloor("s", "x") == 8L)
    // v0 (identity) + [8..14] remain; (0,8) gone
    assert(c.manifestVersions("s", "x") == (0L +: (8L to 14L)))
    // everything at/above the floor reconstructs — from a FRESH instance
    val c2 = new StreamCatalog(root, checkpointInterval = 4)
    assert(c2.getStream("s", "x").files.size == 14)
    for (v <- 8L to 14L)
      assert(c2.getStreamAt("s", "x", v).files.size == v.toInt, s"as-of v$v")
    // below the floor fails loudly at resolution (retention contract)
    assertThrows[NoSuchStreamException](c2.getStreamAt("s", "x", 5L))
    // the incarnation guard still validates (v0 retained): a cached tip
    // keeps working across instances
    assert(c2.getStream("s", "x") == c.getStream("s", "x"))
    // idempotent / monotone: re-running with the same window is a no-op
    assert(c.gcManifests("s", "x", keepVersions = 5).isEmpty)
    // commits continue normally after GC
    val next = c.update("s", "x")(m => m.copy(files = m.files :+ fe(99)))
    assert(next.version == 15L && next.files.size == 15)
    // Fsck sees retention, not corruption (this spec's FileEntry paths
    // are synthetic, so only the chain/floor kinds are meaningful here)
    def chainKinds(): Seq[String] = graft.tools.Fsck.checkRoot(root)
      .map(_.kind).filter(k => k == "manifest-chain" || k == "gc-floor-base")
    assert(chainKinds().isEmpty, chainKinds().mkString("; "))
    // …but a LOST floor base after GC is corruption and is reported
    Files.delete(Paths.get(root, "s", "x", "_meta", f"checkpoint-${8L}%012d.json"))
    assert(chainKinds().contains("gc-floor-base"))
  }

  test("TIMESTAMP AS OF resolves from record-level committedAt stamps") {
    val (_, c) = fresh(interval = 4)
    c.createScope("s")
    c.createStream("s", "x", StreamConfig(initialSegments = 1))
    val v1 = c.update("s", "x")(m => m.copy(files = m.files :+ fe(1)))
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    c.update("s", "x")(m => m.copy(files = m.files :+ fe(2)))
    assert(c.versionAtTime("s", "x", mid).contains(v1.version))
    assert(c.versionAtTime("s", "x", System.currentTimeMillis() + 1000L).contains(v1.version + 1))
  }

  test("TIMESTAMP AS OF binary search: every boundary of a deep chain") {
    val (_, c) = fresh(interval = 4)
    c.createScope("s")
    c.createStream("s", "x", StreamConfig(initialSegments = 1))
    // burst commits: consecutive stamps tie at millisecond granularity
    // (the commit-time clamp guarantees they never invert) — the
    // bisection must return max{v : stamp(v) <= t} exactly, ties and all
    val states = (1 to 50).map(i => c.update("s", "x")(m => m.copy(files = m.files :+ fe(i))))
    for (st <- states) {
      val expected = states.filter(_.committedAt <= st.committedAt).map(_.version).max
      assert(c.versionAtTime("s", "x", st.committedAt).contains(expected),
        s"instant ${st.committedAt} (stamp of v${st.version}) should resolve to v$expected")
    }
    // before creation → None
    val v0Stamp = c.getStreamAt("s", "x", 0L).committedAt
    assert(c.versionAtTime("s", "x", v0Stamp - 1L).isEmpty)
    // far future → tip
    assert(c.versionAtTime("s", "x", Long.MaxValue / 2).contains(50L))
  }

  test("TIMESTAMP AS OF tip/floor race: a stale tip snapshot re-reads instead of silently returning None") {
    // versionAtTime snapshots the tip BEFORE the floor — a gc racing
    // fast commits can advance the floor past the stale snapshot (r13
    // ADVICE: lo > tip made the bisection range negative and the query
    // silently returned None for a resolvable time). Replay the exact
    // interleaving deterministically: the FIRST tip read returns a
    // pre-gc value below the floor; the fix re-reads the tip and the
    // bisection resolves normally.
    val (root, c) = fresh(interval = 4)
    c.createScope("s")
    c.createStream("s", "x", StreamConfig(initialSegments = 1))
    for (i <- 1 to 20) c.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
    c.flushCheckpoints()
    assert(c.gcManifests("s", "x", keepVersions = 4).nonEmpty)
    val floor = c.manifestFloor("s", "x")
    assert(floor > 2L)
    val racy = new StreamCatalog(root, new org.apache.hadoop.conf.Configuration(),
        checkpointInterval = 4) {
      private val first = new java.util.concurrent.atomic.AtomicBoolean(true)
      override def getStream(scope: String, stream: String): StreamMetadata = {
        val m = super.getStream(scope, stream)
        if (first.getAndSet(false)) m.copy(version = floor - 2L) else m
      }
    }
    assert(racy.versionAtTime("s", "x", System.currentTimeMillis() + 1000L).contains(20L),
      "a resolvable instant must resolve despite the stale tip snapshot")
  }

  test("TIMESTAMP AS OF inside GC-retired history fails loudly") {
    val (_, c) = fresh(interval = 4)
    c.createScope("s")
    c.createStream("s", "x", StreamConfig(initialSegments = 1))
    val early = (1 to 6).map(i => c.update("s", "x")(m => m.copy(files = m.files :+ fe(i))))
    Thread.sleep(10)
    val retiredInstant = System.currentTimeMillis()
    Thread.sleep(10)
    for (i <- 7 to 20) c.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
    c.flushCheckpoints()
    assert(c.gcManifests("s", "x", keepVersions = 4).nonEmpty)
    val floor = c.manifestFloor("s", "x")
    assert(floor > 6L)
    // an instant that WOULD have resolved below the floor must not
    // silently resolve to the v0 creation state (an empty stream)
    assertThrows[TruncatedDataException](
      c.versionAtTime("s", "x", retiredInstant))
    assertThrows[TruncatedDataException](
      c.versionAtTime("s", "x", early.last.committedAt))
    // before creation is still None (the stream didn't exist — that is
    // not retention), and retained history still resolves normally
    assert(c.versionAtTime("s", "x", c.getStreamAt("s", "x", 0L).committedAt - 1L).isEmpty)
    assert(c.versionAtTime("s", "x", System.currentTimeMillis() + 1000L).contains(20L))
    // the floor's own stamp resolves INSIDE retained history (ties with
    // later same-millisecond commits allowed — max qualifying version)
    val atFloor = c.getStreamAt("s", "x", floor)
    val expected = (floor to 20L)
      .filter(v => c.getStreamAt("s", "x", v).committedAt <= atFloor.committedAt).max
    assert(c.versionAtTime("s", "x", atFloor.committedAt).contains(expected))
  }

  test("stale cached tip: capped probe walk falls back to the LIST path") {
    val (root, a) = fresh(interval = 4)
    a.createScope("s")
    a.createStream("s", "x", StreamConfig(initialSegments = 1))
    a.getStream("s", "x") // A caches tip v0
    // another instance advances the chain FAR past A's cache (>> 2×interval)
    val b = new StreamCatalog(root, checkpointInterval = 4)
    for (i <- 1 to 40) b.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
    // A's capped walk must abandon probing and still serve the true tip
    val seen = a.getStream("s", "x")
    assert(seen.version == 40L && seen.files.size == 40)
    // …and after the fallback repaired the cache, the next read is warm
    b.update("s", "x")(m => m.copy(files = m.files :+ fe(41)))
    assert(a.getStream("s", "x").version == 41L)
  }

  test("capped walk engages the LIST fallback instead of per-version probes") {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.cntfs.impl", classOf[CountingOsFs].getName)
    val dir = Files.createTempDirectory("graft-mlog-cnt").toString
    val root = "cntfs://" + dir
    val a = new StreamCatalog(root, conf, checkpointInterval = 4)
    a.createScope("s")
    a.createStream("s", "x", StreamConfig(initialSegments = 1))
    a.getStream("s", "x") // A caches tip v0
    val b = new StreamCatalog(root, conf, checkpointInterval = 4)
    for (i <- 1 to 200) b.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
    b.flushCheckpoints()
    val s0 = CountingOsFs.statusCalls.get()
    val l0 = CountingOsFs.listCalls.get()
    val seen = a.getStream("s", "x")
    val probes = CountingOsFs.statusCalls.get() - s0
    val lists = CountingOsFs.listCalls.get() - l0
    assert(seen.version == 200L && seen.files.size == 200)
    // without the cap this read pays ~201 sequential exists() GETs; the
    // capped walk stops at 2×interval and takes ONE listing instead
    assert(lists >= 1, "LIST fallback did not engage")
    assert(probes <= 40L, s"stale-cache read made $probes point GETs (walk not capped)")
    // steady state is untouched: the repaired cache makes the next read
    // LIST-free again
    b.update("s", "x")(m => m.copy(files = m.files :+ fe(201)))
    val l1 = CountingOsFs.listCalls.get()
    assert(a.getStream("s", "x").version == 201L)
    assert(CountingOsFs.listCalls.get() == l1, "warm read re-listed _meta")
  }

  // the TOCTOU seams around deleteStream vs an in-flight checkpointer on
  // ANOTHER instance (same-instance drains are covered by deleteStream
  // itself). Parameterized over both FS contracts.
  for (contract <- Seq("local", "objectstore")) {
    def freshRoot(tag: String): (String, org.apache.hadoop.conf.Configuration) = {
      val conf = new org.apache.hadoop.conf.Configuration()
      if (contract == "objectstore")
        conf.set("fs.oscas.impl", classOf[graft.storage.LaggedObjectStoreFs].getName)
      val dir = Files.createTempDirectory(s"graft-mlog-$tag-$contract").toString
      (if (contract == "objectstore") "oscas://" + dir else dir, conf)
    }

    test(s"[$contract] a v0-less _meta residue is not a stream: create/list recover") {
      val (root, conf) = freshRoot("residue")
      val a = new StreamCatalog(root, conf, checkpointInterval = 4)
      a.createScope("s")
      a.createStream("s", "x", StreamConfig(initialSegments = 1))
      for (i <- 1 to 4) a.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
      a.flushCheckpoints()
      a.sealStream("s", "x")
      a.deleteStream("s", "x")
      // manufacture the worst-case residue a raced checkpointer can
      // leave: _meta holding ONLY a sidecar, no chain records at all
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      val meta = new org.apache.hadoop.fs.Path(s"$root/s/x/_meta")
      fs.mkdirs(meta)
      val side = new org.apache.hadoop.fs.Path(meta, f"checkpoint-${4L}%012d.json")
      val out = fs.create(side, true)
      out.write("{}".getBytes("UTF-8")); out.close()
      // the residue is invisible to listings (so listStreamsByTag can't
      // trip over it) and does not block re-creation of the name
      val b = new StreamCatalog(root, conf, checkpointInterval = 4)
      assert(!b.listStreams("s").contains("x"))
      assert(b.listStreamsByTag("s", "t").isEmpty)
      val recreated = b.createStream("s", "x", StreamConfig(initialSegments = 2))
      assert(recreated.version == 0L && recreated.segments.size == 2)
      assert(b.listStreams("s") == Seq("x"))
      // the dead incarnation's sidecar must not shadow the new chain
      assert(b.getStream("s", "x").incarnation == recreated.incarnation)
      for (i <- 1 to 5) b.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
      assert(new StreamCatalog(root, conf, checkpointInterval = 4)
        .getStream("s", "x").files.size == 5)
    }

    test(s"[$contract] a remote instance's queued checkpointer races deleteStream") {
      // IN-PROCESS, deleteStream's flushCheckpoints drains the shared
      // executor, so the race only exists across JVMs — simulated here
      // by a direct recursive delete (what a remote deleteStream's
      // fs.delete looks like to THIS JVM) while a repair sits gated in
      // the local checkpointer queue.
      val (root, conf) = freshRoot("ckptrace")
      val a = new StreamCatalog(root, conf, checkpointInterval = 4)
      a.createScope("s")
      a.createStream("s", "x", StreamConfig(initialSegments = 1))
      for (i <- 1 to 8) a.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
      a.flushCheckpoints()
      // instance B queues a read-repair sidecar write for v8 — hold the
      // shared checkpointer thread on a latch so the write is provably
      // IN THE QUEUE while the stream is deleted under it
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/s/x/_meta", f"checkpoint-${8L}%012d.json"), false)
      val gate = new java.util.concurrent.CountDownLatch(1)
      ManifestLog.ckptExec.submit(new Runnable { override def run(): Unit = gate.await() })
      val b = new StreamCatalog(root, conf, checkpointInterval = 4)
      assert(b.getStream("s", "x").version == 8L) // queues the v8 repair behind the gate
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/s/x"), true) // "remote" deleteStream
      gate.countDown()
      b.flushCheckpoints() // B's queued write now runs against a deleted stream
      // whatever the interleaving left behind, the name must be fully
      // recoverable: invisible to listings, reported nonexistent, and
      // creatable again
      val c2 = new StreamCatalog(root, conf, checkpointInterval = 4)
      assert(!c2.listStreams("s").contains("x"))
      assert(c2.listStreamsByTag("s", "t").isEmpty)
      val recreated = c2.createStream("s", "x", StreamConfig(initialSegments = 1))
      assert(recreated.version == 0L)
      assert(c2.getStream("s", "x").incarnation == recreated.incarnation)
      // B (stale cache, dead incarnation) converges on the new stream too
      assert(b.getStream("s", "x").incarnation == recreated.incarnation)
    }
  }
}
