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
  * and cross-instance tailing. ManifestBench carries the wall-clock
  * evidence (p50 commit flat 2–5 ms from 10^3 to 10^6 live files); this
  * spec carries the semantics.
  */
class ManifestLogSpec extends AnyFunSuite {
  private implicit val fmts: DefaultFormats.type = DefaultFormats

  private def fresh(interval: Int = 4): (String, StreamCatalog) = {
    val root = Files.createTempDirectory("graft-mlog").toString
    (root, new StreamCatalog(rootDir = root, checkpointInterval = interval))
  }

  private def rawKind(root: String, v: Long): String = {
    val p = Paths.get(root, "s", "x", "_meta", f"manifest-$v%012d.json")
    val jv = JsonMethods.parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    jv \ "kind" match {
      case org.json4s.JString(k) => k
      case _ => "legacy-full"
    }
  }

  private def fe(i: Int, seg: Long = 0L, off: Long = -1L): FileEntry =
    FileEntry(seg, s"data/part-$i-${java.util.UUID.randomUUID()}.parquet",
      if (off >= 0) off else i * 100L, 100L, 0L, 99L, 1, 1024L)

  test("cadence: every commit is a delta; checkpoints land out-of-band") {
    val (root, c) = fresh(interval = 4)
    c.createScope("s")
    c.createStream("s", "x", StreamConfig(initialSegments = 2))
    for (i <- 1 to 9) {
      c.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
      // drain per commit: the checkpointer COALESCES per stream (newest
      // pending wins), so without a flush a lagging executor would only
      // write the newest eligible sidecar — this test asserts the
      // per-version cadence, so keep it in lockstep
      c.flushCheckpoints()
    }
    assert(rawKind(root, 0) == ManifestRecord.Full)      // createStream
    // the chain itself never carries O(files) records after v0
    for (v <- 1L to 9L)
      assert(rawKind(root, v) == ManifestRecord.Delta, s"v$v should be delta")
    for (v <- Seq(4L, 8L)) {
      val p = Paths.get(root, "s", "x", "_meta", f"checkpoint-$v%012d.json")
      assert(Files.exists(p), s"sidecar for v$v missing")
      val st = JsonMethods.parse(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
        .extract[StreamMetadata]
      assert(st.version == v && st.files.size == v.toInt)
    }
    assert(!Files.exists(
      Paths.get(root, "s", "x", "_meta", f"checkpoint-${9L}%012d.json")))
    // a lost sidecar (crashed checkpointer) is an OPTIMIZATION loss,
    // not corruption: reads fall back to delta replay transparently…
    val ck8 = Paths.get(root, "s", "x", "_meta", f"checkpoint-${8L}%012d.json")
    Files.delete(ck8)
    val c2 = new StreamCatalog(root, checkpointInterval = 4)
    assert(c2.getStream("s", "x").files.size == 9)
    assert(c2.getStreamAt("s", "x", 8L).files.size == 8)
    // …and the walk READ-REPAIRS the hole from the replayed state, so a
    // read-mostly stream (no further commits) heals itself
    c2.flushCheckpoints()
    assert(Files.exists(ck8), "missing sidecar not read-repaired")
    val healed = JsonMethods.parse(
      new String(Files.readAllBytes(ck8), StandardCharsets.UTF_8))
      .extract[StreamMetadata]
    assert(healed.version == 8L && healed.files.size == 8)
  }

  test("mixed append/remove/small-field ops reconstruct exactly") {
    val (root, c) = fresh(interval = 5)
    c.createScope("s")
    c.createStream("s", "x", StreamConfig(initialSegments = 2))
    // appends (prefix fast path)
    for (i <- 1 to 3)
      c.update("s", "x")(m => m.copy(files = m.files ++ Seq(fe(i, seg = 0), fe(100 + i, seg = 1))))
    // a removal + tombstone (slow-path diff), like truncate/compaction
    val before = c.getStream("s", "x")
    val victim = before.files.head
    c.update("s", "x") { m =>
      m.copy(files = m.files.filterNot(_.path == victim.path),
        pendingDeletes = m.pendingDeletes :+ PendingDelete(victim.path, 1L))
    }
    // small-field updates ride wholesale
    c.updateStreamTags("s", "x", Set("tagged"))
    val last = c.update("s", "x")(m => m.copy(files = m.files :+ fe(999)))

    // a FRESH instance (no cache) replays the chain to the same state
    val c2 = new StreamCatalog(root, checkpointInterval = 5)
    val replayed = c2.getStream("s", "x")
    assert(replayed == last, "replayed state must equal the writer's committed state")
    assert(replayed.files.size == 6 && !replayed.files.exists(_.path == victim.path))
    assert(replayed.pendingDeletes.map(_.path) == Seq(victim.path))
    assert(replayed.tags == Set("tagged"))
  }

  test("as-of reads resolve at delta versions; cache stays tip-monotone") {
    val (root, c) = fresh(interval = 4)
    c.createScope("s")
    c.createStream("s", "x", StreamConfig(initialSegments = 1))
    val states = (1 to 7).map { i =>
      c.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
    }
    val c2 = new StreamCatalog(root, checkpointInterval = 4)
    // read an OLD delta version first…
    val v3 = c2.getStreamAt("s", "x", 3L)
    assert(v3 == states(2), "as-of state at a delta version")
    assert(v3.files.size == 3)
    // …then the tip still reads as the tip (old read must not shadow it)
    assert(c2.getStream("s", "x") == states.last)
    // and every version is individually addressable
    for ((st, i) <- states.zipWithIndex)
      assert(c2.getStreamAt("s", "x", i + 1L) == st, s"as-of v${i + 1}")
  }

  test("torn tip falls back one version; broken chain fails loudly") {
    val (root, c) = fresh(interval = 4)
    c.createScope("s")
    c.createStream("s", "x", StreamConfig(initialSegments = 1))
    for (i <- 1 to 6) c.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))

    // torn tip: version 7 exists with zero bytes (CAS winner crashed)
    val torn = Paths.get(root, "s", "x", "_meta", f"manifest-${7L}%012d.json")
    Files.write(torn, Array.empty[Byte])
    val c2 = new StreamCatalog(root, checkpointInterval = 4)
    assert(c2.getStream("s", "x").version == 6L, "torn tip → fall back one version")
    assert(graft.tools.Fsck.checkRoot(root).map(_.kind).contains("manifest-torn"))
    Files.delete(torn)

    // broken chain: CORRUPT a committed mid-chain delta (v5, between the
    // v4 checkpoint and the v6 tip) — present but truncated bytes must
    // classify exactly like a missing record (a parse failure below the
    // requested version is storage corruption, not a torn tip), never
    // silently serve v4
    val hole: Path = Paths.get(root, "s", "x", "_meta", f"manifest-${5L}%012d.json")
    val intact = Files.readAllBytes(hole)
    Files.write(hole, intact.take(intact.length / 2))
    val c3 = new StreamCatalog(root, checkpointInterval = 4)
    assertThrows[ManifestChainBrokenException](c3.getStream("s", "x"))
    assertThrows[ManifestChainBrokenException](c3.getStreamAt("s", "x", 6L))
    // …and the same for a missing mid-chain record
    Files.delete(hole)
    val c4 = new StreamCatalog(root, checkpointInterval = 4)
    assertThrows[ManifestChainBrokenException](c4.getStream("s", "x"))
    // versions at or below the checkpoint stay readable
    assert(c4.getStreamAt("s", "x", 4L).files.size == 4)
  }

  test("cross-instance tailing applies one delta per new version") {
    val (root, c) = fresh(interval = 8)
    c.createScope("s")
    c.createStream("s", "x", StreamConfig(initialSegments = 1))
    val reader = new StreamCatalog(root, checkpointInterval = 8)
    assert(reader.getStream("s", "x").version == 0L)
    for (i <- 1 to 5) {
      c.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
      val seen = reader.getStream("s", "x")
      assert(seen.version == i.toLong && seen.files.size == i)
    }
  }

  // delete+recreate restarts the version chain at 0, so version numbers
  // collide across incarnations — a cached tip of the DEAD incarnation
  // must never be served once another instance recreates the stream.
  // Parameterized over both FS contracts like ConcurrencySpec.
  for (contract <- Seq("local", "objectstore")) {
    test(s"[$contract] recreate across instances invalidates the cached tip") {
      val conf = new org.apache.hadoop.conf.Configuration()
      if (contract == "objectstore")
        conf.set("fs.oscas.impl", classOf[graft.storage.LaggedObjectStoreFs].getName)
      val dir = Files.createTempDirectory(s"graft-mlog-rc-$contract").toString
      val root = if (contract == "objectstore") "oscas://" + dir else dir
      val a = new StreamCatalog(root, conf, checkpointInterval = 4)
      a.createScope("s")
      a.createStream("s", "x", StreamConfig(initialSegments = 1))
      for (i <- 1 to 3) a.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
      val oldTip = a.getStream("s", "x") // instance A caches tip v3 (a delta)
      assert(oldTip.version == 3L && oldTip.incarnation.nonEmpty)

      // instance B: seal + delete + recreate the SAME name, then commit
      // the new chain to the colliding version 3
      val b = new StreamCatalog(root, conf, checkpointInterval = 4)
      b.sealStream("s", "x")
      b.deleteStream("s", "x")
      b.createStream("s", "x", StreamConfig(initialSegments = 2))
      for (i <- 1 to 3) b.update("s", "x")(m => m.copy(files = m.files :+ fe(100 + i)))
      val newTip = b.getStream("s", "x")
      assert(newTip.version == 3L && newTip.incarnation != oldTip.incarnation)

      // A's cache holds the dead incarnation at the SAME version — the
      // equality fast path must detect and replace it
      val seenAtCollision = a.getStream("s", "x")
      assert(seenAtCollision == newTip,
        "instance A served the dead incarnation's cached tip")

      // and the delta-base path (cached version < requested) too
      val v4 = b.update("s", "x")(m => m.copy(files = m.files :+ fe(104)))
      assert(a.getStream("s", "x") == v4)
      // as-of reads address the NEW incarnation's history
      assert(a.getStreamAt("s", "x", 1L).files.map(_.path) ==
        b.getStreamAt("s", "x", 1L).files.map(_.path))
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

  test("gc with a crashed checkpointer repairs the floor base first") {
    val (root, c) = fresh(interval = 4)
    c.createScope("s")
    c.createStream("s", "x", StreamConfig(initialSegments = 1))
    for (i <- 1 to 14) c.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
    c.flushCheckpoints()
    // simulate the checkpointer having crashed at v8's write (under a
    // lagging shared executor the coalescer may have skipped v8 anyway —
    // same scenario, so a missing file is fine)
    Files.deleteIfExists(Paths.get(root, "s", "x", "_meta", f"checkpoint-${8L}%012d.json"))
    val retired = c.gcManifests("s", "x", keepVersions = 5)
    assert(retired == (1L to 7L))
    // the base was re-established synchronously before any delete
    assert(Files.exists(
      Paths.get(root, "s", "x", "_meta", f"checkpoint-${8L}%012d.json")))
    val c2 = new StreamCatalog(root, checkpointInterval = 4)
    assert(c2.getStreamAt("s", "x", 9L).files.size == 9)
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
      StreamCatalog.ckptExec.submit(new Runnable { override def run(): Unit = gate.await() })
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

  // GC + list-lag DOUBLE-BLIND (GcRaceSpec caught it live; this is the
  // deterministic pin): gcManifests retires (0, floor) while the lag
  // window still hides every RETAINED manifest from listings, so a fresh
  // instance's listing collapses to {manifest-0} — probe-past-max dies at
  // the first retired version and, before the floor-probe recovery,
  // getStream silently reconstructed the EMPTY v0 creation state. The
  // floor marker is the recovery base: retained by the gc contract
  // (base verified → marker written → deletes), so probing forward from
  // it always rediscovers the chain.
  test("gc + list-lag double-blind: fresh instance recovers the chain from the floor") {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.oscas.impl", classOf[graft.storage.LaggedObjectStoreFs].getName)
    val dir = Files.createTempDirectory("graft-mlog-blind").toString
    val root = "oscas://" + dir
    val prev = graft.storage.LaggedObjectStoreFs.lagMs
    try {
      val a = new StreamCatalog(root, conf, checkpointInterval = 4)
      a.createScope("s")
      a.createStream("s", "x", StreamConfig(initialSegments = 1))
      for (i <- 1 to 10) a.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
      // every FURTHER manifest stays invisible to LIST for an hour —
      // exact-key reads stay consistent (the object-store contract)
      graft.storage.LaggedObjectStoreFs.lagMs = 3600000L
      for (i <- 11 to 14) a.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
      a.flushCheckpoints()
      // tip 14, keep 2 → cut 12 → floor v12: the whole retained chain
      // [12..14] sits inside the lag window, (0, 12) is deleted
      assert(a.gcManifests("s", "x", keepVersions = 2) == (1L to 11L))
      assert(a.manifestFloor("s", "x") == 12L)

      val b = new StreamCatalog(root, conf, checkpointInterval = 4)
      val tip = b.getStream("s", "x")
      assert(tip.version == 14L && tip.files.size == 14,
        s"fresh instance resolved v${tip.version}/${tip.files.size} files — " +
          "the empty-creation-state answer is the bug this pins")
      assert(b.manifestVersions("s", "x") == (0L +: (12L to 14L)))
      for (v <- 12L to 14L)
        assert(b.getStreamAt("s", "x", v).files.size == v.toInt, s"as-of v$v")
      // commits keep extending the recovered chain
      assert(b.update("s", "x")(m =>
        m.copy(files = m.files :+ fe(99))).version == 15L)
    } finally graft.storage.LaggedObjectStoreFs.lagMs = prev
  }

  // …and when the floor names a retained chain that is GENUINELY gone
  // (not lag-hidden), resolution must fail loudly — the silent
  // alternative is answering with the empty v0 creation state — while
  // Fsck reports the state instead of crashing on it.
  test("floor with no readable retained chain: loud failure; fsck classifies") {
    val (root, c) = fresh(interval = 4)
    c.createScope("s")
    c.createStream("s", "x", StreamConfig(initialSegments = 1))
    for (i <- 1 to 14) c.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
    c.flushCheckpoints()
    assert(c.gcManifests("s", "x", keepVersions = 5).nonEmpty)
    assert(c.manifestFloor("s", "x") == 8L)
    // storage loses the ENTIRE retained chain (v0 + floor marker survive)
    for (v <- 8L to 14L)
      Files.deleteIfExists(Paths.get(root, "s", "x", "_meta", f"manifest-$v%012d.json"))
    val c2 = new StreamCatalog(root, checkpointInterval = 4)
    assertThrows[ManifestChainBrokenException](c2.getStream("s", "x"))
    val kinds = graft.tools.Fsck.checkRoot(root).map(_.kind)
    assert(kinds.contains("gc-floor-base"), kinds.mkString("; "))
  }
}
