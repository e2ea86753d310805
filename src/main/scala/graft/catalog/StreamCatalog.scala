package graft.catalog

import graft.core._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import java.nio.charset.StandardCharsets

/** Stream metadata catalog — the controller replacement (SURVEY §2.9,
  * §3.3). All control-plane state for a stream lives in one JSON manifest
  * per version under `<root>/<scope>/<stream>/_meta/`; a catalog commit
  * writes `manifest-%012d.json` for version+1 with create-if-absent
  * semantics, which gives optimistic concurrency (the catalog analog of
  * the reference's ConditionalAppend CAS, WireCommands.java:633 — on HDFS
  * an exclusive create, on object stores a conditional put).
  *
  * Readers plan scans from the manifest's file list, never from directory
  * listings, so data-file writes are invisible until the manifest commit —
  * that single property yields atomic batch appends, atomic transaction
  * commits and consistent StreamCuts.
  *
  * Scale note: stream state is O(live files) — at 100 TB with ~1 GB
  * files, ~10^5 entries per stream — so the chain is an incremental log
  * ([[ManifestLog]]): O(delta) commits, out-of-band checkpoints,
  * replay of at most one interval. Nothing here is per-row or
  * per-executor state.
  */
/** KeyValueTableConfiguration analog (client/.../tables/
  * KeyValueTableConfiguration.java:39). Only partitionCount carries over:
  * the reference's fixed primary/secondary key byte-lengths exist to make
  * its hand-rolled sorted table segments work; here parquet + string keys
  * subsume the layout (SURVEY §2.6 fixed-key row).
  */
final case class KvTableConfig(
    partitionCount: Int = 16,
    /** Manifest-log retention policy (see StreamConfig.manifestKeepVersions):
      * applied by `Maintenance.runKvTables` / honored by compaction's
      * housekeeping. 0 = manual `CALL g.system.kv_gc_manifests` only.
      */
    manifestKeepVersions: Int = 0)

/** Manifest-log retention marker (one record of the `_meta/floor-<seq>`
  * CAS chain — see [[FloorChain]]): versions in (0, floor) have been
  * garbage-collected — the log-retention contract every production
  * log-plus-checkpoint table needs (Delta's logRetentionDuration,
  * Iceberg's expire_snapshots), or the chain grows one file per commit
  * forever. Version 0 is always retained (the tiny identity record the
  * incarnation guard validates against); `floor` itself is a version
  * whose checkpoint sidecar was verified readable BEFORE anything was
  * deleted, so every retained version still reconstructs. Committed
  * before the deletes (a floor claiming more than was deleted is
  * harmless; the reverse would turn GC holes into phantom lag probes),
  * and monotone across JVMs by CAS-append.
  */
final case class ManifestFloor(floor: Long, incarnation: String)

object StreamCatalog {
  /** Default reader-grace before tombstoned files are physically deleted
    * (long enough for any in-flight scan planned from an older manifest).
    */
  val DefaultDeleteGraceMillis: Long = 15 * 60 * 1000L

  /** A full checkpoint SIDECAR (`checkpoint-%012d.json`) is written every
    * this-many versions; the chain itself is all delta records (plus the
    * v0 full). Bounds a cold reader's backward walk (≤ interval
    * single-record reads — on an object store, that many GETs) while
    * keeping EVERY in-line commit O(delta): the sidecar is written
    * out-of-band AFTER the delta CAS lands (the Iceberg
    * log-plus-checkpoint shape), so ManifestBench's `commit_max` no
    * longer spikes O(files) on every interval-th commit (2.4 s at
    * 3×10^5 live files, 9.5 s at 10^6 under the old inline design).
    */
  val DefaultCheckpointInterval: Int = 16

  /** How the manifest log reads and stamps a stream's state. */
  private implicit object StreamLog extends LogState[StreamMetadata, FileEntry] {
    def version(s: StreamMetadata): Long = s.version
    def committedAt(s: StreamMetadata): Long = s.committedAt
    def incarnation(s: StreamMetadata): String = s.incarnation
    def files(s: StreamMetadata): Seq[FileEntry] = s.files
    def pendingDeletes(s: StreamMetadata): Seq[PendingDelete] = s.pendingDeletes
    def path(f: FileEntry): String = f.path
    def stamped(s: StreamMetadata, committedAt: Long, incarnation: String): StreamMetadata =
      s.copy(committedAt = committedAt, incarnation = incarnation)
    def withLists(s: StreamMetadata, files: Seq[FileEntry],
                  pendingDeletes: Seq[PendingDelete]): StreamMetadata =
      s.copy(files = files, pendingDeletes = pendingDeletes)
  }

  /** JVM-wide count of manifest-CAS losses (an `update` attempt beaten to
    * its version by a concurrent committer, re-read + retried). Pure
    * telemetry for contention measurement (CommitContentionBench /
    * ConcurrencySpec): retries-per-commit = Δlosses / commits.
    */
  val casLosses = new java.util.concurrent.atomic.LongAdder()

  /** The catalog a reader without its own (a DSv2 scan) reads `rootDir`
    * through: the one a [[graft.storage.GraftStreams]] on that root last
    * registered, else a new one kept for the next scan. Its tip hints
    * stay warm, so a scan's manifest read is a few exact-key probes, not
    * a LIST plus a checkpoint replay. The 64 most recently used roots
    * are kept.
    */
  def shared(rootDir: String, conf: => Configuration): StreamCatalog =
    sharedByRoot.synchronized {
      Option(sharedByRoot.get(rootDir)).getOrElse(share(rootDir, new StreamCatalog(rootDir, conf)))
    }

  private[graft] def share(rootDir: String, c: StreamCatalog): StreamCatalog =
    sharedByRoot.synchronized { sharedByRoot.put(rootDir, c); c }

  private val sharedByRoot = new java.util.LinkedHashMap[String, StreamCatalog](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, StreamCatalog]): Boolean =
      size() > 64
  }
}

class StreamCatalog(rootDir: String, hadoopConf: Configuration = new Configuration(),
                    checkpointInterval: Int = StreamCatalog.DefaultCheckpointInterval) {
  import StreamCatalog.{DefaultDeleteGraceMillis, StreamLog}
  require(checkpointInterval >= 1, "checkpointInterval must be >= 1")
  private implicit val fmts: Formats = DefaultFormats

  private val root = new Path(rootDir)
  private def fs: FileSystem = root.getFileSystem(hadoopConf)

  private def scopePath(scope: String) = new Path(root, scope)
  private def streamPath(scope: String, stream: String) = new Path(scopePath(scope), stream)
  private def metaPath(scope: String, stream: String) = new Path(streamPath(scope, stream), "_meta")
  private val logs =
    scala.collection.concurrent.TrieMap.empty[(String, String), ManifestLog[StreamMetadata, FileEntry]]
  private def log(scope: String, stream: String): ManifestLog[StreamMetadata, FileEntry] =
    logs.getOrElseUpdate((scope, stream),
      new ManifestLog[StreamMetadata, FileEntry](() => fs, metaPath(scope, stream), first = 0L,
        checkpointInterval, s"stream $scope/$stream", new NoSuchStreamException(_)))
  private def chain(scope: String, stream: String): ManifestChain = log(scope, stream).chain
  /** Forget deleted streams' logs: a recreated stream restarts at 0. */
  private def dropLogs(keys: Iterable[(String, String)]): Unit = {
    keys.foreach(k => logs.get(k).foreach(_.dropPending()))
    flushCheckpoints()
    keys.foreach(k => logs.remove(k).foreach(_.invalidate()))
  }
  def dataDir(scope: String, stream: String): Path = new Path(streamPath(scope, stream), "data")
  def txnDir(scope: String, stream: String, txnId: String): Path =
    new Path(streamPath(scope, stream), s"txn-$txnId")

  // ---------------------------------------------------------------- scopes

  /** createScope (client/.../admin/StreamManager.java:130). */
  def createScope(scope: String): Boolean = fs.mkdirs(scopePath(scope))

  def scopeExists(scope: String): Boolean = fs.exists(scopePath(scope))

  def listScopes(): Seq[String] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted

  /** deleteScope; `recursive=true` maps deleteScopeRecursive
    * (StreamManager.java:172). Non-recursive refuses while ANY child —
    * stream or key-value table — exists, like the reference's
    * non-empty-scope rejection.
    */
  def deleteScope(scope: String, recursive: Boolean = false): Boolean = {
    if (!recursive && (listStreams(scope).nonEmpty || listKeyValueTables(scope).nonEmpty))
      throw new GraftException(s"scope $scope not empty")
    // drain the checkpointer BEFORE deleting (see deleteStream: an
    // in-flight sidecar write must not resurrect a deleted _meta dir)
    dropLogs(logs.keys.filter(_._1 == scope).toSeq)
    fs.delete(scopePath(scope), true)
  }

  // --------------------------------------------------------------- streams

  /** createStream (StreamManager.java:71): epoch 0 with evenly tiled
    * segments per the config's initial segment count.
    */
  def createStream(scope: String, stream: String, config: StreamConfig = StreamConfig(),
                   tags: Set[String] = Set.empty): StreamMetadata = {
    require(scopeExists(scope), s"scope $scope does not exist")
    if (fs.exists(metaPath(scope, stream))) {
      // Existence is keyed on the v0 chain record (exact-key probe —
      // read-after-write consistent; GC always retains v0), NOT on the
      // _meta dir: a checkpointer on ANOTHER instance racing a
      // deleteStream can re-materialize _meta containing only a sidecar
      // (TOCTOU between its manifest-exists guard and the rename).
      // Such residue is a deleted stream, not a live one — clear it so
      // the name is creatable again instead of stuck "already exists"
      // with zero manifests. Two RACING creators are still arbitrated
      // by the exclusive v0 create below, never by this cleanup.
      if (chain(scope, stream).exists(0L))
        throw new GraftException(s"stream $scope/$stream already exists")
      fs.delete(metaPath(scope, stream), true)
    }
    val now = System.currentTimeMillis()
    val n = config.initialSegments
    val segs = RoutingKeyHash.evenRanges(n).zipWithIndex.map { case (r, i) =>
      SegmentRecord(SegmentId.pack(0, i), r.low, r.high, 0L, 0L, isSealed = false, Nil, now)
    }
    val meta = StreamMetadata(
      scope = scope, name = stream, config = config, version = 0L, createdAt = now,
      isSealed = false, tags = tags,
      epochs = Seq(EpochRecord(0, segs.map(_.segmentId), now)),
      segments = segs, files = Nil, headCut = Map.empty,
      transactions = Map.empty, writerMarks = Map.empty, writerBatches = Map.empty)
    log(scope, stream).create(meta).getOrElse(
      throw new GraftException(s"stream $scope/$stream already exists"))
  }

  def streamExists(scope: String, stream: String): Boolean =
    chain(scope, stream).list().nonEmpty

  /** The stream's newest committed state (see [[ManifestLog.tip]]:
    * LIST-free while this instance's tip hint is warm, torn-tip fallback
    * of one version, any cached state validated against the v0 identity
    * record).
    */
  def getStream(scope: String, stream: String): StreamMetadata =
    log(scope, stream).tip()
      .getOrElse(throw new NoSuchStreamException(s"stream $scope/$stream does not exist"))

  def listStreams(scope: String): Seq[String] = {
    val p = scopePath(scope)
    if (!fs.exists(p)) Seq.empty
    // keyed on the v0 chain record, not the bare _meta dir: a stale
    // checkpointer racing a delete can leave a _meta holding only a
    // sidecar — listing that residue would make listStreamsByTag (which
    // getStream's each listed name) throw on a stream that is GONE
    else fs.listStatus(p).filter(s => s.isDirectory && chain(scope, s.getPath.getName).exists(0L))
      .map(_.getPath.getName).toSeq.sorted
  }

  /** listStreams by tag (Controller.java:220 listStreamsForTag). */
  def listStreamsByTag(scope: String, tag: String): Seq[String] =
    listStreams(scope).filter(st => getStream(scope, st).tags.contains(tag))

  def deleteStream(scope: String, stream: String): Unit = {
    val meta = getStream(scope, stream)
    if (!meta.isSealed)
      throw new GraftException(s"stream $scope/$stream must be sealed before delete")
    // Drain this instance's async checkpointer BEFORE deleting: the seal
    // commit above may itself have queued a sidecar write (seal bumps the
    // version, which can be checkpoint-eligible), and an in-flight write
    // landing after the delete would resurrect _meta — making a
    // subsequent createStream of the same name fail "already exists".
    // A recreated stream restarts its version chain at 0, so the old tip
    // and hints are dropped too.
    dropLogs(Seq((scope, stream)))
    fs.delete(streamPath(scope, stream), true): Unit
  }

  /** EWMA (α=¼) of one CAS attempt's wall cost — read tip + transform +
    * conditional create — in nanos. This is the backoff SLOT: the unit
    * the jittered sleep below is expressed in. Seeded at 1 ms (the local
    * regime's measured ~0.5–1 ms, preserving the r13 tuning exactly);
    * against an object store an attempt is ~2–3 round trips, so the
    * slot self-calibrates to ~2–3×RTT. A fixed millisecond slot THRASHES
    * there: losers retry ~100× inside one commit's wall, each retry
    * re-paying the round trips, so a 64-writer herd burnt 15–20 billed
    * retries per commit with p99 at 19–24 s and retry-EXHAUSTIONS at
    * 50 ms RTT (CommitContentionBench rtt legs, pre-scaling).
    *
    * Updated on EVERY attempt, wins included — not just losses. A
    * loss-only EWMA couples its own decay rate to the loss rate, and
    * that feedback loop latches: one slow sample (a GC pause, a
    * contention-inflated attempt) inflates the slot, the longer sleeps
    * then suppress losses, and with no losses the poisoned value never
    * decays — measured as intermittent 2× throughput collapses with p99
    * in the SECONDS at 64 local writers (CommitContentionBench, rtt=0,
    * first-leg JVM warmup poisoning the slot). Win-updates arrive at
    * the commit rate — orders of magnitude above the loss rate — so a
    * poisoned slot now decays within ~4 commits instead of ~20 losses
    * that the inflation itself prevents from happening.
    */
  private val casSlotNanos =
    new java.util.concurrent.atomic.AtomicLong(1_000_000L)

  /** Per-stream group-commit funnels (see [[CommitCombiner]]): concurrent
    * in-process `update()` callers land as ONE manifest version. Keyed by
    * stream name; a funnel outliving a deleted stream is harmless (it is
    * only a queue — the CAS inside still validates against the store).
    */
  private val combiners = scala.collection.concurrent.TrieMap
    .empty[(String, String), CommitCombiner[StreamMetadata]]

  /** Optimistic-concurrency update: transform the latest manifest and
    * commit as version+1; create-if-absent loses → ConditionalCheckFailed,
    * caller retries with fresh state. This is the engine's single CAS
    * primitive — transactions, truncation, scale, sealing all go through
    * it.
    *
    * In-process concurrency GROUP-COMMITS (r15): concurrent callers on
    * the same stream from this catalog instance are drained by one
    * leader and applied, in arrival order, inside a single CAS'd
    * version — the committed state is identical to serial execution,
    * the store pays ~3 round trips per BATCH instead of per caller, and
    * the r14 per-stream ceiling (~1000/(RTT×3.1) manifest commits/s)
    * multiplies by the batch size in user-visible commits/s. `f` must be
    * a pure function of the metadata — it can run multiple times (CAS
    * retry against OTHER processes) and composes with the rest of its
    * batch. An `f` that throws fails only its own caller (serial
    * semantics); the rest of the batch still commits.
    */
  def update(scope: String, stream: String, maxRetries: Int = 50)
            (f: StreamMetadata => StreamMetadata): StreamMetadata = {
    val c = combiners.getOrElseUpdate((scope, stream), new CommitCombiner[StreamMetadata])
    // re-entrant transform (update inside a transform on the same
    // stream): the leader cannot queue behind itself — raw CAS instead
    if (c.isLeaderThread) return updateNow(scope, stream, maxRetries)(f)
    c.submit(f, maxRetries)(batch => commitBatch(scope, stream, batch))
  }

  /** Apply one drained combiner batch as a single CAS'd version.
    * Per-transform failures are recorded per attempt (the composed
    * closure reruns on cross-process CAS loss, so only the FINAL
    * attempt's outcomes are authoritative) and isolated: failed
    * transforms are skipped, their callers get exactly their exception.
    * When every transform fails there is nothing to commit — the CAS is
    * skipped entirely rather than minting an empty version.
    */
  private def commitBatch(scope: String, stream: String,
                          batch: IndexedSeq[CommitCombiner.Pending[StreamMetadata]]): Unit = {
    val errs = new Array[Throwable](batch.length)
    var maxR = 0
    batch.foreach(p => maxR = math.max(maxR, p.maxRetries))
    try {
      val committed = updateNow(scope, stream, maxR) { cur =>
        var m = cur
        var applied = 0
        var i = 0
        while (i < batch.length) {
          errs(i) = null
          try { m = batch(i).f(m); applied += 1 }
          catch { case scala.util.control.NonFatal(t) => errs(i) = t }
          i += 1
        }
        if (applied == 0) throw CommitCombiner.AllTransformsFailed
        m
      }
      var i = 0
      while (i < batch.length) {
        if (errs(i) != null) batch(i).fail(errs(i)) else batch(i).complete(committed)
        i += 1
      }
    } catch {
      case CommitCombiner.AllTransformsFailed =>
        var i = 0
        while (i < batch.length) { batch(i).fail(errs(i)); i += 1 }
      case t: Throwable =>
        // commit-level failure (retries exhausted, IO): everyone in the
        // batch shares the outcome, exactly as each would have alone
        batch.foreach(p => if (!p.isDone) p.fail(t))
    }
  }

  /** The raw CAS retry loop — one caller, one transform, no combining. */
  private def updateNow(scope: String, stream: String, maxRetries: Int)
                       (f: StreamMetadata => StreamMetadata): StreamMetadata = {
    var attempt = 0
    while (true) {
      val t0 = System.nanoTime()
      def observeAttempt(): Unit = {
        val dt = System.nanoTime() - t0
        // updateAndGet keeps concurrent samples from overwriting each
        // other — a dropped sample only delayed smoothing convergence a
        // few commits, but the atomic costs nothing on this path (one
        // CAS per manifest commit, next to filesystem round trips).
        casSlotNanos.updateAndGet(prev => prev - (prev >> 2) + (dt >> 2))
      }
      val cur = getStream(scope, stream)
      val next = f(cur).copy(version = cur.version + 1)
      log(scope, stream).write(next, Some(cur)) match {
        case Some(committed) =>
          observeAttempt()
          return committed
        case None =>
          StreamCatalog.casLosses.increment()
          observeAttempt()
          attempt += 1
          if (attempt > maxRetries)
            throw new ConditionalCheckFailedException(
              s"manifest CAS for $scope/$stream lost $maxRetries times")
          // FULL-JITTER exponential backoff in SLOT units: the winner
          // has already finished when a loser learns it lost, so the
          // first retries are near-immediate AT THE STORE'S OWN
          // TIMESCALE — U(0, slot·2^attempt), slot = the measured
          // attempt cost above (~1 ms local — the old U(1,20) ms first
          // sleep wasted ~20 commit slots per loss and collapsed
          // 64-writer throughput 2.7×; ~2–3×RTT on an object store,
          // where a 1 ms slot replayed the whole herd inside one
          // commit's wall). Escalates only on REPEATED loss. The window
          // caps at 2^6 slots: a loser's attempt rate in steady state is
          // ~2/(window), so wasted attempts per commit ≈ 2W/window−1 —
          // the window only needs to reach the HERD SIZE in slots, and
          // 2^attempt gets there in log₂(W) losses; growing further
          // (the old 2^9 cap) buys nothing but idle gaps where every
          // writer is asleep and the stream commits nothing (measured:
          // the 512-slot cap halved 64-writer throughput at 30–50 ms
          // RTT vs this cap, for the same retries/commit). 4 s absolute
          // cap bounds the tail at any slot. Full jitter (floor 0)
          // breaks lockstep starvation: an old loser's window always
          // overlaps a fresh committer's, so it is never structurally
          // outbid.
          val slotMs = math.max(1L, casSlotNanos.get() / 1_000_000L)
          val windowMs = math.min(slotMs * (1L << math.min(attempt, 6)), 4000L)
          Thread.sleep((scala.util.Random.nextDouble() * windowMs).toLong)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** updateStream (StreamManager.java:79 / Controller.java:190,
    * UpdateStreamTask semantics): replace the scaling + retention policy
    * of a LIVE stream through the manifest CAS. Segment count and initial
    * layout are immutable here (that is what scale is for) — the policy
    * change simply takes effect at the next auto-scale / retention
    * evaluation, exactly like the reference's controller applying an
    * updated StreamConfiguration.
    */
  def updateStream(scope: String, stream: String, config: StreamConfig): StreamMetadata =
    update(scope, stream) { m =>
      if (m.isSealed) throw new GraftException(s"stream $scope/$stream is sealed")
      require(config.minSegments >= 1, "minSegments must be >= 1")
      require(config.scaleFactor >= 2, "scaleFactor must be >= 2")
      // initialSegments only describes creation-time layout; keep the
      // original so re-reads of the config stay truthful about epoch 0
      m.copy(config = config.copy(initialSegments = m.config.initialSegments))
    }

  /** Tag update (StreamManager.java:79 updateStream carries tags too). */
  def updateStreamTags(scope: String, stream: String, tags: Set[String]): StreamMetadata =
    update(scope, stream)(m => m.copy(tags = tags))

  /** seal: reject further appends, mark all segments sealed
    * (SealStreamTask semantics).
    */
  def sealStream(scope: String, stream: String): StreamMetadata =
    update(scope, stream) { m =>
      m.copy(isSealed = true, segments = m.segments.map(_.copy(isSealed = true)))
    }

  /** truncateStream(cut) (Controller.java:237): raise the head cut; files
    * entirely below it leave the manifest. The CAS closure is side-effect
    * free — it only rewrites metadata; dropped files become
    * `pendingDeletes` tombstones with a reader-grace deadline, so (a) a
    * lost CAS or crash mid-truncate never leaves a committed manifest
    * pointing at deleted data, and (b) a reader that planned its scan
    * from the previous manifest version can finish before the physical
    * delete happens. `sweepDeletes` reclaims past-deadline tombstones.
    */
  def truncateStream(scope: String, stream: String, cut: StreamCut,
                     graceMillis: Long = DefaultDeleteGraceMillis): StreamMetadata = {
    val deadline = System.currentTimeMillis() + graceMillis
    update(scope, stream) { m =>
      val newHead = m.segments.map { s =>
        val cur = m.headCut.getOrElse(s.segmentId, s.startOffset)
        s.segmentId -> math.max(cur, cut.positions.getOrElse(s.segmentId, cur))
      }.toMap
      val (dead, live) = m.files.partition(f => f.endOffset <= newHead.getOrElse(f.segmentId, 0L))
      m.copy(headCut = newHead, files = live,
        segments = m.segments.map(s => s.copy(startOffset = newHead.getOrElse(s.segmentId, s.startOffset))),
        pendingDeletes = m.pendingDeletes ++ dead.map(f => PendingDelete(f.path, deadline)))
    }
  }

  /** Physically delete tombstoned files whose reader-grace deadline has
    * passed, and clear them from the manifest. Deletion happens BEFORE
    * the manifest update: re-running after a crash is idempotent (a
    * missing file counts as gone), and a tombstone is only cleared once
    * its file is actually gone ([[ManifestChain.deleteTombstoned]]).
    */
  def sweepDeletes(scope: String, stream: String): Seq[String] = {
    val now = System.currentTimeMillis()
    val due = getStream(scope, stream).pendingDeletes.filter(_.notBefore <= now)
    if (due.isEmpty) return Nil
    val donePaths = ManifestChain.deleteTombstoned(fs, due.map(_.path)).toSet
    update(scope, stream) { m =>
      m.copy(pendingDeletes = m.pendingDeletes.filterNot(p => donePaths.contains(p.path)))
    }
    donePaths.toSeq.sorted
  }

  // ------------------------------------------------- key-value table admin
  //
  // KeyValueTableManager analog (client/.../admin/KeyValueTableManager.java:
  // 60 createKeyValueTable, 70 deleteKeyValueTable, 79 listKeyValueTables).
  // KV tables live in a per-scope `_kvt/` namespace so they can never be
  // listed as streams (listStreams keys on `<scope>/<name>/_meta`; the
  // extra `_kvt` level keeps the two namespaces disjoint, mirroring the
  // reference's separate stream/KVT scoping). Create persists the
  // KeyValueTableConfiguration analog (partitionCount) as an
  // exclusive-create config file, so later opens don't have to repeat —
  // and can never contradict — the creation-time layout.

  private def kvtRoot(scope: String) = new Path(scopePath(scope), "_kvt")
  private def kvtConfigPath(scope: String, name: String) =
    new Path(new Path(kvtRoot(scope), name), "_kvtconfig.json")

  /** createKeyValueTable: true if created, false if it already existed
    * (KeyValueTableManager.java:60 returns boolean the same way).
    */
  def createKeyValueTable(scope: String, name: String,
                          config: KvTableConfig = KvTableConfig()): Boolean = {
    require(scopeExists(scope), s"scope $scope does not exist")
    require(config.partitionCount > 0, "partitionCount must be a positive integer")
    if (keyValueTableExists(scope, name)) return false
    try {
      val out = CasFiles.createExclusive(fs, kvtConfigPath(scope, name))
      try out.write(Serialization.write(config).getBytes(StandardCharsets.UTF_8))
      finally out.close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException => false // lost the create race
    }
  }

  def keyValueTableExists(scope: String, name: String): Boolean =
    fs.exists(kvtConfigPath(scope, name))

  /** listKeyValueTables(scope) (KeyValueTableManager.java:79). */
  def listKeyValueTables(scope: String): Seq[String] = {
    val p = kvtRoot(scope)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p)
      .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, "_kvtconfig.json")))
      .map(_.getPath.getName).toSeq.sorted
  }

  def getKeyValueTableConfig(scope: String, name: String): KvTableConfig = {
    if (!keyValueTableExists(scope, name))
      throw new NoSuchStreamException(s"key-value table $scope/$name does not exist")
    val in = fs.open(kvtConfigPath(scope, name))
    try Serialization.read[KvTableConfig](
      new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
    finally in.close()
  }

  /** deleteKeyValueTable: true if it existed (KeyValueTableManager.java:70).
    * Unconditional like the reference — no seal step exists for KVTs.
    */
  def deleteKeyValueTable(scope: String, name: String): Boolean = {
    if (!keyValueTableExists(scope, name)) false
    else fs.delete(new Path(kvtRoot(scope), name), true)
  }

  /** Open a created table with its persisted creation-time layout —
    * the `KeyValueTableFactory.forKeyValueTable` analog.
    */
  def openKeyValueTable(spark: org.apache.spark.sql.SparkSession, scope: String,
                        name: String): graft.kv.KeyValueTable = {
    val cfg = getKeyValueTableConfig(scope, name)
    new graft.kv.KeyValueTable(spark, kvtRoot(scope).toString, name,
      partitionCount = cfg.partitionCount, hadoopConf = hadoopConf)
  }

  // ------------------------------------------------------------- manifests

  /** All committed manifest versions of a stream — the history surface
    * behind the delta feed, as-of reads and `tools.Fsck`'s chain check.
    */
  def manifestVersions(scope: String, stream: String): Seq[Long] =
    chain(scope, stream).list()

  /** The stream's committed state at an exact manifest version — the
    * time-travel read surface (`VERSION AS OF`). Valid within the
    * physical-retention horizon: a version whose data files were later
    * compacted/truncated away and GRACE-SWEPT reads the manifest fine
    * but fails loudly at scan time on the missing file (the Delta
    * VACUUM contract).
    */
  def getStreamAt(scope: String, stream: String, version: Long): StreamMetadata =
    log(scope, stream).at(version).getOrElse(
      throw new NoSuchStreamException(
        s"stream $scope/$stream has no manifest version $version " +
          s"(available: ${manifestVersions(scope, stream).mkString(", ")})"))

  /** Latest version committed at or before `epochMillis`, for
    * `TIMESTAMP AS OF` (see [[ManifestLog.versionAtTime]]). None if the
    * stream didn't exist yet at t; [[TruncatedDataException]] if the
    * instant falls inside manifest history that [[gcManifests]] retired.
    */
  def versionAtTime(scope: String, stream: String, epochMillis: Long): Option[Long] =
    log(scope, stream).versionAtTime(epochMillis, () =>
      try Some(getStream(scope, stream).version)
      catch { case _: NoSuchStreamException => None })

  /** Block until every checkpoint scheduled so far has been written —
    * for benches/tests that measure or assert the steady state.
    */
  def flushCheckpoints(): Unit = ManifestLog.flushCheckpoints()

  /** The stream's GC floor: versions in (0, floor) are retired. 0 =
    * never GC'd (no marker file). See [[ManifestFloor]].
    */
  def manifestFloor(scope: String, stream: String): Long =
    chain(scope, stream).floor()

  /** (chain seq, floor record) — the `describe_retention` surface. */
  def manifestFloorWithSeq(scope: String, stream: String): (Long, ManifestFloor) =
    chain(scope, stream).floorWithSeq()

  /** Exact-key probe of the chain's permanent anchor (ops introspection;
    * false on a never-GC'd stream).
    */
  def floorAnchorPresent(scope: String, stream: String): Boolean =
    chain(scope, stream).floorAnchorPresent()

  /** The stream's manifest chain audit for Fsck (see [[ManifestLog.audit]]). */
  def auditStream(scope: String, stream: String): Seq[ChainIssue] =
    log(scope, stream).audit()

  /** The chain audit of a registered key-value table's manifests — no
    * Spark session needed.
    */
  def auditKeyValueTable(scope: String, name: String): Seq[ChainIssue] =
    graft.kv.KeyValueTable.manifestLog(() => fs, new Path(new Path(kvtRoot(scope), name), "_meta"),
      s"kv table $scope/$name").audit()

  /** Retire manifest history older than `keepVersions` behind the tip
    * (see [[ManifestLog.gc]]): at one commit/second a year of history is
    * 3×10^7 objects in one listing. As-of reads below the floor fail
    * loudly at resolution (the same retention-bounded time-travel
    * contract as data-file sweeps). Returns the retired versions.
    */
  def gcManifests(scope: String, stream: String, keepVersions: Int): Seq[Long] =
    log(scope, stream).gc(keepVersions)
}
