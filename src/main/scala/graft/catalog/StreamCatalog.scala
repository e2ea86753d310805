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
  * files, ~10^5 entries per stream. The manifest chain is therefore an
  * incremental LOG (see [[ManifestRecord]]): EVERY commit writes an
  * O(delta) record; a full checkpoint sidecar lands OUT-OF-BAND (async,
  * after the CAS) every `checkpointInterval` versions, and readers
  * replay ≤ one interval of deltas from the nearest sidecar/cached
  * state (a tailing reader pays one small record read per poll).
  * `tools.ManifestBench` measures all three designs (full-list, inline
  * checkpoints, out-of-band); COVERAGE.md carries the table.
  * Retention/compaction keeps the file list bounded; nothing here is
  * per-row or per-executor state.
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

/** One committed manifest version on disk — either a FULL record
  * (complete `StreamMetadata`: version 0, pre-upgrade manifests, and the
  * rare diff-fallback commit) or a DELTA against the previous version.
  * Periodic full checkpoints live OUTSIDE the chain as out-of-band
  * `checkpoint-%012d.json` sidecars written after the delta CAS lands.
  *
  * Motivation (measured by `tools.ManifestBench` on the pre-log design):
  * a full-list manifest costs O(live files) JSON parse + serialize per
  * COMMIT — 1.08 s/commit at 10^5 entries (the ~100 TB design point at
  * ~1 GB data files), 4.6 s at 3×10^5, and every CAS retry pays the
  * serialize again. The reference never rewrites full state per op
  * either: the controller's metadata store is event-sourced per-key
  * table updates (controller/.../store/stream/
  * PravegaTablesStreamMetadataStore.java). This is the same shape as the
  * Delta/Iceberg log-plus-checkpoint: per-commit delta records, an
  * out-of-band full checkpoint sidecar every `checkpointInterval`
  * versions to bound replay without ever putting O(files) work on the
  * commit path.
  *
  * Only the two O(files) collections (`files`, `pendingDeletes`) are
  * diffed; every bounded-size field (segments, epochs, transactions,
  * writer state, cuts, rates, watermarks, `committedAt`) rides wholesale
  * in `meta`. A delta's `meta` therefore carries `files = Nil` /
  * `pendingDeletes = Nil` and reconstruction is
  * `meta.copy(files = prev.files -- removed ++ added, …)`.
  *
  * CAS semantics are untouched: the record still lands as
  * `manifest-%012d.json` via exclusive create, the version chain stays
  * dense and monotone (hole-probe discovery, Fsck's chain check, as-of
  * reads and the delta feed all keyed purely on file names), and
  * manifests written before this format (bare `StreamMetadata` JSON,
  * no `kind` field) read as checkpoints.
  */
final case class ManifestRecord(
    kind: String, // ManifestRecord.Full | ManifestRecord.Delta
    meta: StreamMetadata,
    filesAdded: Seq[FileEntry] = Nil,
    filesRemoved: Seq[String] = Nil,
    pendingAdded: Seq[PendingDelete] = Nil,
    pendingRemoved: Seq[String] = Nil)

object ManifestRecord {
  val Full = "full"
  val Delta = "delta"
}

/** Manifest-log retention marker (one record of the `_meta/floor-<seq>`
  * CAS chain — see [[FloorChain]]): versions in (0, floor) have been
  * garbage-collected — the log-retention contract every production
  * log-plus-checkpoint table needs (Delta's logRetentionDuration,
  * Iceberg's expire_snapshots), or the chain grows one file per commit
  * forever. Version 0 is always retained (the tiny identity record the
  * incarnation guard validates against); `floor` itself is always a
  * checkpoint-eligible version whose sidecar was verified readable
  * BEFORE anything was deleted, so every retained version still
  * reconstructs. Committed before the deletes (a floor claiming more
  * than was deleted is harmless; the reverse would turn GC holes into
  * phantom lag probes), and monotone across JVMs by CAS-append.
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


  /** One shared daemon thread serializes all out-of-band checkpoint
    * writes — sidecars are an optimization (readers fall back to delta
    * replay), so they must never hold up a commit or keep the JVM alive.
    */
  private[catalog] val ckptExec: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-manifest-checkpointer")
      t.setDaemon(true)
      t
    })

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
  import StreamCatalog.DefaultDeleteGraceMillis
  require(checkpointInterval >= 1, "checkpointInterval must be >= 1")
  private implicit val fmts: Formats = DefaultFormats

  /** Newest reconstructed state per stream, version-monotone WITHIN a
    * stream incarnation. Manifests are immutable once written, so within
    * an incarnation a cached state is never WRONG, at most behind — and
    * `getStream` always resolves the chain tip first, so staleness is
    * impossible too. Across incarnations (delete+recreate of the same
    * name by ANOTHER catalog instance) version numbers collide, so
    * `reconstruct` validates every cache use against the on-disk record's
    * `incarnation` stamp before trusting it. Steady state: a committer's
    * read-modify-write reads one tip record (the validation GET) and
    * writes O(delta); a tailing reader pays a few exact-key probes + one
    * small record read per poll — O(1), independent of file count.
    */
  private val tipCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), StreamMetadata]

  private val root = new Path(rootDir)
  private def fs: FileSystem = root.getFileSystem(hadoopConf)

  private def scopePath(scope: String) = new Path(root, scope)
  private def streamPath(scope: String, stream: String) = new Path(scopePath(scope), stream)
  private def metaPath(scope: String, stream: String) = new Path(streamPath(scope, stream), "_meta")
  // the name deliberately does NOT match the `manifest-*.json` pattern:
  // sidecars are invisible to the chain's version listing
  private def checkpointPath(scope: String, stream: String, version: Long) =
    new Path(metaPath(scope, stream), f"checkpoint-$version%012d.json")
  // one manifest chain per stream, so warm reads ride its tip hint
  private val chains =
    scala.collection.concurrent.TrieMap.empty[(String, String), ManifestChain]
  private def chain(scope: String, stream: String): ManifestChain =
    chains.getOrElseUpdate((scope, stream),
      new ManifestChain(() => fs, metaPath(scope, stream), "manifest-", ".json",
        first = 0L, probeCap = math.max(2 * checkpointInterval, 8)))
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
    // dequeue + drain the checkpointer BEFORE deleting (see deleteStream:
    // an in-flight sidecar write must not resurrect a deleted _meta dir)
    pendingCkpt.keySet.removeIf(_._1 == scope)
    flushCheckpoints()
    val ok = fs.delete(scopePath(scope), true)
    // recreated streams under a recreated scope restart their chains at 0
    tipCache.keysIterator.filter(_._1 == scope).foreach(tipCache.remove)
    chains.keysIterator.filter(_._1 == scope).foreach(k => chains.remove(k).foreach(_.invalidate()))
    ok
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
      incarnation = java.util.UUID.randomUUID().toString,
      isSealed = false, tags = tags,
      epochs = Seq(EpochRecord(0, segs.map(_.segmentId), now)),
      segments = segs, files = Nil, headCut = Map.empty,
      transactions = Map.empty, writerMarks = Map.empty, writerBatches = Map.empty)
    writeManifest(meta, None).getOrElse(
      throw new GraftException(s"stream $scope/$stream already exists"))
  }

  def streamExists(scope: String, stream: String): Boolean =
    chain(scope, stream).list().nonEmpty

  /** The stream's newest committed state (see [[ManifestChain.readTip]]:
    * LIST-free while this instance's tip hint is warm, torn-tip fallback
    * of one version). reconstruct() validates any cached state against
    * the v0 identity record, so a delete+recreate collision is caught on
    * either path.
    */
  def getStream(scope: String, stream: String): StreamMetadata =
    chain(scope, stream).readTip(v => reconstruct(scope, stream, v)).map(_._2)
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
    // Dequeue first so nothing NEW starts, then barrier on the in-flight.
    pendingCkpt.remove((scope, stream))
    flushCheckpoints()
    fs.delete(streamPath(scope, stream), true)
    // a recreated stream restarts its version chain at 0 — the old tip
    // must not shadow it; same for the chain's hints
    tipCache.remove((scope, stream))
    chains.remove((scope, stream)).foreach(_.invalidate())
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
      writeManifest(next, Some(cur)) match {
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
    chain(scope, stream).readAt(version)(v => reconstruct(scope, stream, v)).getOrElse(
      throw new NoSuchStreamException(
        s"stream $scope/$stream has no manifest version $version " +
          s"(available: ${manifestVersions(scope, stream).mkString(", ")})"))

  /** Latest version committed at or before `epochMillis`, for
    * `TIMESTAMP AS OF` (see [[ManifestChain.versionAtTime]]). None if the
    * stream didn't exist yet at t; [[TruncatedDataException]] if the
    * instant falls inside manifest history that [[gcManifests]] retired.
    * The stamp is the `committedAt` written inside each record at CAS
    * time, clamped monotone by [[writeManifest]]; with a warm tip hint
    * the whole query is O(log n) record GETs and no listing.
    */
  def versionAtTime(scope: String, stream: String, epochMillis: Long): Option[Long] =
    chain(scope, stream).versionAtTime(epochMillis, () =>
      try Some(getStream(scope, stream).version)
      catch { case _: NoSuchStreamException => None }
    )(b => parseRecord(b).meta.committedAt)

  /** Parse ONE manifest version's on-disk record without reconstructing
    * state. Legacy manifests (bare StreamMetadata JSON, pre-log format)
    * read as full checkpoints — the `kind` field is the discriminator.
    */
  private def readRecord(scope: String, stream: String, version: Long): ManifestRecord =
    parseRecord(chain(scope, stream).bytes(version))

  private def parseRecord(bytes: Array[Byte]): ManifestRecord = {
    val jv = org.json4s.jackson.JsonMethods.parse(new String(bytes, StandardCharsets.UTF_8))
    jv \ "kind" match {
      case org.json4s.JString(_) => jv.extract[ManifestRecord]
      case _ => ManifestRecord(ManifestRecord.Full, jv.extract[StreamMetadata])
    }
  }

  /** Read one record BELOW the requested version during a chain walk.
    * Every such record was readable by the committer that built on it, so
    * any persistent failure — missing file OR corrupt/truncated bytes —
    * means the chain cannot replay: that is storage corruption,
    * distinguished as [[ManifestChainBrokenException]] so callers never
    * silently fall back to a deep-stale state instead. A bounded retry
    * absorbs transient IO first.
    */
  private def readChainRecord(scope: String, stream: String, v: Long,
                              requested: Long): ManifestRecord = {
    var last: Exception = null
    for (_ <- 1 to 3) {
      try return readRecord(scope, stream, v)
      catch { case e: Exception => last = e; Thread.sleep(5) }
    }
    throw new ManifestChainBrokenException(
      s"manifest chain of $scope/$stream broken: version $v unreadable " +
        s"below requested $requested ($last)")
  }

  private def checkpointEligible(v: Long): Boolean =
    v > 0 && v % checkpointInterval == 0

  /** Try the out-of-band checkpoint sidecar at `v`. None (fall back to
    * delta replay) when missing — the checkpointer is asynchronous, so a
    * crash between the delta CAS and the sidecar write legitimately
    * leaves a hole — or torn mid-write, or from a dead incarnation.
    */
  private def readSidecar(scope: String, stream: String, v: Long,
                          incarnation: String): Option[StreamMetadata] =
    try {
      val in = fs.open(checkpointPath(scope, stream, v))
      val meta =
        try Serialization.read[StreamMetadata](
          new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
        finally in.close()
      if (meta.incarnation == incarnation && meta.version == v) Some(meta) else None
    } catch { case _: Exception => None }

  /** Write the checkpoint sidecar for a just-committed state: temp file +
    * rename for atomic visibility; failures are swallowed (the sidecar
    * only shortens replay — correctness never depends on it). Concurrent
    * writers of the same version produce identical content (state is a
    * pure function of the delta chain), so lost renames are harmless.
    */
  private def writeSidecar(meta: StreamMetadata): Unit =
    try {
      // never resurrect a deleted stream's _meta dir: the chain record
      // this sidecar summarizes must still exist (read-repair and the
      // async queue can both race a concurrent deleteStream)
      if (!chain(meta.scope, meta.name).exists(meta.version)) return
      val dst = checkpointPath(meta.scope, meta.name, meta.version)
      val tmp = new Path(dst.getParent,
        dst.getName + ".tmp-" + java.util.UUID.randomUUID())
      val out = fs.create(tmp, true)
      try out.write(Serialization.write(meta).getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, dst)) fs.delete(tmp, false): Unit
      // the guard above is check-then-act: a concurrent deleteStream on
      // ANOTHER instance can finish between it and the rename, leaving
      // the rename to resurrect _meta with only this sidecar inside.
      // Re-verify after the rename and self-delete the orphan sidecar
      // (deleting ONLY the file, never the dir — a concurrent recreate
      // may already own _meta again). A residual v0-less _meta dir is
      // additionally tolerated everywhere: createStream clears it,
      // listStreams skips it.
      if (!chain(meta.scope, meta.name).exists(meta.version))
        fs.delete(dst, false): Unit
    } catch { case _: Exception => () }

  /** Pending checkpoint states, coalesced per stream: if commits outrun
    * the checkpointer, only the NEWEST eligible state per stream is
    * written (an older checkpoint is strictly redundant once a newer one
    * exists), so the queue depth is bounded by live streams.
    */
  private val pendingCkpt = new java.util.concurrent.ConcurrentHashMap[
    (String, String), StreamMetadata]()

  private def scheduleCheckpoint(meta: StreamMetadata): Unit = {
    pendingCkpt.put((meta.scope, meta.name), meta)
    StreamCatalog.ckptExec.submit(new Runnable {
      override def run(): Unit = {
        val m = pendingCkpt.remove((meta.scope, meta.name))
        if (m != null) writeSidecar(m)
      }
    }): Unit
  }

  /** Block until every checkpoint scheduled so far has been written —
    * for benches/tests that measure or assert the steady state.
    */
  def flushCheckpoints(): Unit =
    StreamCatalog.ckptExec.submit(new Runnable { override def run(): Unit = () })
      .get(): Unit

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

  /** The stream's manifest chain audit for Fsck (see
    * [[ManifestChain.audit]]): a version's base reads when it
    * reconstructs; the live identity is the current incarnation.
    */
  def auditStream(scope: String, stream: String): Seq[ChainIssue] =
    chain(scope, stream).audit(
      v => scala.util.Try(reconstruct(scope, stream, v)).isSuccess,
      () => getStream(scope, stream).incarnation)

  /** The chain audit of a registered key-value table's manifests — no
    * Spark session needed (see [[graft.kv.KeyValueTable.auditChain]]).
    */
  def auditKeyValueTable(scope: String, name: String): Seq[ChainIssue] =
    graft.kv.KeyValueTable.auditChain(graft.kv.KeyValueTable.manifestChain(
      () => fs, new Path(new Path(kvtRoot(scope), name), "_meta")))

  /** Retire manifest history older than `keepVersions` behind the tip —
    * log retention, the piece that keeps `_meta/` from growing one file
    * per commit forever (at one commit/second a year of history is
    * 3×10^7 objects in one listing). The floor lands on the largest
    * checkpoint-eligible version ≤ (tip − keepVersions) whose SIDECAR is
    * verified readable (read-repaired on the spot if the checkpointer
    * had crashed); then [[ManifestChain.gc]] commits the floor and deletes
    * records and sidecars strictly below it — except the v0 identity
    * record. As-of reads below the floor fail loudly at resolution (the
    * same retention-bounded time-travel contract as data-file sweeps);
    * everything at or above the floor reconstructs exactly as before.
    * Returns the retired versions.
    */
  def gcManifests(scope: String, stream: String, keepVersions: Int): Seq[Long] = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    // UNCONDITIONAL sidecar delete (a no-op when absent): a catalog with
    // a different checkpointInterval may have written sidecars at
    // versions THIS instance considers ineligible, and those would leak
    // below the floor forever
    chain(scope, stream).gc(v =>
      try fs.delete(checkpointPath(scope, stream, v), false): Unit
      catch { case _: Exception => () }) { versions =>
      if (versions.isEmpty)
        throw new NoSuchStreamException(s"stream $scope/$stream does not exist")
      val cut = versions.last - keepVersions
      // the floor only ever moves up, in checkpoint-interval steps
      val cv = (cut / checkpointInterval) * checkpointInterval
      if (cv <= manifestFloor(scope, stream) || cv <= 0) None
      else {
        val inc = streamIncarnation(scope, stream).getOrElse(
          throw new GraftException(
            s"gc aborted for $scope/$stream: identity record unreadable"))
        // the new floor must carry a readable base BEFORE anything is
        // deleted; a crashed checkpointer's hole is repaired synchronously.
        // A CONCURRENT gc with a larger cut may retire cv itself mid-flight —
        // that is supersession, not failure: their floor covers ours.
        if (readSidecar(scope, stream, cv, inc).isDefined) Some((cv, inc))
        else {
          try writeSidecar(getStreamAt(scope, stream, cv))
          catch { case _: NoSuchStreamException => }
          if (readSidecar(scope, stream, cv, inc).isDefined) Some((cv, inc))
          else if (manifestFloor(scope, stream) >= cv) None // superseded
          else throw new GraftException(
            s"gc aborted for $scope/$stream: could not establish a checkpoint base at v$cv")
        }
      }
    }
  }

  /** The CURRENT incarnation id of a stream, read from the v0 record —
    * tiny (creation writes files = Nil) and immutable for the life of an
    * incarnation, so this is an O(1)-byte GET regardless of how large
    * any later record grew (validating against the TIP record would cost
    * O(tip bytes): ManifestBench measured 8.4 s when the tip was a
    * 10^6-entry bulk-ingest delta). None when unreadable — callers must
    * then distrust any cached state.
    */
  private def streamIncarnation(scope: String, stream: String): Option[String] =
    try Some(readRecord(scope, stream, 0L).meta.incarnation)
    catch { case _: Exception => None }

  /** Reconstruct the committed state at `version`: walk delta records
    * backward to the nearest checkpoint SIDECAR, inline full record (v0,
    * pre-upgrade chains, diff-fallback commits) or this instance's
    * cached state, whichever is nearer, then replay forward. Every
    * record on the walk except `version` itself was readable by the
    * committer that built on it, so a torn read can only happen at the
    * requested version — the caller's retry/fallback loops handle that
    * exactly as before; unreadable records BELOW it are chain corruption
    * ([[readChainRecord]]). A missing sidecar is NOT corruption (the
    * checkpointer is async and crash-lossy): the walk just continues to
    * the next older base, so a crash between delta CAS and sidecar write
    * is invisible.
    *
    * Cached state is NEVER trusted without an on-disk identity check:
    * the cache can hold a DEAD incarnation (another catalog instance
    * deleted+recreated this stream; chains restart at 0, so version
    * numbers collide across incarnations). [[streamIncarnation]] — one
    * O(1)-byte v0 read — validates the cached `incarnation` stamp, so
    * the tailing reader's steady state is one LIST plus one tiny GET,
    * independent of file count and of tip-record size.
    */
  private def reconstruct(scope: String, stream: String, version: Long): StreamMetadata = {
    val key = (scope, stream)
    // lazily fetched at most once per call: needed only when a cached
    // state or a checkpoint sidecar is a candidate base
    var inc: Option[Option[String]] = None
    def incarnation(): Option[String] = {
      if (inc.isEmpty) inc = Some(streamIncarnation(scope, stream))
      inc.get
    }
    val cached = tipCache.get(key)
      .filter(_.version <= version)
      .filter { c =>
        val live = incarnation().contains(c.incarnation)
        // dead incarnation: drop it so the monotone guard can't keep it
        if (!live) tipCache.remove(key)
        live
      }
    cached match {
      case Some(c) if c.version == version => return c
      case _ =>
    }
    var base: StreamMetadata = null
    var chain: List[ManifestRecord] = Nil
    var v = version
    // eligible versions whose sidecar the walk found MISSING — the
    // checkpointer that should have written them crashed. Repaired
    // below from the replayed states (read-repair), otherwise a
    // read-mostly stream would replay those deltas on every cold read
    // forever (no further commits ever heal it).
    var repair = Set.empty[Long]
    while (base == null) {
      if (cached.exists(_.version == v)) base = cached.get
      else {
        val side =
          if (checkpointEligible(v))
            incarnation().flatMap(i => readSidecar(scope, stream, v, i))
          else None
        side match {
          case Some(st) => base = st
          case None =>
            if (checkpointEligible(v)) repair += v
            // a missing/unreadable record at the REQUESTED version is
            // the torn-tip case (CAS winner crashed mid-write) — throw
            // as-is for the caller's retry/fall-back-one-version loop
            val rec =
              if (v == version) readRecord(scope, stream, v)
              else try readChainRecord(scope, stream, v, version)
              catch {
                case e: ManifestChainBrokenException =>
                  // the record may be GC-RETIRED rather than corrupt:
                  // the floor marker's sidecar is then the mandated
                  // base — checked by the FLOOR version, not by this
                  // instance's checkpointInterval, so a catalog with a
                  // different interval still reads GC'd streams
                  val fl = manifestFloor(scope, stream)
                  // a floor ABOVE the requested version means the
                  // request itself was retired (a concurrent gc overtook
                  // this walk): the retention miss, never the floor
                  // state masquerading as the requested version
                  if (fl > version)
                    throw new NoSuchStreamException(
                      s"version $version of $scope/$stream was garbage-collected " +
                        s"mid-read (manifest retention floor is now $fl)")
                  val side =
                    if (fl > v)
                      incarnation().flatMap(i => readSidecar(scope, stream, fl, i))
                    else None
                  // a REGRESSED marker (legacy rename-replaced floors or
                  // hand surgery; unreachable through the FloorChain CAS)
                  // points BELOW the retired range, so the floor lookup
                  // above misses — but the retained chain's true base is
                  // some version in (v, requested] with a readable
                  // sidecar: probe them all before giving up. Exact-key
                  // GETs on a rare already-broken recovery path, and the
                  // only thing that keeps a different-checkpointInterval
                  // instance able to read such a stream at all (sidecar
                  // placement follows the WRITER's interval, so this
                  // instance's eligibility test can skip right past it).
                  val mandated = side.orElse(incarnation().flatMap { i =>
                    ((v + 1) to version).iterator
                      .flatMap(w => readSidecar(scope, stream, w, i))
                      .nextOption()
                  })
                  mandated match {
                    case Some(st) =>
                      base = st
                      // records at or below the base are already folded
                      // into the sidecar state
                      chain = chain.dropWhile(_.meta.version <= st.version)
                      null
                    case None => throw e
                  }
              }
            if (base != null) ()
            else if (rec.kind == ManifestRecord.Full) base = rec.meta
            else {
              require(v > 0, s"delta record at version 0 of $scope/$stream")
              chain ::= rec
              v -= 1
            }
        }
      }
    }
    val state = chain.foldLeft(base) { (st, rec) =>
      val next = applyDelta(st, rec)
      if (repair.contains(next.version)) scheduleCheckpoint(next)
      next
    }
    cacheForward(key, state)
    state
  }

  private def applyDelta(base: StreamMetadata, rec: ManifestRecord): StreamMetadata = {
    val rmF = rec.filesRemoved.toSet
    val files =
      (if (rmF.isEmpty) base.files else base.files.filterNot(f => rmF(f.path))) ++
        rec.filesAdded
    val rmP = rec.pendingRemoved.toSet
    val pending =
      (if (rmP.isEmpty) base.pendingDeletes
       else base.pendingDeletes.filterNot(p => rmP(p.path))) ++ rec.pendingAdded
    rec.meta.copy(files = files, pendingDeletes = pending)
  }

  /** Version-monotone cache install (an as-of read of an OLD version
    * must never displace a newer cached tip). Monotonicity only holds
    * WITHIN an incarnation: a state read from a different (i.e. newly
    * recreated) incarnation reflects what is on disk NOW and replaces the
    * dead tip regardless of version number.
    */
  private def cacheForward(key: (String, String), state: StreamMetadata): Unit =
    tipCache.updateWith(key) {
      case Some(old) if old.incarnation == state.incarnation &&
        old.version >= state.version => Some(old)
      case _ => Some(state)
    }

  /** CAS `meta0` as its version; None = the version was already taken. */
  private def writeManifest(meta0: StreamMetadata,
                            prev: Option[StreamMetadata]): Option[StreamMetadata] = {
    // commit time is stamped INSIDE the manifest at CAS time — the
    // TIMESTAMP AS OF authority (file mtimes are unreliable: coarse
    // granularity / writer clock skew can order them against versions) —
    // and CLAMPED to never precede the previous version's stamp: the CAS
    // serializes commits and every committer reconstructs the previous
    // state first, so the clamp costs nothing and makes the stamp
    // sequence monotone BY CONSTRUCTION even across skewed writer clocks
    // (a commit sequenced after a post-t commit can never be pre-t in
    // any consistent timeline). Monotone stamps are what let
    // versionAtTime resolve by pure binary search — O(log n) record GETs
    // at any chain depth (VersionsBench `time_resolve_ms`).
    // The incarnation id is force-carried from the previous version so no
    // update closure can accidentally drop or rewrite the stream identity.
    val meta = meta0.copy(
      committedAt = prev.fold(System.currentTimeMillis())(p =>
        math.max(System.currentTimeMillis(), p.committedAt)),
      incarnation = prev.map(_.incarnation).getOrElse(meta0.incarnation))
    val rec = prev match {
      case Some(p) =>
        // Two tiers. Fast path: append-only commits (the writeEvents /
        // txn-merge shape, i.e. almost every commit) keep the previous
        // list as a prefix — element instances are SHARED after `++`/`:+`
        // so startsWith degenerates to pointer compares and the diff
        // costs O(prev) eq-checks, no hashing. Slow path (truncate/
        // compact/redact/sweep — rare): a path-keyed structural diff; a
        // record that CHANGED for an existing path is removed+re-added.
        // Replay reproduces the writer's exact sequence for every real
        // operation — and file order carries no semantics regardless:
        // scans key on explicit offsets.
        def diff[A](prev: Seq[A], next: Seq[A], pathOf: A => String): Option[(Seq[A], Seq[String])] =
          if (next.lengthCompare(prev.size) >= 0 && next.startsWith(prev))
            Some((next.drop(prev.size), Nil))
          else {
            val pm = prev.iterator.map(a => pathOf(a) -> a).toMap
            val nm = next.iterator.map(a => pathOf(a) -> a).toMap
            // duplicate paths would make the diff lossy — never happens
            // with UUID'd part files, but fall back to a lossless full
            // checkpoint rather than trust it
            if (pm.size != prev.size || nm.size != next.size) None
            else Some((
              next.filter(a => !pm.get(pathOf(a)).contains(a)),
              prev.collect { case a if !nm.get(pathOf(a)).contains(a) => pathOf(a) }))
          }
        (diff[FileEntry](p.files, meta.files, _.path),
          diff[PendingDelete](p.pendingDeletes, meta.pendingDeletes, _.path)) match {
          case (Some((fa, fr)), Some((pa, pr))) =>
            ManifestRecord(ManifestRecord.Delta,
              meta.copy(files = Nil, pendingDeletes = Nil),
              filesAdded = fa, filesRemoved = fr,
              pendingAdded = pa, pendingRemoved = pr)
          case _ => ManifestRecord(ManifestRecord.Full, meta)
        }
      case _ => ManifestRecord(ManifestRecord.Full, meta)
    }
    if (!chain(meta.scope, meta.name).create(meta.version,
        Serialization.write(rec).getBytes(StandardCharsets.UTF_8))) return None
    // seed the cache with what was just committed: the writer's next
    // read-modify-write round trip touches only the tip record
    cacheForward((meta.scope, meta.name), meta)
    // out-of-band checkpoint: the in-line commit above stayed O(delta);
    // the O(files) full-state serialize happens on the checkpointer
    // thread AFTER the CAS landed. A crash before the sidecar lands is
    // invisible — readers replay deltas to the previous base.
    if (checkpointEligible(meta.version)) scheduleCheckpoint(meta)
    Some(meta)
  }
}
