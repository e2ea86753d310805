package graft.catalog

import graft.core.{GraftException, ManifestChainBrokenException, PendingDelete}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s.{DefaultFormats, Formats, JString}
import org.json4s.jackson.{JsonMethods, Serialization}

import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicReference
import scala.util.control.NonFatal

/** One committed manifest version on disk — either a FULL record (the
  * complete state: version 0, manifests written before this format, and
  * the rare diff-fallback commit) or a DELTA against the previous
  * version; full checkpoints live OUTSIDE the chain as out-of-band
  * `checkpoint-%012d.json` sidecars. This is the Delta/Iceberg
  * log-plus-checkpoint shape: a full-list manifest cost O(live files)
  * per COMMIT (1.08 s at 10^5 entries, COVERAGE.md §ManifestBench), and
  * the reference's controller store is event-sourced per-key updates
  * too (controller/.../store/stream/PravegaTablesStreamMetadataStore.java).
  *
  * Only the two O(files) collections (`files`, `pendingDeletes`) are
  * diffed; every bounded-size field rides wholesale in `meta`, whose
  * lists a delta leaves empty. A record without a `kind` field (the
  * bare state JSON of a manifest written before this format) reads as
  * full.
  */
final case class ManifestRecord[S, F](
    kind: String, // ManifestRecord.Full | ManifestRecord.Delta
    meta: S,
    filesAdded: Seq[F] = Nil,
    filesRemoved: Seq[String] = Nil,
    pendingAdded: Seq[PendingDelete] = Nil,
    pendingRemoved: Seq[String] = Nil)

object ManifestRecord {
  val Full = "full"
  val Delta = "delta"
}

/** What a [[ManifestLog]] reads and sets on a store's state type `S`,
  * whose live file entries are `F`.
  */
trait LogState[S, F] {
  def version(s: S): Long
  def committedAt(s: S): Long
  def incarnation(s: S): String
  def files(s: S): Seq[F]
  def pendingDeletes(s: S): Seq[PendingDelete]
  def path(f: F): String
  def stamped(s: S, committedAt: Long, incarnation: String): S
  def withLists(s: S, files: Seq[F], pendingDeletes: Seq[PendingDelete]): S
}

object ManifestLog {
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

  /** Block until every checkpoint scheduled so far has been written —
    * for benches/tests that measure or assert the steady state.
    */
  def flushCheckpoints(): Unit =
    ckptExec.submit(new Runnable { override def run(): Unit = () }).get(): Unit
}

/** The versioned state log of one stream or one key-value table: delta
  * records over a [[ManifestChain]], out-of-band checkpoint sidecars,
  * replay, commit stamping, the incarnation identity, as-of resolution,
  * GC with a verified base and the chain audit. A store keeps its own
  * API and retry policy and calls this for the rest.
  *
  * Identity, one rule for every log: version 0 is the log's identity
  * record, holding the incarnation minted by [[create]], and GC never
  * retires it. Every later record carries that incarnation forward. A
  * stream writes v0 when it is created; a key-value table writes it
  * with its first commit. A key-value chain written before identity
  * records has none until its next commit writes one carrying the
  * incarnation its records already have; until then it reads as before,
  * without a trusted cache.
  *
  * Delete+recreate of the same name restarts the chain, so version
  * numbers collide across incarnations: a cached state or a sidecar is
  * trusted only when its incarnation matches the v0 record's, one small
  * GET whatever the tip record's size.
  *
  * `missing(msg)` is the store's exception for a version retired while
  * it was being read.
  */
final class ManifestLog[S <: AnyRef, F](fsf: () => FileSystem, dir: Path, first: Long,
                                        checkpointInterval: Int, label: String,
                                        missing: String => Exception)
                                       (implicit st: LogState[S, F], mS: Manifest[S], mF: Manifest[F]) {
  require(checkpointInterval >= 1, "checkpointInterval must be >= 1")
  private implicit val fmts: Formats = DefaultFormats

  /** The record chain; its tip walk is capped at two intervals of probes. */
  val chain = new ManifestChain(fsf, dir, "manifest-", ".json", first,
    probeCap = math.max(2 * checkpointInterval, 8))

  /** Newest reconstructed state, version-monotone WITHIN an incarnation.
    * Records are immutable once written, so within an incarnation a
    * cached state is never WRONG, at most behind — and every read
    * resolves the chain tip first. Steady state: a committer's
    * read-modify-write reads the v0 record (the validation GET) and
    * writes O(delta); a tailing reader pays a few exact-key probes plus
    * one small record read per poll — O(1), independent of file count.
    */
  private val cache = new AtomicReference[S]()

  /** The newest eligible state waiting for the checkpointer: if commits
    * outrun it, only the newest one is written (an older checkpoint is
    * redundant once a newer one exists).
    */
  private val pendingCkpt = new AtomicReference[S]()

  // the name deliberately does NOT match the `manifest-*.json` pattern:
  // sidecars are invisible to the chain's version listing
  private def sidecarPath(v: Long) = new Path(dir, f"checkpoint-$v%012d.json")

  /** The newest committed state (see [[ManifestChain.readTip]]); None on
    * an empty log.
    */
  def tip(): Option[S] = chain.readTip(reconstruct).map(_._2)

  /** Exactly version `v`; None when it does not exist or was retired. */
  def at(v: Long): Option[S] = chain.readAt(v)(reconstruct)

  /** Latest version committed at or before `epochMillis` (see
    * [[ManifestChain.versionAtTime]]); the stamp is the `committedAt`
    * written inside each record at CAS time, clamped monotone by
    * [[write]].
    */
  def versionAtTime(epochMillis: Long, tipVersion: () => Option[Long]): Option[Long] =
    chain.versionAtTime(epochMillis, tipVersion)(b => st.committedAt(parseRecord(b).meta))

  /** This instance has seen v0, which GC never retires (a recreated log
    * writes its own): [[ensureIdentity]] need not probe again.
    */
  @volatile private var identified = false

  /** The incarnation in the v0 identity record; None when unreadable —
    * callers must then distrust any cached state.
    */
  def identity(): Option[String] = {
    val i = scala.util.Try(st.incarnation(parseRecord(chain.bytes(0L)).meta)).toOption
    identified ||= i.isDefined
    i
  }

  /** Write version 0, the identity record: `initial` under a freshly
    * minted incarnation, or under `carry` for a chain written before
    * identity records. None = v0 already exists.
    */
  def create(initial: S, carry: Option[String] = None): Option[S] = {
    require(st.version(initial) == 0L, s"$label: the identity record is version 0")
    val out = write(st.stamped(initial, 0L, carry.getOrElse(java.util.UUID.randomUUID().toString)), None)
    identified = true
    out
  }

  /** Give a chain written before identity records its v0, carrying the
    * incarnation its records already have; one probe per instance.
    */
  def ensureIdentity(initial: S, carry: String): Unit =
    if (!identified && !chain.exists(0L)) create(initial, Some(carry))
    else identified = true

  /** CAS `next` as its version on top of `prev`; None = the version was
    * already taken. The record is a delta against `prev` (a full one
    * without `prev`).
    */
  def write(next: S, prev: Option[S]): Option[S] = {
    // commit time is stamped INSIDE the record at CAS time — the
    // TIMESTAMP AS OF authority (file mtimes are unreliable) — and
    // CLAMPED to never precede the previous version's stamp, so stamps
    // are monotone BY CONSTRUCTION even across skewed writer clocks and
    // versionAtTime resolves by binary search. The incarnation is
    // force-carried from the previous version so no update closure can
    // drop or rewrite the log's identity.
    val now = System.currentTimeMillis()
    val meta = prev match {
      case Some(p) => st.stamped(next, math.max(now, st.committedAt(p)), st.incarnation(p))
      case None => st.stamped(next, now, st.incarnation(next))
    }
    val rec = prev match {
      case Some(p) =>
        // Fast path: append-only commits keep the previous list as a
        // prefix (instances SHARED after `++`/`:+`, so startsWith is
        // pointer compares). Slow path (truncate/compact/sweep — rare): a
        // path-keyed diff; an entry that CHANGED is removed+re-added.
        def diff[A](prev: Seq[A], next: Seq[A], pathOf: A => String): Option[(Seq[A], Seq[String])] =
          if (next.lengthCompare(prev.size) >= 0 && next.startsWith(prev))
            Some((next.drop(prev.size), Nil))
          else {
            val pm = prev.iterator.map(a => pathOf(a) -> a).toMap
            val nm = next.iterator.map(a => pathOf(a) -> a).toMap
            // duplicate paths would make the diff lossy: write a full record
            if (pm.size != prev.size || nm.size != next.size) None
            else Some((
              next.filter(a => !pm.get(pathOf(a)).contains(a)),
              prev.collect { case a if !nm.get(pathOf(a)).contains(a) => pathOf(a) }))
          }
        (diff[F](st.files(p), st.files(meta), st.path),
          diff[PendingDelete](st.pendingDeletes(p), st.pendingDeletes(meta), _.path)) match {
          case (Some((fa, fr)), Some((pa, pr))) =>
            ManifestRecord[S, F](ManifestRecord.Delta, st.withLists(meta, Nil, Nil),
              filesAdded = fa, filesRemoved = fr, pendingAdded = pa, pendingRemoved = pr)
          case _ => ManifestRecord[S, F](ManifestRecord.Full, meta)
        }
      case None => ManifestRecord[S, F](ManifestRecord.Full, meta)
    }
    if (!chain.create(st.version(meta), Serialization.write(rec).getBytes(StandardCharsets.UTF_8)))
      return None
    cacheForward(meta)
    // out-of-band checkpoint: the O(files) serialize happens on the
    // checkpointer thread AFTER the CAS landed; a crash before it lands
    // is invisible — readers replay deltas to the previous base.
    if (checkpointEligible(st.version(meta))) scheduleCheckpoint(meta)
    Some(meta)
  }

  /** Retire history older than `keepVersions` behind the tip — log
    * retention, the piece that keeps `_meta/` from growing one file per
    * commit forever. The floor lands on the newest checkpoint-eligible
    * version at or below (tip − keepVersions), whose sidecar the
    * checkpointer has usually written already; a log shorter than that
    * has no eligible version, and its floor is the cut itself, whose
    * sidecar reads then take as their base ([[reconstruct]]). Either
    * way the floor's sidecar is verified readable (written on the spot
    * when missing) BEFORE [[ManifestChain.gc]] commits the floor and
    * deletes records and sidecars strictly below it — except v0.
    * Everything at or above the floor reconstructs exactly as before.
    * Returns the retired versions.
    */
  def gc(keepVersions: Int): Seq[Long] = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    // UNCONDITIONAL sidecar delete (a no-op when absent): a log read with
    // a different checkpointInterval may have sidecars at versions THIS
    // instance considers ineligible, and those would leak below the floor
    chain.gc(v =>
      try fsf().delete(sidecarPath(v), false): Unit
      catch { case NonFatal(_) => () }) { versions =>
      if (versions.isEmpty) throw missing(s"$label does not exist")
      val cut = versions.last - keepVersions
      // the floor only ever moves up
      val cv = if (cut >= checkpointInterval) (cut / checkpointInterval) * checkpointInterval else cut
      if (cv <= 0 || cv <= chain.floor()) None
      else {
        val inc = identity().getOrElse(
          throw new GraftException(s"gc aborted for $label: identity record unreadable"))
        // the new floor must carry a readable base BEFORE anything is
        // deleted; a crashed checkpointer's hole is repaired synchronously.
        // A CONCURRENT gc with a larger cut may retire cv itself mid-flight —
        // that is supersession, not failure: their floor covers ours.
        if (readSidecar(cv, inc).isDefined) Some((cv, inc))
        else {
          at(cv).foreach(writeSidecar)
          if (readSidecar(cv, inc).isDefined) Some((cv, inc))
          else if (chain.floor() >= cv) None // superseded
          else throw new GraftException(
            s"gc aborted for $label: could not establish a checkpoint base at v$cv")
        }
      }
    }
  }

  /** The chain audit for fsck (see [[ManifestChain.audit]]): a version's
    * base reads when it reconstructs; the live identity is the tip's
    * incarnation.
    */
  def audit(): Seq[ChainIssue] =
    chain.audit(v => scala.util.Try(reconstruct(v)).isSuccess,
      () => tip().fold("")(st.incarnation))

  /** Drop a queued checkpoint before the log's directory is deleted: an
    * in-flight sidecar write landing afterwards would resurrect it.
    */
  def dropPending(): Unit = pendingCkpt.set(null.asInstanceOf[S])

  /** Forget the cached state and the chain's hints (the log was deleted). */
  def invalidate(): Unit = {
    cache.set(null.asInstanceOf[S])
    identified = false
    chain.invalidate()
  }

  private def parseRecord(bytes: Array[Byte]): ManifestRecord[S, F] = {
    val jv = JsonMethods.parse(new String(bytes, StandardCharsets.UTF_8))
    jv \ "kind" match {
      case JString(_) => jv.extract[ManifestRecord[S, F]]
      case _ => ManifestRecord[S, F](ManifestRecord.Full, jv.extract[S])
    }
  }

  private def readRecord(v: Long): ManifestRecord[S, F] = parseRecord(chain.bytes(v))

  /** Read one record BELOW the requested version during a chain walk.
    * The committer that built on it read it, so a persistent failure —
    * missing OR corrupt bytes — is storage corruption, raised as
    * [[ManifestChainBrokenException]] rather than a silently stale state.
    * A bounded retry absorbs transient IO first.
    */
  private def readChainRecord(v: Long, requested: Long): ManifestRecord[S, F] = {
    var last: Exception = null
    for (_ <- 1 to 3) {
      try return readRecord(v)
      catch { case e: Exception => last = e; Thread.sleep(5) }
    }
    throw new ManifestChainBrokenException(
      s"manifest chain of $label broken: version $v unreadable below requested $requested ($last)")
  }

  private def checkpointEligible(v: Long): Boolean = v > 0 && v % checkpointInterval == 0

  /** Try the out-of-band checkpoint sidecar at `v`. None (fall back to
    * delta replay) when missing — the checkpointer is asynchronous, so a
    * crash between the delta CAS and the sidecar write legitimately
    * leaves a hole — or torn mid-write, or from a dead incarnation.
    */
  private def readSidecar(v: Long, incarnation: String): Option[S] =
    try {
      val in = fsf().open(sidecarPath(v))
      val meta =
        try Serialization.read[S](new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
        finally in.close()
      if (st.incarnation(meta) == incarnation && st.version(meta) == v) Some(meta) else None
    } catch { case NonFatal(_) => None }

  /** Write the checkpoint sidecar for a committed state: temp file +
    * rename; failures are swallowed (the sidecar only shortens replay),
    * and concurrent writers of a version write identical content.
    */
  private def writeSidecar(meta: S): Unit =
    try {
      val v = st.version(meta)
      // never resurrect a deleted log's directory: the chain record this
      // sidecar summarizes must still exist (read-repair and the async
      // queue can both race a concurrent delete)
      if (!chain.exists(v)) return
      val fs = fsf()
      val dst = sidecarPath(v)
      val tmp = new Path(dir, dst.getName + ".tmp-" + java.util.UUID.randomUUID())
      val out = fs.create(tmp, true)
      try out.write(Serialization.write(meta).getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, dst)) fs.delete(tmp, false): Unit
      // the guard is check-then-act: a delete on ANOTHER instance can
      // finish before the rename resurrects the directory. Re-verify and
      // delete ONLY the orphan file (a recreate may own the dir again);
      // the stores' existence checks tolerate a v0-less residue.
      if (!chain.exists(v)) fs.delete(dst, false): Unit
    } catch { case NonFatal(_) => () }

  private def scheduleCheckpoint(meta: S): Unit = {
    pendingCkpt.set(meta)
    ManifestLog.ckptExec.submit(new Runnable {
      override def run(): Unit = {
        val m = pendingCkpt.getAndSet(null.asInstanceOf[S])
        if (m != null) writeSidecar(m)
      }
    }): Unit
  }

  /** Reconstruct the committed state at `version`: walk delta records
    * backward to the nearest checkpoint SIDECAR, full record (v0,
    * pre-log chains, diff-fallback commits) or this instance's cached
    * state, whichever is nearer, then replay forward. Every record on the
    * walk except `version` itself was readable by the committer that
    * built on it, so a torn read can only happen at the requested version
    * — the caller's retry/fallback loops handle that; unreadable records
    * BELOW it are chain corruption ([[readChainRecord]]). A missing
    * sidecar is NOT corruption (the checkpointer is async and
    * crash-lossy): the walk just continues to the next older base.
    *
    * Cached state is NEVER trusted without the identity check against
    * v0 (see the class doc).
    */
  private def reconstruct(version: Long): S = {
    // fetched at most once per call: needed only when a cached state or
    // a checkpoint sidecar is a candidate base
    lazy val inc = identity()
    val cached = Option(cache.get())
      .filter(c => st.version(c) <= version)
      .filter { c =>
        val live = inc.contains(st.incarnation(c))
        // dead incarnation: drop it so the monotone guard can't keep it
        if (!live) cache.compareAndSet(c, null.asInstanceOf[S])
        live
      }
    cached match {
      case Some(c) if st.version(c) == version => return c
      case _ =>
    }
    // a short log's gc floor is off the checkpoint cadence (see [[gc]]):
    // its sidecar is the base there, the record under it being retired
    lazy val floorHint = chain.floorFast()
    def atLowFloor(v: Long): Boolean =
      v > 0 && v < checkpointInterval && !cached.exists(c => st.version(c) == v - 1) && v == floorHint
    var base: Option[S] = None
    var walk: List[ManifestRecord[S, F]] = Nil
    var v = version
    // eligible versions whose sidecar the walk found MISSING — the
    // checkpointer that should have written them crashed. Repaired below
    // from the replayed states (read-repair), otherwise a read-mostly log
    // would replay those deltas on every cold read forever.
    var repair = Set.empty[Long]
    while (base.isEmpty) {
      if (cached.exists(c => st.version(c) == v)) base = cached
      else {
        val side =
          if (checkpointEligible(v) || atLowFloor(v)) inc.flatMap(i => readSidecar(v, i))
          else None
        if (side.isDefined) base = side
        else {
          if (checkpointEligible(v)) repair += v
          // a missing/unreadable record at the REQUESTED version is the
          // torn-tip case (CAS winner crashed mid-write) — throw as-is for
          // the caller's retry/fall-back-one-version loop
          val rec =
            if (v == version) Some(readRecord(v))
            else try Some(readChainRecord(v, version))
            catch {
              case e: ManifestChainBrokenException =>
                // the record may be GC-RETIRED rather than corrupt: the
                // floor's sidecar is then the mandated base — checked by
                // the FLOOR version, not by this instance's interval, so a
                // log read with a different interval still reads GC'd logs
                val fl = chain.floor()
                // a floor ABOVE the requested version means the request
                // itself was retired (a concurrent gc overtook this walk):
                // the retention miss, never the floor state masquerading
                // as the requested version
                if (fl > version)
                  throw missing(s"version $version of $label was garbage-collected " +
                    s"mid-read (manifest retention floor is now $fl)")
                val atFloor = if (fl > v) inc.flatMap(i => readSidecar(fl, i)) else None
                // a REGRESSED marker (legacy rename-replaced floors or hand
                // surgery) points BELOW the retired range, so the floor
                // lookup above misses — but the retained chain's true base
                // is some version in (v, requested] with a readable
                // sidecar: probe them all before giving up (exact-key GETs
                // on a rare, already-broken recovery path)
                val mandated = atFloor.orElse(inc.flatMap { i =>
                  ((v + 1) to version).iterator.flatMap(w => readSidecar(w, i)).nextOption()
                })
                mandated match {
                  case Some(s) =>
                    base = mandated
                    // records at or below the base are already folded in
                    walk = walk.dropWhile(r => st.version(r.meta) <= st.version(s))
                    None
                  case None => throw e
                }
            }
          rec.foreach { r =>
            if (r.kind == ManifestRecord.Full) base = Some(r.meta)
            else {
              require(v > 0, s"delta record at version 0 of $label")
              walk ::= r
              v -= 1
            }
          }
        }
      }
    }
    val state = walk.foldLeft(base.get) { (s, r) =>
      val next = applyDelta(s, r)
      if (repair.contains(st.version(next))) scheduleCheckpoint(next)
      next
    }
    cacheForward(state)
    state
  }

  private def applyDelta(base: S, rec: ManifestRecord[S, F]): S = {
    val rmF = rec.filesRemoved.toSet
    val files =
      (if (rmF.isEmpty) st.files(base) else st.files(base).filterNot(f => rmF(st.path(f)))) ++
        rec.filesAdded
    val rmP = rec.pendingRemoved.toSet
    val pending =
      (if (rmP.isEmpty) st.pendingDeletes(base)
       else st.pendingDeletes(base).filterNot(p => rmP(p.path))) ++ rec.pendingAdded
    st.withLists(rec.meta, files, pending)
  }

  /** Version-monotone cache install (an as-of read of an OLD version
    * must never displace a newer cached tip). Monotonicity only holds
    * WITHIN an incarnation: a state read from a different (i.e. newly
    * recreated) incarnation reflects what is on disk NOW and replaces the
    * dead tip regardless of version number.
    */
  private def cacheForward(state: S): Unit =
    cache.updateAndGet { old =>
      if (old != null && st.incarnation(old) == st.incarnation(state) &&
        st.version(old) >= st.version(state)) old
      else state
    }: Unit
}
