package graft.catalog

import graft.core.{GraftException, ManifestChainBrokenException, RetentionFloorLostException, TruncatedDataException}
import org.apache.hadoop.fs.{FileSystem, Path}

import java.io.{FileNotFoundException, OutputStream}
import java.util.regex.Pattern
import scala.util.control.NonFatal

/** One finding of [[ManifestChain.audit]]: `kind` is the fsck issue kind. */
final case class ChainIssue(kind: String, detail: String)

object ManifestChain {
  /** Per-chain serialization of GC within this JVM — work deduplication,
    * not a correctness lock: the floor marker is a CAS-appended chain
    * ([[FloorChain]]), monotone across any number of JVMs by
    * construction, so unserialized concurrent gcs can never regress it —
    * the loser of the marker CAS discovers supersession and skips its
    * deletes (a harmless subset anyway; deletes are idempotent). The lock
    * only keeps two in-process maintenance tickers from re-listing and
    * re-deleting the same retired range. Keyed by the chain directory.
    */
  private val gcLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** A record that exists but does not read can only be a chain TIP
    * mid-write: exclusive create + write is not one atomic step on every
    * store, so the winner's bytes land just after its CAS. Records are
    * immutable once written, so a bounded retry heals the in-flight case;
    * a tip that stays unreadable is torn (its writer crashed).
    */
  private val TornRetries = 20
  private val TornSleepMs = 10L

  /** Delete each tombstoned path and return the ones now gone — the one
    * rule streams and KV tables clear their tombstones by: a tombstone
    * clears exactly when its path does not exist after the attempt.
    * `delete` returns false for a path that is already gone (an earlier
    * sweep deleted it, then lost its CAS or crashed), and a delete that
    * throws may have removed nothing.
    */
  def deleteTombstoned(fs: FileSystem, paths: Seq[String]): Seq[String] =
    paths.filter { p =>
      val path = new Path(p)
      try fs.delete(path, true) catch { case NonFatal(_) => false }
      try !fs.exists(path) catch { case NonFatal(_) => false }
    }
}

/** A dense chain of immutable records `<prefix>%012d<suffix>` in one
  * directory, versions `first`, `first+1`, … — the conditional-append
  * primitive under stream manifests, KV manifests and StateSynchronizer
  * revisions (Pravega's `RevisionedStreamClient.writeConditionally`).
  * It owns how a version chain is discovered, read, retired and audited
  * on a store with list lag and torn writes; it works on version numbers
  * and raw bytes, and each store decodes its own records.
  *
  * Invariants everything below relies on:
  *   - a version is committed by exclusively creating its record ([[create]]);
  *     every committer builds on the newest version it read, so the chain
  *     is dense and monotone;
  *   - GC retires a PREFIX `[1, floor)`: the floor is committed to the
  *     [[FloorChain]] first, then records are deleted ascending, so a
  *     crashed or overtaken sweep always leaves a deleted prefix. Version
  *     0, where a chain has one, is never retired;
  *   - exact-key reads are read-after-write consistent while listings may
  *     lag (the object-store contract).
  *
  * `probeCap` bounds the LIST-free tip walk (see [[readTip]]).
  */
final class ManifestChain(fsf: () => FileSystem, dir: Path, prefix: String, suffix: String,
                          first: Long, probeCap: Int) {
  import ManifestChain._

  private val floors = new FloorChain(fsf, dir)
  private val Name = (Pattern.quote(prefix) + "(\\d+)" + Pattern.quote(suffix)).r

  /** Newest version this instance has seen — the probe-forward hint that
    * keeps warm reads and commits LIST-free (ManifestBench's versions leg
    * measured the directory listing dominating every warm read and commit
    * past ~10^3 versions: 160 ms per commit at 10^4). Only a hint: a
    * stale, retired or recreated value falls back to the listing, never
    * to a wrong answer. -1 = none yet.
    */
  @volatile private var hint: Long = -1L

  def path(v: Long): Path = new Path(dir, f"$prefix$v%012d$suffix")

  def exists(v: Long): Boolean = fsf().exists(path(v))

  def bytes(v: Long): Array[Byte] = {
    val in = fsf().open(path(v))
    try in.readAllBytes() finally in.close()
  }

  /** The CAS: exclusively create version `v` holding `data`. False = the
    * version was already taken (on HDFS an exclusive create, on object
    * stores a conditional put, on `file:` an O_EXCL create — see
    * [[CasFiles]]). One retry on a vanished parent: a concurrent cleanup
    * of a residue directory can race the gap between mkdirs and the
    * create; arbitration is still the exclusive create itself.
    */
  def create(v: Long, data: Array[Byte]): Boolean = {
    val fs = fsf()
    fs.mkdirs(dir)
    var out: OutputStream = null
    try {
      out = try CasFiles.createExclusive(fs, path(v))
      catch {
        case _: java.nio.file.NoSuchFileException | _: FileNotFoundException =>
          fs.mkdirs(dir)
          CasFiles.createExclusive(fs, path(v))
      }
      out.write(data)
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException => return false
    } finally if (out != null) out.close()
    hint = v
    true
  }

  /** Every committed version, ascending: the directory listing corrected
    * for list-after-write lag. The chain is dense from `first`, so every
    * committed-but-unlisted version is recoverable by exists() probes:
    * (a) probe PAST the listed max until the first miss, and (b) probe
    * every HOLE from `first` to the listed max, because eventually
    * consistent listings surface objects in no particular order. Versions
    * in [1, floor) are GC-retired, not lagged — skipped without probes.
    * Cost on a dense consistent listing: one exists() miss plus one floor
    * read. Fsck's density check reads this same listing, so a lag hole or
    * a GC hole never reads as corruption.
    *
    * GC + list-lag double-blind (GcRaceSpec caught it live): after GC
    * retires [1, floor), the probe past a stale listing's max dies at the
    * first retired version, and if the lag also hides every retained
    * record the chain would silently read as its empty beginning. The
    * floor is the recovery base — its version is retained by the GC
    * contract (base verified, then floor, then deletes; floors only move
    * up) — so probing forward FROM the floor rediscovers the chain. A
    * probe-confirmed version is not proof by itself: a concurrent GC can
    * overtake the walk (walk confirms v, GC retires v..floor-1, the probe
    * of v+1 misses), so the floor is read unconditionally and re-read if
    * it moved mid-probe (each retry strictly raises it, so this ends). A
    * floor naming a retained chain of which nothing reads raises
    * [[RetentionFloorLostException]] rather than answer from nothing.
    */
  def list(): Seq[Long] = {
    val fs = fsf()
    val listed =
      try fs.listStatus(dir).iterator.map(_.getPath.getName)
        .collect { case Name(d) => d.toLong }.toVector
      catch { case _: FileNotFoundException => Vector.empty }
    var floorKnown = -1L
    def floorOnce(): Long = {
      if (floorKnown < 0L) floorKnown = floors.read().floor
      floorKnown
    }
    def probeFrom(start: Long): Seq[Long] = {
      val b = Seq.newBuilder[Long]
      var v = start
      while (fs.exists(path(v))) { b += v; v += 1 }
      b.result()
    }
    val holes =
      if (listed.isEmpty) Seq.empty[Long]
      else {
        val listedSet = listed.toSet
        val h = (first to listed.max).filterNot(listedSet)
        if (h.isEmpty) h
        else h.filter(v => v == 0L || v >= floorOnce()).filter(v => fs.exists(path(v)))
      }
    val found = listed ++ holes ++ probeFrom(if (listed.isEmpty) first else listed.max + 1)
    val maxFound = found.foldLeft(0L)(math.max)
    var fromFloor = Seq.empty[Long]
    var fl = floorOnce()
    var prevFl = -1L
    while (fromFloor.isEmpty && fl > maxFound && fl != prevFl) {
      fromFloor = probeFrom(fl)
      prevFl = fl
      if (fromFloor.isEmpty) fl = floors.read().floor
    }
    if (fromFloor.isEmpty && fl > maxFound)
      throw new RetentionFloorLostException(
        s"$dir: retention floor $fl names a retained chain but no version at or above " +
          s"it is readable (max found $maxFound) — concurrent delete or storage corruption")
    (found ++ fromFloor).sorted
  }

  /** The newest version that reads, decoded by `read`; None on an empty
    * chain.
    *
    * Warm path, no LIST: probe exact keys forward from the hint. The walk
    * is CAPPED at `probeCap` probes — each is one round trip, so an
    * instance far behind (idle a day against a busy chain) pays one LIST
    * page instead of a serial GET per missed version. A walk that stalled
    * at a concurrent GC's delete hole lands below the floor (written
    * before any delete), which `floorFast` detects — one exists() miss
    * when the floor has not advanced; the listing then resolves it.
    *
    * Torn tip, on both paths: the newest record is retried briefly, then
    * the read falls back exactly ONE version (on the warm path never below
    * the hint, which read once already). Falling back further would turn
    * a broken chain into a silently stale answer, so a
    * [[ManifestChainBrokenException]] from `read` propagates from the
    * listing path; on the warm path it falls through to the listing, since
    * a probe racing GC deletes can hit a same-instant hole that a fresh
    * listing resolves.
    */
  def readTip[A](read: Long => A): Option[(Long, A)] = {
    val h = hint
    if (h >= first && exists(h)) {
      val cap = h + probeCap
      var max = h
      while (max < cap && exists(max + 1)) max += 1
      if (max < cap && max >= floors.floorFast()) {
        val got =
          try readNewest(max, math.max(h, max - 1), read)
          catch { case _: ManifestChainBrokenException => None }
        if (got.isDefined) return got
      }
    }
    val versions = list()
    if (versions.isEmpty) return None
    val newest = versions.last
    // a version-0 identity record below `first` is a chain's whole state
    // until its first commit lands
    readNewest(newest, math.min(newest, math.max(first, newest - 1)), read).orElse(
      throw new GraftException(s"$dir: no readable version at or below $newest"))
  }

  private def readNewest[A](newest: Long, lowest: Long, read: Long => A): Option[(Long, A)] = {
    var v = newest
    while (v >= lowest) {
      var attempt = if (v == newest) TornRetries else 1
      while (attempt > 0) {
        try {
          val a = read(v)
          hint = v
          return Some((v, a))
        } catch {
          case e: ManifestChainBrokenException => throw e
          case NonFatal(_) => Thread.sleep(TornSleepMs)
        }
        attempt -= 1
      }
      v -= 1
    }
    None
  }

  /** Exactly version `v`, decoded by `read` — never another version (the
    * caller asked for this one). None when `v` does not exist or was
    * retired mid-read by a concurrent GC; a record that exists but stays
    * unreadable after the torn-tip retry fails naming `v`.
    */
  def readAt[A](v: Long)(read: Long => A): Option[A] = {
    if (!exists(v)) return None
    var last: Throwable = null
    var attempt = 0
    while (attempt < TornRetries) {
      try {
        val a = read(v)
        if (v > hint) hint = v
        return Some(a)
      } catch {
        case e: ManifestChainBrokenException => throw e
        case _: FileNotFoundException if !exists(v) => return None
        case NonFatal(e) => last = e; Thread.sleep(TornSleepMs)
      }
      attempt += 1
    }
    throw new GraftException(s"version $v of $dir exists but stayed unreadable: $last", last)
  }

  /** The newest version committed at or before `epochMillis`, for
    * `TIMESTAMP AS OF`: max{v : stamp(v) <= t}, where `stampOf` decodes
    * the commit time written inside a record at CAS time (0 = a record
    * from before stamps, which falls back to the file's mtime). `tip`
    * resolves the store's current tip (None = the store does not exist).
    *
    * Stamps are MONOTONE by construction — every commit clamps its stamp
    * to at least the previous version's — so resolution is a binary
    * search over the retained range ({0} when the chain has a version 0,
    * plus [max(1, floor), tip]): O(log n) record GETs and no listing. A
    * short backward walk absorbs inversions in chains written before the
    * clamp. A torn record (the tip mid-write) reads as stamp +∞, i.e. not
    * committed yet; a record retired mid-search (concurrent GC) falls back
    * to one linear pass over the listing.
    *
    * An instant inside retired history fails with
    * [[TruncatedDataException]] instead of resolving to the state below
    * the gap. Without a retained version 0, an instant before the first
    * retained version cannot be told apart from retired history, so it
    * fails too once anything was retired.
    */
  def versionAtTime(epochMillis: Long, tip: () => Option[Long])(stampOf: Array[Byte] => Long): Option[Long] = {
    var tipV = tip() match { case Some(v) => v; case None => return None }
    val floor0 = floor()
    // the tip is read BEFORE the floor, so a gc racing fast commits can
    // raise the floor past it: one re-read restores order; persisting
    // disorder (delete/recreate mid-call) resolves over the listing
    if (floor0 > tipV) tipV = tip() match { case Some(v) => v; case None => return None }
    def stamp(v: Long): Long = {
      var attempt = 0
      while (attempt < 3) {
        try {
          val s = stampOf(bytes(v))
          return if (s != 0L) s else fsf().getFileStatus(path(v)).getModificationTime
        } catch {
          case e: FileNotFoundException => throw e
          case NonFatal(_) => Thread.sleep(5)
        }
        attempt += 1
      }
      Long.MaxValue
    }
    def gated(best: Option[Long]): Option[Long] = {
      val fl = floor()
      if (fl > 0L && best.fold(first > 0L)(_ < fl))
        throw new TruncatedDataException(
          s"$dir: history at ${java.time.Instant.ofEpochMilli(epochMillis)} was " +
            s"garbage-collected (manifest retention floor is version $fl)")
      best
    }
    def linear(): Option[Long] = {
      var best: Option[Long] = None
      for (v <- list())
        try if (stamp(v) <= epochMillis) best = Some(v)
        catch { case _: FileNotFoundException => } // retired meanwhile: skip
      gated(best)
    }
    if (floor0 > tipV) return linear()
    // bisect over Long INDICES into {0} ++ [lo, tip]: nothing is
    // materialized, so a year-deep un-GC'd chain costs O(1) memory
    val lo = math.max(1L, floor0)
    val zero = if (first == 0L) 1L else 0L
    def verAt(i: Long): Long = if (i < zero) 0L else lo + (i - zero)
    val n = zero + math.max(0L, tipV - lo + 1)
    try {
      var l = 0L
      var h = n
      while (l < h) {
        val mid = (l + h) >>> 1
        if (stamp(verAt(mid)) > epochMillis) h = mid else l = mid + 1
      }
      var i = l - 1
      while (i >= 0L && stamp(verAt(i)) > epochMillis) i -= 1
      gated(if (i < 0L) None else Some(verAt(i)))
    } catch { case _: FileNotFoundException => linear() }
  }

  /** Retire [1, floor). Under the per-chain lock, `plan` sees the
    * committed versions and names the new floor and the incarnation to
    * stamp on it (None = nothing to retire; the store prepares the
    * floor's base here, before anything is deleted). The floor then
    * commits through the [[FloorChain]] CAS — losing it means a
    * concurrent gc advanced the floor at least as far, and that winner
    * owns the deletes — and only then are retired records deleted,
    * ASCENDING, with `alsoDelete` dropping each one's store-side files.
    * Returns the retired versions.
    */
  def gc(alsoDelete: Long => Unit = _ => ())(plan: Seq[Long] => Option[(Long, String)]): Seq[Long] =
    gcLocks.computeIfAbsent(dir.toString, _ => new Object).synchronized {
      val versions = list()
      val retired = plan(versions) match {
        case Some((fl, incarnation)) =>
          if (floors.advance(fl, incarnation)) versions.filter(v => v >= 1L && v < fl) else Nil
        case None => Nil
      }
      val fs = fsf()
      retired.foreach { v =>
        try fs.delete(path(v), false) catch { case NonFatal(_) => () } // a re-run finishes
        alsoDelete(v)
      }
      retired
    }

  /** The GC floor: versions in [1, floor) are retired; 0 = never GC'd. */
  def floor(): Long = floors.read().floor

  /** [[floor]], at worst stale-low (see [[FloorChain.floorFast]]). */
  def floorFast(): Long = floors.floorFast()

  /** (floor-chain seq, floor record) — the `describe_retention` surface. */
  def floorWithSeq(): (Long, ManifestFloor) = floors.readWithSeq()

  def floorAnchorPresent(): Boolean = floors.anchorPresent()

  /** Drop the in-memory hints (the chain directory was deleted). */
  def invalidate(): Unit = { hint = -1L; floors.invalidate() }

  /** The chain's integrity audit (fsck; no data read). `reads(v)` tells
    * whether version v's base reads (one attempt; the audit retries);
    * `liveIncarnation` is the identity the store's live chain carries
    * ("" = exempt). Kinds:
    *   - `manifest-chain`: a version missing between `first` and the
    *     newest (GC-retired [1, floor) excepted);
    *   - `gc-floor-regressed`: the holes are exactly [floor, X) for a
    *     retained X that reads, with the chain above X intact — a stale
    *     marker over a healthy store, reachable only through legacy
    *     rename-replaced markers or hand surgery, self-healing because
    *     floors only move up: one advisory line, not N corruption pages;
    *   - `gc-floor-base`: the floor's base does not read (lost after gc),
    *     or the floor names a retained chain of which nothing reads;
    *   - `manifest-torn`: the newest version does not read after the
    *     torn-tip retry while the one below it does — readers serve the
    *     older version and every commit loses its CAS to the torn record;
    *   - `gc-floor-anchor-lost`: see [[FloorChain.anchorLost]];
    *   - `gc-floor-stale-incarnation`: the floor was stamped by another
    *     incarnation than the live chain — it survived a delete+recreate
    *     and constrains a dead chain's version space.
    */
  def audit(reads: Long => Boolean, liveIncarnation: () => String): Seq[ChainIssue] = {
    def readsSoon(v: Long): Boolean =
      (1 to TornRetries).exists { _ => reads(v) || { Thread.sleep(TornSleepMs); false } }
    val issues = Seq.newBuilder[ChainIssue]
    val listed =
      try list()
      catch {
        case e: RetentionFloorLostException =>
          issues += ChainIssue("gc-floor-base", e.getMessage)
          Seq.empty[Long]
      }
    val fr = floors.read()
    val fl = fr.floor
    val listedSet = listed.toSet
    val holes =
      if (listed.isEmpty) Seq.empty[Long]
      else (first to listed.last).filterNot(listedSet).filter(v => v == 0L || v >= fl)
    val regressedBase: Option[Long] =
      if (fl <= 0L || holes.isEmpty || holes.head == 0L) None
      else {
        val x = holes.last + 1
        if (holes.head == fl && holes.sameElements(fl until x) && x <= listed.last && readsSoon(x))
          Some(x)
        else None
      }
    regressedBase match {
      case Some(x) =>
        issues += ChainIssue("gc-floor-regressed",
          s"floor marker at v$fl but versions $fl..${x - 1} are already retired; " +
            s"retained chain from v$x is intact — benign stale marker, self-heals on the next gc pass")
      case None =>
        holes.foreach(v => issues += ChainIssue("manifest-chain", s"missing manifest version $v"))
        if (fl > 0L && listed.nonEmpty && !readsSoon(fl))
          issues += ChainIssue("gc-floor-base", s"floor v$fl does not read (its base was lost after gc)")
    }
    if (listed.nonEmpty) {
      val newest = listed.last
      if (!readsSoon(newest) && listedSet(newest - 1) && reads(newest - 1))
        issues += ChainIssue("manifest-torn",
          s"newest version $newest does not read: readers serve v${newest - 1} and every " +
            s"commit loses its CAS to v$newest")
    }
    if (floors.anchorLost())
      issues += ChainIssue("gc-floor-anchor-lost",
        "floor chain records exist but the permanent floor-1 anchor misses its exact-key " +
          "read — hand surgery or storage corruption; a fully list-lag-blinded cold reader " +
          "would otherwise conclude the chain was never GC'd")
    if (fl > 0L && fr.incarnation.nonEmpty) {
      val live = try liveIncarnation() catch { case NonFatal(_) => "" }
      if (live.nonEmpty && live != fr.incarnation)
        issues += ChainIssue("gc-floor-stale-incarnation",
          s"floor chain stamped by incarnation ${fr.incarnation} but the live chain is $live — " +
            "floor survived a delete+recreate; delete the floor-*.json records " +
            "(the next gc re-establishes the floor)")
    }
    issues.result()
  }
}
