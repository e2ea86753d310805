package graft.core

/** Core stream model (SURVEY §1.1). A stream is an elastic, append-only,
  * per-routing-key-ordered sequence of events, physically split into
  * key-range-owning segments that change across epochs (scale events).
  *
  * Offsets here are row sequence numbers per segment — the Spark-native
  * analog of the reference's per-segment byte offsets
  * (client/.../stream/impl/EventPointerImpl.java:42): parquet+Spark address
  * rows, not bytes, and every offset-based API (StreamCut, EventPointer,
  * truncation) carries over unchanged.
  */
object SegmentId {
  /** Pack epoch + segment number, as NameUtils.computeSegmentId
    * (shared/protocol/.../NameUtils.java:572): epoch in the upper 32 bits.
    */
  def pack(epoch: Int, number: Int): Long =
    (epoch.toLong << 32) | (number & 0xffffffffL)
  def epoch(id: Long): Int = (id >>> 32).toInt
  def number(id: Long): Int = id.toInt
}

/** Key-range [low, high) ⊂ [0,1) owned by a segment
  * (client/.../stream/impl/SegmentWithRange.java).
  */
final case class KeyRange(low: Double, high: Double) {
  require(low >= 0 && high <= 1 && low < high, s"bad range [$low,$high)")
  def contains(d: Double): Boolean = d >= low && d < high
  def overlaps(o: KeyRange): Boolean = low < o.high && o.low < high
}

/** One segment of a stream: key range, live offset span, lineage.
  * `startOffset` rises with truncation (head cut); `tailOffset` is the next
  * offset to be assigned. `parents` are the previous-epoch segments whose
  * key ranges this segment took over (controller/.../records/HistoryTimeSeries.java).
  */
final case class SegmentRecord(
    segmentId: Long,
    keyLow: Double,
    keyHigh: Double,
    startOffset: Long,
    tailOffset: Long,
    isSealed: Boolean,
    parents: Seq[Long],
    createdAt: Long,
    /** Per-segment attribute map (segmentstore/contracts/.../Attributes
      * .java:61-137): e.g. EVENT_COUNT, maintained by update-type
      * semantics below.
      */
    attributes: Map[String, Long] = Map.empty) {
  def range: KeyRange = KeyRange(keyLow, keyHigh)
}

/** Attribute update with the reference's conditional types
  * (AttributeUpdateType.java:27-60): None/Replace set, ReplaceIfGreater
  * only moves forward, Accumulate adds, ReplaceIfEquals is a CAS against
  * `comparisonValue`.
  */
final case class AttributeUpdate(
    key: String,
    updateType: String, // NONE | REPLACE | REPLACE_IF_GREATER | ACCUMULATE | REPLACE_IF_EQUALS
    value: Long,
    comparisonValue: Long = 0L) {

  def apply(current: Option[Long]): Long = updateType match {
    case "NONE" | "REPLACE" => value
    case "ACCUMULATE" => current.getOrElse(0L) + value
    case "REPLACE_IF_GREATER" =>
      if (current.forall(value > _)) value
      else throw new ConditionalCheckFailedException(
        s"attribute $key: $value not greater than ${current.get}")
    case "REPLACE_IF_EQUALS" =>
      if (current.getOrElse(Attributes.NullValue) == comparisonValue) value
      else throw new ConditionalCheckFailedException(
        s"attribute $key: expected $comparisonValue, was ${current.getOrElse(Attributes.NullValue)}")
    case other => throw new GraftException(s"unknown attribute update type $other")
  }
}

object Attributes {
  /** Missing-attribute sentinel (Attributes.NULL_ATTRIBUTE_VALUE). */
  val NullValue: Long = Long.MinValue
  /** Per-segment running event count (Attributes.java:66). */
  val EventCount = "EVENT_COUNT"
}

final case class EpochRecord(epoch: Int, segmentIds: Seq[Long], createdAt: Long)

/** A data file removed from the manifest but not yet physically deleted:
  * readers that planned a scan from an older manifest version may still
  * be reading it, so deletion waits out a grace period (the tombstone /
  * vacuum pattern). `notBefore` is wall-clock millis.
  */
final case class PendingDelete(path: String, notBefore: Long)

/** Stream configuration (client/.../stream/StreamConfiguration.java:35 +
  * ScalingPolicy.java:68-111). Auto-scale thresholds follow
  * AutoScaleProcessor.java:286-302 semantics when the scaling job runs.
  */
final case class StreamConfig(
    initialSegments: Int = 1,
    targetRatePerSegment: Long = 0L, // 0 = fixed (no auto-scale)
    scaleFactor: Int = 2,
    minSegments: Int = 1,
    retentionMillis: Long = 0L, // 0 = infinite
    retentionMaxRows: Long = 0L,
    /** Manifest-LOG retention policy: keep at most this many versions of
      * chain history behind the tip; older records are retired by the
      * maintenance pass (`StreamCatalog.gcManifests`) on the same cadence
      * as DATA retention — the reference runs both as periodic controller
      * bucket jobs (controller/.../server/bucket/PeriodicRetention.java:51).
      * 0 = no policy (manual `CALL g.system.gc_manifests` only). Without
      * a cadence the chain grows one object per commit forever (a
      * 1-commit/sec stream is 3×10^7 `_meta` objects/year — the listing
      * itself becomes the bottleneck, measured by tools.VersionsBench).
      */
    manifestKeepVersions: Int = 0)

/** A consistent position across the whole key space:
  * segmentId → row offset (client/.../stream/StreamCut.java). A cut is
  * valid iff its segments' key ranges tile [0,1).
  */
final case class StreamCut(positions: Map[Long, Long]) {
  def offsetOf(segmentId: Long): Option[Long] = positions.get(segmentId)
}

object StreamCut {
  val Unbounded: StreamCut = StreamCut(Map.empty)
}

/** Direct address of one event (client/.../stream/impl/EventPointerImpl.java:39). */
final case class EventPointer(segmentId: Long, offset: Long)

/** One committed data file of a segment; rows inside carry explicit
  * (segmentId, offset) columns so scans prune on parquet stats.
  * `txnId` marks files written under an open transaction (invisible until
  * the txn commits and they are merged in).
  */
final case class FileEntry(
    segmentId: Long,
    path: String,
    startOffset: Long,
    rowCount: Long,
    minEventTime: Long,
    maxEventTime: Long,
    /** Max `chunkCount` among rows in this file: 1 = only whole events;
      * > 1 = contains chunks of large (> MAX_EVENT_SIZE) events, so reads
      * covering it must reassemble (LargeEventWriter analog). Defaults to
      * 1 for manifests written before large-event support.
      */
    maxChunkCount: Int = 1,
    /** On-disk file length, recorded at commit so planning statistics are
      * manifest-only — never a per-file getFileStatus RPC. 0 = manifest
      * written before sizes were recorded.
      */
    byteSize: Long = 0L) {
  def endOffset: Long = startOffset + rowCount
}

object TxnState {
  val Open = "OPEN"
  val Committing = "COMMITTING"
  val Committed = "COMMITTED"
  val Aborting = "ABORTING"
  val Aborted = "ABORTED"
}

/** Transaction metadata (client/.../stream/Transaction.java:29-36): staged
  * under `txn-<id>/`, merged into parent segments atomically at commit
  * (CommitRequestHandler.java:247), lease-expired txns swept to ABORTED.
  */
final case class TxnRecord(
    id: String,
    state: String,
    createdAt: Long,
    leaseMillis: Long,
    committedAt: Option[Long] = None,
    /** Legacy: txn-local rows per segment (superseded by `calls`). */
    tails: Map[Long, Long] = Map.empty,
    /** Number of writeToTxn calls so far. Call `callSeq` stages rows
      * with txn-local offsets (callSeq << 40) + rank and records its files
      * in `txn-<id>/call-<callSeq>.json`; the commit merge reads exactly
      * those files and re-ranks by (segmentId, txn-local offset).
      */
    calls: Long = 0L) {
  def expired(now: Long): Boolean =
    state == TxnState.Open && now > createdAt + leaseMillis
}

/** Per-writer event-time mark (controller/.../records/WriterMark.java),
  * input to watermark computation (PeriodicWatermarking.java:254).
  */
final case class WriterMark(writerId: String, time: Long, notedAt: Long)

/** One emitted watermark: time bounds + the stream position they were
  * computed at (the reference's Watermark record written to the `_MARK`
  * stream, shared/watermarks/.../Watermark.java). A bounded history of
  * these is what lets a mid-replay reader interpolate ITS OWN TimeWindow
  * from its position instead of seeing the live bounds
  * (WatermarkReaderImpl.java:139-152).
  */
final case class WatermarkRecord(lowerTime: Long, upperTime: Long,
                                 positions: Map[Long, Long], emittedAt: Long)

/** Per-segment EWMA append rates at the reference's four horizons
  * (segmentstore/server/host/.../stat/SegmentStatsRecorderImpl.java:63,246):
  * rows/sec smoothed over 2/5/10/20 minutes, driving auto-scale decisions.
  */
final case class SegmentRates(
    twoMin: Double = 0.0,
    fiveMin: Double = 0.0,
    tenMin: Double = 0.0,
    twentyMin: Double = 0.0,
    createdAt: Long = 0L,
    lastUpdated: Long = 0L) {

  /** EWMA update with elapsed-time-aware alpha (1 − e^(−dt/τ)). */
  def update(rows: Long, now: Long): SegmentRates = {
    val dt = math.max(1L, now - (if (lastUpdated == 0) now - 1000 else lastUpdated))
    val instant = rows.toDouble * 1000.0 / dt
    def ewma(prev: Double, windowMillis: Long): Double = {
      val alpha = 1.0 - math.exp(-dt.toDouble / windowMillis)
      prev + alpha * (instant - prev)
    }
    SegmentRates(
      twoMin = ewma(twoMin, 2 * 60 * 1000L),
      fiveMin = ewma(fiveMin, 5 * 60 * 1000L),
      tenMin = ewma(tenMin, 10 * 60 * 1000L),
      twentyMin = ewma(twentyMin, 20 * 60 * 1000L),
      createdAt = if (createdAt == 0) now else createdAt,
      lastUpdated = now)
  }
}

/** Full stream metadata — one JSON manifest version per catalog commit.
  * `version` is the optimistic-concurrency token: a commit writes
  * manifest-(version+1) with create-if-absent semantics, the catalog-level
  * analog of the reference's ConditionalAppend CAS (WireCommands.java:633).
  */
final case class StreamMetadata(
    scope: String,
    name: String,
    config: StreamConfig,
    version: Long,
    createdAt: Long,
    isSealed: Boolean,
    tags: Set[String],
    epochs: Seq[EpochRecord],
    segments: Seq[SegmentRecord],
    files: Seq[FileEntry],
    headCut: Map[Long, Long],
    transactions: Map[String, TxnRecord],
    writerMarks: Map[String, WriterMark],
    writerBatches: Map[String, Long],
    /** EWMA append rates per open segment (auto-scale input). */
    segmentRates: Map[Long, SegmentRates] = Map.empty,
    /** Named StreamCuts: checkpoints (initiateCheckpoint/generateStreamCuts
      * analogs) and `sub:`-prefixed subscriber positions for
      * consumption-based retention (ReaderGroupConfig.StreamDataRetention).
      */
    namedCuts: Map[String, Map[Long, Long]] = Map.empty,
    /** Wall-clock of the last scale event (cooldown gate). */
    lastScaleAt: Long = 0L,
    /** Files dropped from `files` (compaction/truncation) awaiting
      * physical deletion after their reader-grace deadline.
      */
    pendingDeletes: Seq[PendingDelete] = Nil,
    /** Bounded history of emitted watermarks (the `_MARK` stream analog),
      * newest last — input to per-reader TimeWindow interpolation.
      */
    watermarks: Seq[WatermarkRecord] = Nil,
    /** Wall-clock stamped by the committer the instant the manifest CAS
      * is written — the authority for TIMESTAMP AS OF resolution. File
      * mtimes are NOT used: coarse FS granularity or writer clock skew
      * can order them against version numbers. 0 = pre-upgrade manifest
      * (resolution falls back to the file mtime for those).
      */
    committedAt: Long = 0L,
    /** Creation identity, stamped once at createStream and carried
      * verbatim in every manifest record. Delete+recreate of the same
      * stream NAME restarts the version chain at 0, so version numbers
      * collide across incarnations — this id is what lets a catalog
      * instance detect that its cached tip belongs to a DEAD incarnation
      * (the reference distinguishes incarnations the same way: each
      * created stream gets fresh controller metadata, never a version
      * continuation). "" = pre-upgrade manifest.
      */
    incarnation: String = "") {

  def currentEpoch: EpochRecord = epochs.maxBy(_.epoch)

  def segment(id: Long): SegmentRecord =
    segments.find(_.segmentId == id)
      .getOrElse(throw new NoSuchElementException(s"no segment $id in $scope/$name"))

  def openSegments: Seq[SegmentRecord] = segments.filter(!_.isSealed)

  /** Tail cut = current end of every open segment plus sealed tails. */
  def tailCut: StreamCut =
    StreamCut(segments.map(s => s.segmentId -> s.tailOffset).toMap)

  def headStreamCut: StreamCut =
    StreamCut(segments.map(s => s.segmentId -> headCut.getOrElse(s.segmentId, s.startOffset)).toMap)
}

class GraftException(msg: String, cause: Throwable = null) extends RuntimeException(msg, cause)
class NoSuchStreamException(msg: String) extends GraftException(msg)
/** A manifest BELOW the requested version is missing from the log —
  * replay cannot reach a checkpoint. Manifests are never individually
  * deleted in production (only whole-stream deletes), so this is
  * storage corruption: surfaced loudly instead of letting readers fall
  * back to a deep-stale committed state. `tools.Fsck` reports it as a
  * `manifest-chain` issue.
  */
class ManifestChainBrokenException(msg: String) extends GraftException(msg)
/** A GC retention floor names a retained chain, but no manifest at or
  * above it is readable — concurrent delete or storage corruption. The
  * loud alternative to silently serving the empty pre-history state;
  * fsck classifies exactly this type as `gc-floor-base`. A broken chain
  * like any other, so callers that catch one catch both.
  */
class RetentionFloorLostException(msg: String) extends ManifestChainBrokenException(msg)
class StreamSealedException(msg: String) extends GraftException(msg)
class TruncatedDataException(msg: String) extends GraftException(msg)
class ConditionalCheckFailedException(msg: String) extends GraftException(msg)
class TxnFailedException(msg: String) extends GraftException(msg)
