package graft.sources

import graft.catalog.StreamCatalog
import graft.core._
import graft.storage.GraftStreams
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, PartitionOffset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsRealTimeMode, SupportsRealTimeRead, SupportsTriggerAvailableNow}
import org.apache.spark.sql.graftshim.ParquetShim
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.json4s.{JInt, JObject}
import org.json4s.jackson.JsonMethods

/** Structured Streaming over graft streams as a DataSource V2
  * `TableProvider` + `MicroBatchStream` (SURVEY §2.8/§3.2, §7 step 4):
  * one streaming query plays the role of a reader group — Spark's offset
  * log replaces reader-group checkpoints, task scheduling replaces
  * segment rebalancing (ReaderGroupStateManager), restart-from-checkpoint
  * is resetReaderGroup. Offsets ARE StreamCuts (JSON), so positions
  * interoperate with the batch API.
  *
  * Reader-group shape (ReaderGroupConfig.java:49-108): ONE source
  * subscribes to N streams — `streams` = comma list of `name` or
  * `scope/name` — each with its own optional start/end cut
  * (`fromStreamCut.<name>` / `toStreamCut.<name>`), checkpointing one
  * composite offset; rows carry a `stream` identity column in
  * multi-stream mode. The single-stream surface (`stream`,
  * `fromStreamCut`) and its flat offset JSON are unchanged from the V1
  * source, so existing checkpoints resume.
  *
  * Each micro-batch plans manifest files overlapping (lastCut, nextCut]
  * directly into FilePartitions read by Spark's own vectorized parquet
  * reader factory; when every planned file lies fully inside the cut
  * bounds (the steady state — cuts come from file-aligned manifests or
  * pacing over whole backlogs) batches stay COLUMNAR end to end, and
  * only cut-straddling boundary files fall back to row-filtered reads.
  * `maxRowsPerTrigger` paces triggers like the reference's
  * getNextStreamCut read throttling (BatchClientFactory.java:123), split
  * evenly across subscribed streams, then segments.
  *
  * Bounded batch reads plan through the same planner
  * (GraftReadPlanner): `spark.read.format("graft-stream")` and the Scala
  * API's `GraftStreams.readEvents` / `fetchEvent` / `segmentsAtTime`,
  * which are this scan with cut options.
  *
  * Large (> MaxEventSize) events arrive WHOLE on every surface: pacing
  * cuts snap around chunk-group files, and batches containing chunks
  * route through the one reassembler, GraftReaderFactory's
  * ReassemblingReader. An event belongs to the range holding its head
  * chunk.
  */
final case class StreamSub(scope: String, stream: String,
                           from: Option[StreamCut], to: Option[StreamCut],
                           asOf: Option[Long] = None) {
  def key: String = s"$scope/$stream"
}

final case class GraftSourceConfig(rootDir: String, subs: Seq[StreamSub],
                                   maxRowsPerTrigger: Option[Long],
                                   asOfVersion: Option[Long] = None,
                                   maxBytesPerTrigger: Option[Long] = None) {
  require(subs.nonEmpty, "graft-stream source requires 'stream' or 'streams'")
  require(subs.map(_.key).distinct.size == subs.size,
    s"duplicate stream subscription: ${subs.map(_.key).mkString(", ")}")
  require(asOfVersion.isEmpty || subs.size == 1,
    "asOfVersion (time travel) targets exactly one stream — manifest versions are per-stream")
  def multi: Boolean = subs.size > 1

  /** True when ANY subscription is pinned to a historical manifest. */
  def timeTravel: Boolean = asOfVersion.nonEmpty || subs.exists(_.asOf.nonEmpty)

  def schema: StructType =
    if (multi) StructType(GraftStreams.eventSchema.fields :+
      StructField("stream", StringType, nullable = false))
    else GraftStreams.eventSchema
  def describe: String = subs.map(_.key).mkString(",")
}

object GraftSourceConfig {
  def from(o: CaseInsensitiveStringMap): GraftSourceConfig = {
    def req(k: String) = Option(o.get(k)).getOrElse(
      throw new IllegalArgumentException(s"graft-stream source requires option '$k'"))
    def cut(k: String): Option[StreamCut] =
      Option(o.get(k)).filter(s => s.nonEmpty && s != "head" && s != "unbounded")
        .map(StreamCut.fromJson)
    val rootDir = req("rootDir")
    val subs = Option(o.get("streams")) match {
      case Some(list) =>
        list.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { name =>
          val (scope, stream) = name.split('/') match {
            case Array(sc, st) => (sc, st)
            case Array(st) => (req("scope"), st)
            case _ => throw new IllegalArgumentException(
              s"stream name '$name' must be 'stream' or 'scope/stream'")
          }
          StreamSub(scope, stream, cut(s"fromStreamCut.$name"), cut(s"toStreamCut.$name"),
            Option(o.get(s"asOfVersion.$name")).map(_.toLong))
        }
      case None =>
        Seq(StreamSub(req("scope"), req("stream"),
          cut("fromStreamCut"), cut("toStreamCut")))
    }
    val asOf0 = Option(o.get("asOfVersion")).map(_.toLong)
    val fromV = Option(o.get("fromVersion")).map(_.toLong)
    val toV = Option(o.get("toVersion")).map(_.toLong)
    // Version-diff read ("what changed between commit v1 and v2"): the
    // two manifest tails become the (from, to] cut pair — the engine's
    // existing cut-bounded read does the rest — and planning metadata is
    // pinned at toVersion so truncation/compaction committed later can
    // never shift the window.
    val (finalSubs, asOf) =
      if (fromV.isEmpty && toV.isEmpty) (subs, asOf0)
      else {
        require(subs.size == 1,
          "fromVersion/toVersion (version-diff read) targets exactly one stream")
        val sub = subs.head
        require(sub.from.isEmpty && sub.to.isEmpty,
          "fromVersion/toVersion cannot be combined with explicit StreamCut options")
        require(asOf0.forall(v => toV.contains(v)),
          s"asOfVersion $asOf0 conflicts with toVersion $toV")
        require(fromV.isEmpty || toV.isEmpty || fromV.get <= toV.get,
          s"fromVersion ${fromV.get} must be <= toVersion ${toV.get}")
        // session-derived Hadoop conf, like every other catalog path —
        // a default Configuration would drop credentials/settings that
        // live only in the session conf (e.g. s3a keys)
        val cat = StreamCatalog.shared(rootDir,
          SparkSession.active.sessionState.newHadoopConf())
        val f = fromV.map(v => cat.getStreamAt(sub.scope, sub.stream, v).tailCut)
        val t = toV.map(v => cat.getStreamAt(sub.scope, sub.stream, v).tailCut)
        (Seq(sub.copy(from = f, to = t)), toV.orElse(asOf0))
      }
    GraftSourceConfig(rootDir, finalSubs, Option(o.get("maxRowsPerTrigger")).map(_.toLong),
      asOf, Option(o.get("maxBytesPerTrigger")).map(_.toLong))
  }
}

/** Composite offset: one StreamCut per subscribed stream. Single-stream
  * queries serialize the bare cut (`{"segmentId": offset}`) — byte-
  * compatible with the V1 source's offsets, so pre-migration checkpoints
  * resume; multi-stream queries nest (`{"scope/stream": {...}}`). JSON is
  * key-sorted so equal offsets compare equal as strings.
  */
final case class GraftStreamOffset(cuts: Map[String, StreamCut], flat: Boolean)
    extends Offset {
  override val json: String =
    if (flat) cuts.head._2.json
    else cuts.toSeq.sortBy(_._1)
      .map { case (k, c) => s""""$k":${c.json}""" }.mkString("{", ",", "}")
}

object GraftStreamOffset {
  /** Flat (single-cut) vs nested (per-stream) by value shape; `keys` maps
    * a flat offset onto the query's one subscription.
    */
  def parse(json: String, singleKey: String): Map[String, StreamCut] =
    JsonMethods.parse(json) match {
      case JObject(fields) if fields.nonEmpty && fields.forall(_._2.isInstanceOf[JObject]) =>
        fields.map { case (k, v) =>
          k -> StreamCut(v.asInstanceOf[JObject].obj.map {
            case (sid, JInt(off)) => sid.toLong -> off.toLong
            case (sid, other) => throw new IllegalArgumentException(
              s"bad offset for segment $sid: $other")
          }.toMap)
        }.toMap
      case _ => Map(singleKey -> StreamCut.fromJson(json))
    }

  /** Segment count across a flat OR nested (multi-stream) offset JSON. */
  def countSegments(json: String): Int =
    parse(json, "_").values.map(_.positions.size).sum
}

/** `format("graft-stream")` — DSv2 provider. Options: rootDir, scope,
  * stream | streams, fromStreamCut[.<name>] (JSON | "head"),
  * toStreamCut[.<name>] (JSON | "unbounded"), maxRowsPerTrigger,
  * maxBytesPerTrigger (manifest-stat byte pacing; min wins when both
  * are set), asOfVersion / fromVersion / toVersion (time travel).
  */
class GraftStreamSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-stream"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftSourceConfig.from(options).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new GraftStreamTable(properties)
}

class GraftStreamTable(baseProps: java.util.Map[String, String]) extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable {
  private val conf = GraftSourceConfig.from(new CaseInsensitiveStringMap(baseProps))
  override def name(): String = s"graft-stream:${conf.describe}"
  override def schema(): StructType = conf.schema
  // V1_BATCH_WRITE: appends ride the V1 fallback (AppendDataExecV1 — the
  // physical strategy dispatches on the Write being a V1Write) so the
  // whole DataFrame reaches the engine write path unmaterialized.
  // BATCH_WRITE is declared TOO because DataFrameWriter.save() gates the
  // relation path on that capability literally before planning ever sees
  // the V1Write. ACCEPT_ANY_SCHEMA because the write shape (routingKey,
  // eventTime, payload) is narrower than the read schema —
  // GraftWriteMapping validates it at plan time.
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // per-write options (autoNoteTime) overlay table identity, mirroring
    // newScanBuilder's read-option overlay
    new GraftWriteBuilder(GraftSourceConfig.from(overlay(info.options())(_ => true)), info)
  }

  /** The table's properties with the `keep` keys of `options` on top. A
    * per-call key replaces the table's key of any case: Spark passes
    * per-call keys lower-cased, and two case variants of one key would
    * leave the winner to hash order.
    */
  private def overlay(options: CaseInsensitiveStringMap)(keep: String => Boolean)
      : CaseInsensitiveStringMap = {
    val merged = new java.util.HashMap[String, String](baseProps)
    options.entrySet().forEach { e =>
      if (keep(e.getKey.toLowerCase(java.util.Locale.ROOT))) {
        merged.keySet().removeIf(_.equalsIgnoreCase(e.getKey))
        merged.put(e.getKey, e.getValue)
      }
    }
    new CaseInsensitiveStringMap(merged)
  }

  /** TRUNCATE TABLE: raise the head cut to the current tail — the
    * reference's truncate(StreamCut) at the tail; files tombstone with
    * reader grace, never sync-delete.
    */
  override def truncateTable(): Boolean = {
    require(conf.subs.size == 1,
      s"graft-stream truncate targets exactly one stream, got ${conf.describe}")
    require(!conf.timeTravel,
      "cannot truncate a time-travel (asOfVersion) table — historical manifests are immutable")
    val sub = conf.subs.head
    val g = new GraftStreams(SparkSession.active, conf.rootDir)
    val tail = g.catalog.getStream(sub.scope, sub.stream).tailCut
    g.catalog.truncateStream(sub.scope, sub.stream, tail)
    true
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // per-read options (cuts, pacing — never identity/schema keys)
    // overlay the table's own: catalog tables get
    // `.option("fromStreamCut", ...)` for free
    new GraftScanBuilder(GraftSourceConfig.from(overlay(options)(k =>
      k.startsWith("fromstreamcut") || k.startsWith("tostreamcut") ||
        k == "maxrowspertrigger" || k == "maxbytespertrigger" ||
        k.startsWith("asofversion") || k == "fromversion" || k == "toversion")))
  }
}

/** Scan builder with the three DSv2 pushdowns that make planning
  * manifest-bound at 100 TB (SCALING.md):
  *
  *   - filters (`SupportsPushDownFilters`): eventTime / segmentId /
  *     routingKey / stream predicates prune manifest FILES before any
  *     task exists, and reach parquet row-group stats inside surviving
  *     files. Every filter is also kept as a residual, so pruning can
  *     never change results — only skip work (see PushedPredicates).
  *   - column pruning (`SupportsPushDownRequiredColumns`): a query that
  *     never touches `payload` never reads payload bytes — on an event
  *     stream the payload IS the data volume, so metadata queries
  *     (counts, time histograms, rate audits) drop from O(stream bytes)
  *     to O(row-index bytes).
  *   - aggregate pushdown (`SupportsPushDownAggregates`):
  *     COUNT(*) / MIN(eventTime) / MAX(eventTime) with no residual
  *     filters and no grouping answer from the MANIFEST alone — zero
  *     file IO, the engine analog of the reference's per-segment
  *     EVENT_COUNT attribute (segmentstore/contracts/.../Attributes
  *     .java) and the watermark time-bound lookups. Pushed as PARTIAL
  *     aggregates (supportCompletePushDown = false): the scan emits one
  *     pre-aggregated row and Spark's final aggregate folds it, so the
  *     contract stays correct even for the empty-range row.
  *
  * COUNT is offset-arithmetic (cut distance — exact even when cuts
  * slice inside files) but bails when any counted file holds chunked
  * large events (chunk rows reassemble to fewer events than offsets
  * span). MIN/MAX additionally require no file to straddle the cut
  * bounds: a straddled file's recorded time span covers rows outside
  * the read range, so its bound is not witness-exact.
  */
final class GraftScanBuilder(conf: GraftSourceConfig) extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
  import org.apache.spark.sql.sources.Filter
  import org.apache.spark.sql.types.LongType

  private val snapshot = new ScanSnapshot(conf)
  private var pushed: PushedPredicates = PushedPredicates.empty
  private var required: StructType = conf.schema
  private var aggResult: Option[(StructType, Seq[Array[Any]])] = None
  private var limit: Option[Int] = None

  /** LIMIT pushdown (partial — Spark re-applies the exact limit): the
    * planner stops adding manifest files once their GUARANTEED event
    * counts cover the limit, so `stream.limit(10)` on a 10^5-file
    * stream plans ~one file instead of all of them. Chunked files
    * contribute zero to the guarantee (chunk rows reassemble to fewer
    * events) but still plan if reached — the scan can only ever return
    * extra rows, never too few. Spark pushes a limit here only when no
    * residual filter sits between it and the scan, so the row
    * arithmetic is exact.
    */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = PushedPredicates.from(filters)
    // every filter stays residual: pruning is planning-side only, Spark
    // re-evaluates exact semantics (nulls, strictness) over scan output
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed.recognized

  override def pruneColumns(requiredSchema: StructType): Unit =
    // after an aggregate push the read schema IS the aggregate schema;
    // ignore the post-agg prune call some planners issue
    if (aggResult.isEmpty) required = requiredSchema

  override def supportCompletePushDown(agg: Aggregation): Boolean = false

  override def pushAggregation(agg: Aggregation): Boolean = {
    // residual filters make manifest arithmetic unsound; Spark only
    // attempts aggregate pushdown with none, but stay defensive
    if (pushed.recognized.nonEmpty || !pushed.isEmpty) return false
    def isRef(e: org.apache.spark.sql.connector.expressions.Expression,
              name: String): Boolean = e match {
      case nr: NamedReference => nr.fieldNames.sameElements(Array(name))
      case _ => false
    }
    // grouped shape: GROUP BY segmentId — the per-segment EVENT_COUNT
    // attribute (segmentstore Attributes.java), manifest-only. Multi-
    // stream scans decline (segment ids collide across streams).
    val bySeg = agg.groupByExpressions match {
      case Array() => false
      case Array(e) if isRef(e, "segmentId") && !conf.multi => true
      case _ => return false
    }
    val funcs = agg.aggregateExpressions
    if (funcs.isEmpty) return false
    val shapesOk = funcs.forall {
      case _: CountStar => true
      case m: Min => isRef(m.column, "eventTime")
      case m: Max => isRef(m.column, "eventTime")
      case _ => false
    }
    if (!shapesOk) return false
    val wantsTime = funcs.exists { case _: CountStar => false; case _ => true }
    manifestAggregate(wantsTime, bySeg).map { groups =>
      val aggFields: Seq[StructField] = funcs.toSeq.map {
        case _: CountStar => StructField("count(*)", LongType, nullable = false)
        case _: Min => StructField("min(eventTime)", LongType, nullable = true)
        case _: Max => StructField("max(eventTime)", LongType, nullable = true)
      }
      val fields =
        if (bySeg) StructField("segmentId", LongType, nullable = false) +: aggFields
        else aggFields
      val rows = groups.map { case (sid, count, tMin, tMax) =>
        val aggVals: Seq[Any] = funcs.toSeq.map {
          case _: CountStar => count: Any
          case _: Min => tMin.map(Long.box).orNull: Any
          case _: Max => tMax.map(Long.box).orNull: Any
        }
        ((if (bySeg) Seq(sid: Any) else Seq.empty[Any]) ++ aggVals).toArray
      }
      aggResult = Some((StructType(fields), rows))
      true
    }.getOrElse(false)
  }

  /** Per-group (segmentId | global) (rowCount, minEventTime,
    * maxEventTime) across all subscriptions' (from, to] ranges, from
    * manifests only — or None when the range is not manifest-exact
    * (chunked files in range; for min/max, any file straddling a cut
    * bound). The global shape always yields exactly one row (the
    * empty-range partial); the grouped shape yields one row per segment
    * WITH rows, like a real GROUP BY.
    */
  private def manifestAggregate(wantsTime: Boolean, bySeg: Boolean)
      : Option[Seq[(Long, Long, Option[Long], Option[Long])]] = {
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[Long, (Long, Option[Long], Option[Long])]
    // head-cut enforcement (enforceHead): loud even on the zero-IO path
    val exact = conf.subs.forall { sub =>
      val sr = snapshot.range(sub, enforceHead = true)
      sr.meta.files.distinctBy(_.path).forall { f =>
        val overlap = sr.overlap(f)
        if (overlap == 0) true
        else if (f.maxChunkCount > 1) false // chunk rows != events
        else if (wantsTime && overlap != f.rowCount) false // straddle: time span not witness-exact
        else {
          val k = if (bySeg) f.segmentId else -1L
          val (c, lo, hi) = acc.getOrElse(k, (0L, Option.empty[Long], Option.empty[Long]))
          acc(k) = (c + overlap,
            Some(lo.fold(f.minEventTime)(math.min(_, f.minEventTime))),
            Some(hi.fold(f.maxEventTime)(math.max(_, f.maxEventTime))))
          true
        }
      }
    }
    if (!exact) None
    else if (bySeg) Some(acc.toSeq.map { case (sid, (c, lo, hi)) => (sid, c, lo, hi) })
    else {
      val (c, lo, hi) = acc.getOrElse(-1L, (0L, Option.empty[Long], Option.empty[Long]))
      Some(Seq((-1L, c, lo, hi)))
    }
  }

  override def build(): Scan = aggResult match {
    case Some((schema, values)) => new GraftAggScan(conf, schema, values)
    case None => new GraftScan(conf, pushed, required, limit, snapshot)
  }
}

/** Shared per-subscription read-range arithmetic — the ONE place the
  * cut-capping rules live, used by the planner (GraftReadPlanner.plan,
  * batch and micro-batch), the statistics estimate
  * (GraftScan.cachedStats), the manifest-aggregate pushdown
  * (GraftScanBuilder.manifestAggregate) and the call-time check of
  * `GraftStreams.readEvents`, so the surfaces can never drift:
  *   - an EXPLICIT from-position below the head cut is truncated-away
  *     data — throw loudly when `enforceHead` (TruncatedDataException),
  *     never skip silently;
  *   - a segment absent from a from-cut starts at the head;
  *   - a segment absent from a BOUNDED to-cut contributes zero rows
  *     (born after the cut via scaling); only a truly unbounded read
  *     (`to = None`) tails every segment.
  */
private[graft] final class SubRange(val meta: graft.core.StreamMetadata,
    key: String, from: Option[StreamCut], to: Option[StreamCut],
    enforceHead: Boolean) {
  private val head = meta.headStreamCut.positions
  if (enforceHead) from.foreach(_.positions.foreach { case (sid, off) =>
    val h = head.getOrElse(sid, 0L)
    if (off < h) throw new TruncatedDataException(
      s"$key segment $sid position $off is below head cut $h " +
        "(truncated while this reader was at an older position)")
  })
  val lo: Long => Long = sid =>
    from.flatMap(_.offsetOf(sid)).getOrElse(head.getOrElse(sid, 0L))
  val hi: Long => Long = sid => to match {
    case Some(cut) => cut.offsetOf(sid).getOrElse(0L)
    case None => Long.MaxValue
  }
  val segById: Map[Long, graft.core.SegmentRecord] =
    meta.segments.map(s => s.segmentId -> s).toMap
  /** Rows of `f` inside the range; 0 < overlap < rowCount = straddling. */
  def overlap(f: graft.core.FileEntry): Long = math.max(0L,
    math.min(f.endOffset, hi(f.segmentId)) - math.max(f.startOffset, lo(f.segmentId)))
  def keep(f: graft.core.FileEntry, pushed: PushedPredicates): Boolean =
    pushed.keepFile(f, segById.get(f.segmentId))
}

/** The manifest state one batch scan reads: each subscription's manifest
  * is read once, on first use, and the aggregate pushdown, the
  * statistics and the planner all see that one state — a commit or
  * truncate landing between them cannot make them disagree. The state is
  * the live tip, or the pinned historical manifest of a time-travel scan
  * (`VERSION AS OF` / `asOfVersion`; multi-stream reads pin PER STREAM
  * via `asOfVersion.<scope/stream>`, since versions are per-stream).
  */
private[graft] final class ScanSnapshot(conf: GraftSourceConfig) {
  private val metas = scala.collection.mutable.Map.empty[String, graft.core.StreamMetadata]
  private def meta(sub: StreamSub): graft.core.StreamMetadata = synchronized {
    metas.getOrElseUpdate(sub.key, {
      val cat = StreamCatalog.shared(conf.rootDir, SparkSession.active.sessionState.newHadoopConf())
      sub.asOf.orElse(conf.asOfVersion) match {
        case Some(v) => cat.getStreamAt(sub.scope, sub.stream, v)
        case None => cat.getStream(sub.scope, sub.stream)
      }
    })
  }
  def range(sub: StreamSub, enforceHead: Boolean): SubRange =
    new SubRange(meta(sub), sub.key, sub.from, sub.to, enforceHead)
}

/** Pre-aggregated rows, computed driver-side from stream manifests —
  * the zero-IO fast path behind GraftScanBuilder's aggregate pushdown
  * (one row for a global aggregate; one per segment for the grouped
  * EVENT_COUNT shape).
  */
final case class GraftAggPartition(rows: Seq[Array[Any]]) extends InputPartition

final class GraftAggScan(conf: GraftSourceConfig, aggSchema: StructType,
    rows: Seq[Array[Any]]) extends Scan {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"GraftStreamSource[${conf.describe}] PushedAggregates: " +
      s"[${aggSchema.fieldNames.mkString(", ")}] (manifest-only, no file IO)"
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    new org.apache.spark.sql.connector.read.Batch {
      override def planInputPartitions(): Array[InputPartition] =
        Array(GraftAggPartition(rows))
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(p: InputPartition): PartitionReader[InternalRow] =
            new PartitionReader[InternalRow] {
              private val it = p.asInstanceOf[GraftAggPartition].rows.iterator
              private var cur: Array[Any] = _
              override def next(): Boolean =
                if (it.hasNext) { cur = it.next(); true } else false
              override def get(): InternalRow = new GenericInternalRow(cur)
              override def close(): Unit = ()
            }
        }
    }
}

class GraftScan(conf: GraftSourceConfig,
    pushed: PushedPredicates = PushedPredicates.empty,
    required: StructType = null,
    limit: Option[Int] = None,
    snap: ScanSnapshot = null) extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.internal.connector.SupportsMetadata {
  private val outSchema: StructType = Option(required).getOrElse(conf.schema)
  private val snapshot = Option(snap).getOrElse(new ScanSnapshot(conf))
  override def readSchema(): StructType = outSchema

  /** Runtime (join-driven) pruning — the DSv2 dynamic-partition-pruning
    * analog: when this scan probes a join whose build side is small,
    * Spark hands the materialized build-side key set here as IN filters
    * BEFORE partitions are planned, and the same manifest pruning as
    * static pushdown applies (PushedPredicates.and — routingKey sets
    * prune to owning segments, segment/stream/eventTime sets prune
    * files). The join above still filters rows, so pruning here only
    * skips IO — a stream-dim enrichment join reads just the segments
    * the dim's keys hash into.
    */
  @volatile private var runtime: PushedPredicates = PushedPredicates.empty
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // only attributes surviving column pruning: the DPP planner resolves
    // these against the scan's OUTPUT and fails on absent names
    val present = outSchema.fieldNames.toSet
    Seq("routingKey", "segmentId", "eventTime", "stream").filter(present)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray
  }
  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtime = PushedPredicates.from(filters)
  private def effective: PushedPredicates = pushed.and(runtime)
  override def description(): String = {
    val f = if (pushed.recognized.isEmpty) ""
            else s" PushedFilters: [${pushed.recognized.mkString(", ")}]"
    s"GraftStreamSource[${conf.describe}]$f ReadSchema: ${outSchema.simpleString}"
  }

  /** Formatted explain's lines: the pushed filters (the recognized
    * predicates plus the cut's offset bounds) and the read schema.
    */
  override def getMetaData(): Map[String, String] = Map(
    "PushedFilters" -> (pushed.recognized ++ cutFilters.map(_._1)).mkString("[", ", ", "]"),
    "ReadSchema" -> outSchema.catalogString)

  /** The cut's offset bounds as parquet row-group filters, (full,
    * lower-only), when a file straddles a bound (None otherwise: every
    * row group is in range). Statistics' view of the snapshot, so it
    * never throws.
    */
  private lazy val cutFilters: Option[(org.apache.spark.sql.sources.Filter,
      org.apache.spark.sql.sources.Filter)] =
    GraftReadPlanner.cutFilters(conf.subs.filter(sub => pushed.keepStream(sub.key))
      .map(snapshot.range(_, enforceHead = false)))
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(!conf.timeTravel,
      "asOfVersion (time travel) is a batch-read surface; streaming reads tail the live manifest")
    new GraftMicroBatchStream(SparkSession.active, conf)
  }

  /** Manifest-derived size/row estimates (SupportsReportStatistics): lets
    * Catalyst auto-broadcast a small bounded stream read in joins — the
    * stream-table enrichment shape — without a manual broadcast() hint.
    *
    * Manifest-only: file lengths are recorded at commit
    * (FileEntry.byteSize), so planning never issues a per-file
    * getFileStatus RPC — at the SCALING.md design point (~10^5 files)
    * the old per-file stat was O(files) object-store HEADs per planned
    * scan. Cut-aware: a bounded read counts only the row range between
    * its cuts (files straddling a cut pro-rate bytes by row overlap), so
    * a narrow slice of a huge stream still auto-broadcasts. Cached for
    * the Scan's lifetime — Catalyst may ask repeatedly while planning.
    * Legacy entries without a recorded size (byteSize = 0) fall back to
    * one stat per file, the pre-size behavior.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = cachedStats
  private lazy val cachedStats: org.apache.spark.sql.connector.read.Statistics = {
    val spark = SparkSession.active
    var rows = 0L
    var bytes = 0L
    lazy val hadoopConf = spark.sessionState.newHadoopConf()
    // statically-pushed predicates shrink the estimate too: a pruned
    // time-slice or single-key probe of a huge stream reports only the
    // files it will plan, so Catalyst can still auto-broadcast it.
    // (Runtime filters arrive after stats are consumed — not included.)
    // enforceHead = false: stats never throw; the planner stays the
    // loud surface for truncated-under-reader positions.
    conf.subs.filter(sub => pushed.keepStream(sub.key)).foreach { sub =>
      val sr = snapshot.range(sub, enforceHead = false)
      sr.meta.files.distinctBy(_.path).foreach { f =>
        val overlap = sr.overlap(f)
        if (overlap > 0 && sr.keep(f, pushed)) {
          rows += overlap
          val len =
            if (f.byteSize > 0) f.byteSize
            else {
              val p = new Path(f.path)
              try p.getFileSystem(hadoopConf).getFileStatus(p).getLen
              catch { case _: Exception => 0L }
            }
          bytes += (if (overlap == f.rowCount) len
                    else math.max(1L, len * overlap / math.max(1L, f.rowCount)))
        }
      }
    }
    val (r, b) = (rows, bytes)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(b)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(r)
    }
  }

  /** Bounded batch read (`spark.read.format("graft-stream")`, and so
    * `GraftStreams.readEvents`) — the BatchClientFactory.getSegments(from,
    * to) analog through the DataFrame reader: every subscribed stream
    * scans [fromStreamCut, toStreamCut) of the scan's snapshot, by
    * default its head to its tail. Chunked large events reassemble to
    * whole rows, like every other read surface.
    */
  override def toBatch(): org.apache.spark.sql.connector.read.Batch =
    new org.apache.spark.sql.connector.read.Batch {
      private val spark = SparkSession.active
      override def planInputPartitions(): Array[InputPartition] =
        GraftReadPlanner.plan(spark, conf, snapshot.range(_, enforceHead = true), effective, limit)
      override def createReaderFactory(): PartitionReaderFactory =
        GraftReadPlanner.factory(spark, conf, outSchema, pushed, cutFilters)
    }
}

/** Shared micro-batch/batch planning: manifest files overlapping each
  * subscription's [from, to) range become packed FilePartitions; when
  * any planned file straddles a cut bound the whole batch carries exact
  * row bounds (and reads row-filtered), otherwise it reads columnar.
  */
private[sources] object GraftReadPlanner {
  import org.apache.spark.sql.sources.{And, EqualTo, Filter, GreaterThanOrEqual, LessThan, Or}
  private val dataSchema = GraftStreams.eventSchema
  private def partitionSchema(conf: GraftSourceConfig): StructType =
    if (conf.multi) StructType(Seq(StructField("stream", StringType, nullable = false)))
    else new StructType()

  def plan(spark: SparkSession, conf: GraftSourceConfig, rangeOf: StreamSub => SubRange,
           pushed: PushedPredicates = PushedPredicates.empty,
           limit: Option[Int] = None): Array[InputPartition] = {
    lazy val hadoopConf = spark.sessionState.newHadoopConf()
    val boundsB = Map.newBuilder[String, Map[Long, (Long, Long)]]
    // per kept file: (manifest entry, partition values, guaranteed
    // event count, straddles-cut) — MANIFEST-ONLY; PartitionedFiles
    // (and any legacy per-file stat) are built only for files that
    // survive the limit cap below
    val kept: Seq[(graft.core.FileEntry, InternalRow, Long, Boolean)] =
      conf.subs.filter(sub => pushed.keepStream(sub.key)).flatMap { sub =>
        // SubRange owns the capping rules (head-cut enforcement fails
        // loudly on truncated-under-reader positions — the
        // TruncatedDataException analog — and segments absent from the
        // end cut contribute nothing); pushed-predicate pruning drops
        // files the manifest PROVES cannot match (time span disjoint,
        // wrong segment, routing-key hash outside the segment's key
        // range) — conservative, the residual filters still run over
        // whatever is read
        val sr = rangeOf(sub)
        boundsB += sub.key -> sr.meta.segments.map(s => s.segmentId ->
          (sr.lo(s.segmentId), sr.hi(s.segmentId))).toMap
        val pv: InternalRow =
          if (conf.multi) new GenericInternalRow(Array[Any](UTF8String.fromString(sub.key)))
          else InternalRow.empty
        sr.meta.files
          .filter(f => sr.overlap(f) > 0 && sr.keep(f, pushed))
          .distinctBy(_.path)
          .map { f =>
            val overlap = sr.overlap(f)
            // chunk rows reassemble to FEWER events, so chunked files
            // guarantee nothing toward a pushed limit (still planned)
            val guaranteed = if (f.maxChunkCount > 1) 0L else overlap
            (f, pv, guaranteed, overlap != f.rowCount)
          }
      }
    // pushed LIMIT: stop adding files once the guaranteed counts cover
    // it — the scan may return more rows (Spark re-applies the limit),
    // never fewer than available. Applied BEFORE any PartitionedFile is
    // built, so a limit-10 preview of a 10^5-file stream does 10^5
    // manifest-row lookups (already in memory), not 10^5 file stats.
    val planned = limit match {
      case Some(n) =>
        var acc = 0L
        kept.takeWhile { case (_, _, c, _) => val need = acc < n; acc += c; need }
      case None => kept
    }
    val bounds = if (planned.exists(_._4)) Some(boundsB.result()) else None
    val anyChunked = planned.exists(_._1.maxChunkCount > 1)
    val pfs = planned.map { case (f, pv, _, _) =>
      val p = new Path(f.path)
      // manifest-recorded sizes keep planning RPC-free; legacy entries
      // without one (byteSize = 0, pre-size manifests) fall back to a
      // single stat — same rule as estimateStatistics
      if (f.byteSize > 0) ParquetShim.partitionedFileAt(pv, p, f.byteSize)
      else ParquetShim.partitionedFile(pv, p.getFileSystem(hadoopConf).getFileStatus(p))
    }
    ParquetShim.pack(spark, pfs)
      .map(fp => GraftInputPartition(fp, bounds, anyChunked)).toArray
  }

  /** Parquet row-group filters for the ranges' cut bounds, when a file in
    * range straddles one (None otherwise — every row group is in range):
    * OR over the segments with files in range of `segmentId = s AND
    * offset >= lo [AND offset < hi]`. The first filter has both bounds;
    * the second only the lower, for the reassembling reader — an upper
    * bound would drop the trailing chunks of an event whose head is in
    * range. Multi-stream ranges OR together, which only keeps more.
    */
  def cutFilters(ranges: Seq[SubRange]): Option[(Filter, Filter)] = {
    val inRange = for (sr <- ranges; f <- sr.meta.files if sr.overlap(f) > 0) yield (sr, f)
    if (!inRange.exists { case (sr, f) => sr.overlap(f) < f.rowCount }) None
    else {
      val segs = inRange.map { case (sr, f) => (f.segmentId, sr.lo(f.segmentId), sr.hi(f.segmentId)) }.distinct
      def bounded(sid: Long, lo: Long, hi: Long): Filter =
        (Seq(GreaterThanOrEqual("offset", lo)) ++ Some(LessThan("offset", hi)).filter(_ => hi < Long.MaxValue))
          .foldLeft(EqualTo("segmentId", sid): Filter)(And)
      Some((segs.map { case (s, lo, hi) => bounded(s, lo, hi) }.reduce(Or),
        segs.map { case (s, lo, _) => bounded(s, lo, Long.MaxValue) }.reduce(Or)))
    }
  }

  /** Reader factory honoring column pruning (`out` = the scan's pruned
    * output schema, null = the full schema), pushed filters and the cut
    * filters (forwarded to parquet row-group stats). The parquet read
    * schema is the pruned data columns PLUS `segmentId`/`offset` — two
    * cheap delta-encoded longs the cut-bounds row filter and chunk
    * reassembly key on — and pruned-away extras are projected off after
    * filtering, row- and columnar-wise. The payload column, the actual
    * data volume, is read only when requested.
    */
  def factory(spark: SparkSession, conf: GraftSourceConfig, out: StructType = null,
              pushed: PushedPredicates = PushedPredicates.empty,
              cut: Option[(Filter, Filter)] = None): PartitionReaderFactory = {
    val outSchema = Option(out).getOrElse(conf.schema)
    val outNames = outSchema.fieldNames.toSet
    val readData = StructType(dataSchema.fields.filter(f =>
      outNames.contains(f.name) || f.name == "segmentId" || f.name == "offset"))
    val pSchema = partitionSchema(conf)
    def projectionOnto(rowLayout: Seq[String]): Option[Array[Int]] = {
      val idx = outSchema.fieldNames.map { n =>
        val i = rowLayout.indexOf(n)
        require(i >= 0, s"pruned column '$n' missing from reader layout $rowLayout")
        i
      }
      if (idx.length == rowLayout.length && idx.sameElements(rowLayout.indices)) None
      else Some(idx)
    }
    val mainLayout = readData.fieldNames.toSeq ++ pSchema.fieldNames
    val reasmLayout = dataSchema.fieldNames.toSeq ++ pSchema.fieldNames
    // the reassembling reader and the tail reader index STORAGE-layout
    // rows with the factory's (pruned-layout) segOrd/offOrd — sound
    // only while segmentId/offset occupy the same ordinals in both
    // layouts, which holds because they lead the event schema and are
    // always retained by pruning; fail fast if a schema change breaks it
    require(readData.fieldIndex("segmentId") ==
        GraftStreams.storageSchema.fieldIndex("segmentId") &&
      readData.fieldIndex("offset") ==
        GraftStreams.storageSchema.fieldIndex("offset"),
      "segmentId/offset ordinals diverge between pruned and storage layouts")
    new GraftReaderFactory(
      ParquetShim.parquetReaderFactory(spark, dataSchema, pSchema, readData,
        pushed.parquetFilters ++ cut.map(_._1)),
      ParquetShim.parquetReaderFactory(spark, GraftStreams.storageSchema, pSchema,
        filters = cut.map(_._2).toArray),
      readData.fieldIndex("segmentId"), readData.fieldIndex("offset"),
      if (conf.multi) Some(readData.size) else None,
      conf.subs.head.key, conf.multi,
      projectionOnto(mainLayout).map(ix => (StructType(ix.map(i =>
        if (i < readData.size) readData.fields(i)
        else pSchema.fields(i - readData.size))), ix)),
      projectionOnto(reasmLayout).map(ix => (StructType(ix.map(i =>
        if (i < dataSchema.size) dataSchema.fields(i)
        else pSchema.fields(i - dataSchema.size))), ix)))
  }
}

class GraftMicroBatchStream(spark: SparkSession, conf: GraftSourceConfig)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow with SupportsRealTimeMode {

  private val g = new GraftStreams(spark, conf.rootDir)
  private def flat = !conf.multi
  private def singleKey = conf.subs.head.key

  /** Progress events surface this as the source description — the
    * notification listener keys on it (GraftStreamListener).
    */
  override def toString: String = s"GraftStreamSource[${conf.describe}]"

  private def headCuts: Map[String, StreamCut] = conf.subs.map { sub =>
    sub.key -> sub.from.getOrElse(g.catalog.getStream(sub.scope, sub.stream).headStreamCut)
  }.toMap

  override def initialOffset(): Offset = GraftStreamOffset(headCuts, flat)

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(GraftStreamOffset.parse(json, singleKey), flat)

  private def toCuts(o: Offset): Map[String, StreamCut] = o match {
    case g: GraftStreamOffset => g.cuts
    case other => GraftStreamOffset.parse(other.json(), singleKey)
  }

  /** Highest cut announced so far (monotonic floor — offsets never
    * regress even if a caller hands a stale start).
    */
  @volatile private var lastEnd: Map[String, StreamCut] = Map.empty

  private def mergeMax(a: StreamCut, b: StreamCut): StreamCut =
    StreamCut((a.positions.keySet ++ b.positions.keySet).map { sid =>
      sid -> math.max(a.positions.getOrElse(sid, 0L), b.positions.getOrElse(sid, 0L))
    }.toMap)

  // Trigger.AvailableNow: drain up to the tails captured at query start,
  // in maxRowsPerTrigger pages, then let Spark terminate the query.
  @volatile private var availableNowCap: Map[String, StreamCut] = Map.empty

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = conf.subs.map { sub =>
      sub.key -> g.catalog.getStream(sub.scope, sub.stream).tailCut
    }.toMap

  override def getDefaultReadLimit: ReadLimit =
    conf.maxRowsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new IllegalStateException(
      "graft-stream: admission control (latestOffset(start, limit)) owns " +
        "offset announcement for this source")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startCuts = Option(start).map(toCuts).getOrElse(headCuts)
    val maxRows = limit match {
      case m: ReadMaxRows => Some(m.maxRows())
      case _ => conf.maxRowsPerTrigger
    }
    // reader-group fairness: the row/byte budgets split evenly across
    // subscribed streams, then across each stream's segments
    val perStream = maxRows.map(m => math.max(1L, m / conf.subs.size))
    // byte-aware admission (`maxBytesPerTrigger`): on an event stream
    // the payload IS the data volume and rows vary wildly in size, so
    // the deployment knob a 100 TB ingest needs is bytes, not rows —
    // the reference reader fetches by bytes the same way
    // (SegmentInputStream read ahead). The byte budget converts to a
    // per-segment ROW allowance via manifest stats (byteSize/rowCount
    // per file — zero file IO), composing with the row cap (min wins)
    // and the chunk-safe snap below.
    val perStreamBytes = conf.maxBytesPerTrigger.map(m => math.max(1L, m / conf.subs.size))
    def byteRowAllowance(segFiles: Seq[graft.core.FileEntry],
                         cur: Long, budget: Long): Long = {
      var rows = 0L
      var rem = budget
      val it = segFiles.iterator.filter(_.endOffset > cur)
      var exhausted = false
      while (it.hasNext && !exhausted) {
        val f = it.next()
        val bpr = math.max(1L, f.byteSize / math.max(1L, f.rowCount))
        val avail = f.endOffset - math.max(cur, f.startOffset)
        val take = math.min(avail, rem / bpr)
        rows += take
        rem -= take * bpr
        if (take < avail) exhausted = true
      }
      math.max(1L, rows) // always progress: one row minimum, like maxRows
    }
    val next = conf.subs.map { sub =>
      val meta = g.catalog.getStream(sub.scope, sub.stream)
      val tail0 = meta.tailCut
      // never past the AvailableNow capture or the subscription end cut;
      // segments absent from either bound contribute nothing (they were
      // born after the capture / past the subscription end)
      val caps = availableNowCap.get(sub.key).toSeq ++ sub.to.toSeq
      val tail = caps.foldLeft(tail0) { (t, cap) =>
        StreamCut(t.positions.map { case (sid, off) =>
          sid -> math.min(off, cap.positions.getOrElse(sid, 0L))
        })
      }
      val from = (startCuts.get(sub.key).toSeq ++ lastEnd.get(sub.key).toSeq ++
        Seq(headCuts(sub.key))).reduce(mergeMax)
      val advanced =
        if (perStream.isEmpty && perStreamBytes.isEmpty) tail
        else {
          val segs = meta.segments.map(_.segmentId)
          val perRowsSeg = perStream.map(b => math.max(1L, b / math.max(1, segs.size)))
          val perBytesSeg = perStreamBytes.map(b => math.max(1L, b / math.max(1, segs.size)))
          // files grouped ONCE per trigger — byteRowAllowance and the
          // chunk-safe snap below otherwise re-filter + re-sort the whole
          // manifest file list per segment, O(segments × files log files)
          // per micro-batch on a many-file manifest
          val filesBySeg: Map[Long, Seq[graft.core.FileEntry]] =
            meta.files.groupBy(_.segmentId).map { case (k, v) => k -> v.sortBy(_.startOffset) }
          // lineage gate (SegmentCompleted analog, ReaderGroupState.java:
          // 966 — SURVEY §7's per-key-order-across-scale hard part): a
          // post-scale segment must not enter a batch BEFORE its parents'
          // final rows, or per-key epoch order breaks ACROSS micro-batches
          // where no consumer sort can repair it. A child only advances
          // once every parent's announced cut has reached its sealed tail.
          val parentsDrained =
            lineageGate(meta, sid => from.positions.getOrElse(sid, 0L))
          StreamCut(segs.map { sid =>
            val cur = from.positions.getOrElse(sid, 0L)
            val t = tail.positions.getOrElse(sid, cur)
            if (!parentsDrained(sid)) sid -> cur
            else {
              // chunk-safe pacing: a cut must never slice inside a file
              // holding multi-chunk (large) events, or the event's chunks
              // would split across micro-batches and be unreassemblable.
              // Swallow the chunked file whole — even past `t`: tails land
              // on committed-file boundaries, so a bound slicing inside a
              // chunk file is always FINAL (sub.to / AvailableNow capture)
              // and would otherwise stall the segment forever; overrunning
              // it by a partial file matches the bounded batch path, which
              // emits the whole group whose head is below the bound.
              val segFiles = filesBySeg.getOrElse(sid, Nil)
              val per = math.min(
                perRowsSeg.getOrElse(Long.MaxValue),
                perBytesSeg.map(bb => byteRowAllowance(segFiles, cur, bb))
                  .getOrElse(Long.MaxValue))
              val p = if (per >= t - cur) t else math.min(t, cur + per)
              val snapped = segFiles.find(f =>
                  f.maxChunkCount > 1 && f.startOffset < p && p < f.endOffset) match {
                case Some(f) => f.endOffset
                case None => p
              }
              sid -> snapped
            }
          }.toMap)
        }
      sub.key -> mergeMax(advanced, from)
    }.toMap
    lastEnd = next.map { case (k, c) =>
      k -> lastEnd.get(k).map(mergeMax(c, _)).getOrElse(c)
    }
    GraftStreamOffset(next, flat)
  }

  override def reportLatestOffset(): Offset =
    GraftStreamOffset(conf.subs.map { sub =>
      sub.key -> g.catalog.getStream(sub.scope, sub.stream).tailCut
    }.toMap, flat)

  // ------------------------------------------------------------- planning

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (from, to) = (toCuts(start), toCuts(end))
    GraftReadPlanner.plan(spark, conf, sub => new SubRange(
      g.catalog.getStream(sub.scope, sub.stream), sub.key, from.get(sub.key),
      Some(to.getOrElse(sub.key, StreamCut.Unbounded)), enforceHead = true))
  }

  // one factory for the query's lifetime, so every trigger reads with the
  // session conf the query started with. (A build no longer broadcasts:
  // ParquetShim shares one primed conf per schema and conf contents with
  // the session's batch scans.)
  private lazy val readerFactory = GraftReadPlanner.factory(spark, conf)
  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // ------------------------------------------------- real-time (tail) mode

  /** Spark 4 Real-Time Mode (`Trigger.RealTime`): long-running tasks
    * LONG-POLL the tail of their segment — the engine realization of the
    * reference's Future read (a `ReadSegment` past the tail parks until
    * an append arrives: `FutureReadResultEntry`,
    * `reading/StreamSegmentReadIndex.java`, SURVEY §3.2 step 3). One
    * open-ended partition per (stream, segment) starts at the trigger's
    * begin cut; readers poll the manifest for newly committed files and
    * emit rows the moment a commit lands, far inside one trigger. Task
    * end offsets merge back into a StreamCut (`mergeOffsets`), so the
    * offset log stays cut-compatible with micro-batch mode — the same
    * checkpoint can switch between triggers.
    *
    * Per-key order: per segment there is exactly one tailing reader, so
    * routing-key order within an epoch is positional like every other
    * surface; a post-scale child segment is NOT planned until its
    * parents' start positions reach their sealed tails (the
    * SegmentCompleted gate, same rule as paced micro-batches) — it joins
    * in a later trigger.
    *
    * Unsupported here (use micro-batch triggers): bounded subscriptions
    * (`toStreamCut`) and chunked large events — both are backlog shapes,
    * not tail shapes; the reader throws loudly on either.
    */
  /** The SegmentCompleted gate, shared verbatim with `latestOffset`'s
    * paced planner: a post-scale child is eligible only once every
    * parent's position has reached its sealed tail.
    */
  private def lineageGate(meta: graft.core.StreamMetadata,
                          from: Long => Long): Long => Boolean = {
    val sealedTail = meta.segments.filter(_.isSealed)
      .map(s => s.segmentId -> s.tailOffset).toMap
    val parentsOf = meta.segments.map(s => s.segmentId -> s.parents).toMap
    sid => parentsOf.getOrElse(sid, Nil).forall { p =>
      from(p) >= sealedTail.getOrElse(p, 0L)
    }
  }

  // built once per query, not per trigger: a Hadoop Configuration is
  // hundreds of KB and is serialized into every planned partition
  private lazy val tailSerConf =
    new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())

  override def planInputPartitions(start: Offset): Array[InputPartition] = {
    conf.subs.foreach { sub =>
      require(sub.to.isEmpty,
        s"real-time mode tails the open stream; bounded subscription for ${sub.key} " +
          "(toStreamCut) needs a micro-batch trigger")
    }
    // one slot is reserved: real-time tasks hold theirs for the whole
    // trigger, and a tail-read deployment always has concurrent jobs
    // (the writers being tailed) that must not wait for a trigger
    // boundary to get a slot
    val slotBudget = math.max(1, spark.sparkContext.defaultParallelism - 1)
    val cuts = Option(start).map(toCuts).getOrElse(headCuts)
    // floor the monotonic high-water mark with the trigger's START cut:
    // a segment with no partition this trigger (drained-sealed parent,
    // lineage-deferred child) must keep its checkpointed position in
    // mergeOffsets — without this, a restart would regress such a
    // segment to its head cut and re-deliver it
    lastEnd = (lastEnd.keySet ++ cuts.keySet).map { k =>
      k -> Seq(lastEnd.get(k), cuts.get(k)).flatten.reduce(mergeMax)
    }.toMap
    val eligible: Seq[TailCursorSpec] = conf.subs.flatMap { sub =>
      val meta = g.catalog.getStream(sub.scope, sub.stream)
      val head = meta.headStreamCut.positions
      // loud truncation parity with GraftReadPlanner.plan: a start
      // position below the head means data was truncated away under
      // this reader — fail, never skip silently
      cuts.get(sub.key).foreach(_.positions.foreach { case (sid, off) =>
        val h = head.getOrElse(sid, 0L)
        if (off < h) throw new TruncatedDataException(
          s"${sub.key} segment $sid position $off is below head cut $h " +
            "(truncated while this reader was at an older position)")
      })
      val from: Long => Long = sid => cuts.get(sub.key).flatMap(_.positions.get(sid))
        .getOrElse(head.getOrElse(sid, 0L))
      val gate = lineageGate(meta, from)
      meta.segments
        .filter(s => gate(s.segmentId))
        // a sealed segment whose rows are all consumed never produces
        // again — skip it entirely
        .filterNot(s => s.isSealed && from(s.segmentId) >= s.tailOffset)
        .map(s => TailCursorSpec(sub.key, sub.scope, sub.stream,
          s.segmentId, from(s.segmentId)))
    }
    // segments multiplex onto min(total, budget) tasks ACROSS streams —
    // a partition may own cursors of several streams, exactly like a
    // reader owning segments across a multi-stream reader group
    val nParts = math.min(math.max(1, eligible.size), slotBudget)
    eligible.zipWithIndex.groupBy(_._2 % nParts).values
      .map(g => GraftTailPartition(conf.rootDir, g.map(_._1), conf.multi, tailSerConf))
      .toArray
  }

  /** Task-reported per-segment end positions → one composite StreamCut
    * offset. Segments with no partition this trigger (drained-sealed, or
    * lineage-deferred children) keep their start position via the
    * `lastEnd` floor seeded from the trigger's start cut — NOT from the
    * live head cuts, which could silently skip past data truncated
    * under a running reader (that case must stay loud:
    * TruncatedDataException at the next plan or poll).
    */
  override def mergeOffsets(offsets: Array[PartitionOffset]): Offset = {
    val reported = offsets.collect { case t: GraftTailPartitionOffset => t }
      .flatMap(_.positions)
      .groupBy(_._1)
      .map { case (k, ts) =>
        k -> StreamCut(ts.map { case (_, sid, pos) => sid -> pos }.toMap)
      }
    val merged = (lastEnd.keySet ++ reported.keySet).map { k =>
      val base = lastEnd.getOrElse(k, StreamCut(Map.empty))
      k -> reported.get(k).map(mergeMax(base, _)).getOrElse(base)
    }.toMap
    lastEnd = merged
    GraftStreamOffset(merged, flat)
  }

  override def prepareForRealTimeMode(): Unit = ()
}

/** One planned slice of a micro-batch: packed parquet files plus, when
  * any planned file straddles a cut bound, the per-(stream, segment)
  * [lo, hi) row bounds the reader must enforce (None = every file lies
  * fully inside the cut range — read columnar, no per-row work), plus
  * whether any planned file holds multi-chunk (large) events, which
  * routes the whole batch through the reassembling row reader.
  */
final case class GraftInputPartition(files: InputPartition,
    bounds: Option[Map[String, Map[Long, (Long, Long)]]],
    reassemble: Boolean = false) extends InputPartition {
  override def preferredLocations(): Array[String] = files.preferredLocations()
}

/** One segment a real-time task owns: stream identity + start position. */
final case class TailCursorSpec(key: String, scope: String, stream: String,
    segmentId: Long, fromOffset: Long)

/** One open-ended real-time partition: tail a GROUP of segments — across
  * subscribed streams — from their cursors until the trigger deadline.
  * Multiplexing several segments per long-running task is the
  * reader-group shape (one reader owns N segments across the group's
  * streams, `ReaderGroupState.java:630`): real-time tasks hold their
  * slot for the whole trigger, so task count is min(total segments,
  * slot budget), never segment or stream count. Carries everything the
  * executor needs to poll manifests without a SparkSession.
  */
final case class GraftTailPartition(rootDir: String,
    cursors: Seq[TailCursorSpec], multi: Boolean,
    serConf: org.apache.spark.util.SerializableConfiguration)
    extends InputPartition

/** A tailing task's end positions (one per owned segment) — merged into
  * a composite StreamCut offset by `GraftMicroBatchStream.mergeOffsets`
  * at trigger end.
  */
final case class GraftTailPartitionOffset(
    positions: Seq[(String, Long, Long)]) extends PartitionOffset

/** Delegates to Spark's parquet reader factory. Batches with no
  * straddling and no chunked files pass through COLUMNAR; boundary
  * batches read as rows filtered by the exact (stream, segment) offset
  * bounds; batches containing large-event chunk rows read the at-rest
  * storage schema and reassemble each chunk group into one whole event —
  * the engine's one reassembler, for batch and streaming reads alike
  * (groups never span files by construction, and chunk-safe pacing in
  * latestOffset keeps them inside one micro-batch).
  */
final class GraftReaderFactory(delegate: PartitionReaderFactory,
    storageDelegate: PartitionReaderFactory, segOrd: Int,
    offOrd: Int, streamOrd: Option[Int], singleKey: String, multi: Boolean,
    proj: Option[(StructType, Array[Int])] = None,
    reasmProj: Option[(StructType, Array[Int])] = None)
    extends PartitionReaderFactory {

  private def unwrap(p: InputPartition) = p.asInstanceOf[GraftInputPartition]

  /** Column-pruned view over a delegate row reader: a zero-copy
    * ProjectingInternalRow selecting the pruned output columns from the
    * wider (seg/off-bearing) read layout.
    */
  private def projectRows(r: PartitionReader[InternalRow],
      p: (StructType, Array[Int])): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val view =
        new org.apache.spark.sql.catalyst.ProjectingInternalRow(p._1, p._2.toIndexedSeq)
      override def next(): Boolean = r.next()
      override def get(): InternalRow = { view.project(r.get()); view }
      override def close(): Unit = r.close()
    }

  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case _: GraftTailPartition => false
    case _ =>
      val gp = unwrap(p)
      gp.bounds.isEmpty && !gp.reassemble && delegate.supportColumnarReads(gp.files)
  }

  override def createColumnarReader(p: InputPartition) = {
    val r = delegate.createColumnarReader(unwrap(p).files)
    proj match {
      case None => r
      case Some((_, idx)) =>
        // batch-level projection: re-bundle the selected column vectors;
        // the wrapper batch shares (never owns) the delegate's vectors
        new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
          override def next(): Boolean = r.next()
          override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
            val b = r.get()
            new org.apache.spark.sql.vectorized.ColumnarBatch(
              idx.map(b.column), b.numRows())
          }
          override def close(): Unit = r.close()
        }
    }
  }

  private def inBounds(b: Option[Map[String, Map[Long, (Long, Long)]]],
                       key: String, sid: Long, off: Long): Boolean = b match {
    case None => true
    case Some(m) => m.get(key).flatMap(_.get(sid))
      .exists { case (lo, hi) => off >= lo && off < hi }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    p match {
      case tp: GraftTailPartition =>
        // real-time mode is a streaming surface — Spark never prunes
        // streaming scans, so the tail reader always runs unprojected
        // (and must: wrapping would hide SupportsRealTimeRead)
        require(proj.isEmpty,
          "graft-stream: column pruning reached a real-time tail partition")
        return new GraftTailReader(tp, delegate, offOrd)
      case _ =>
    }
    val gp = unwrap(p)
    if (gp.reassemble) {
      val rr = new ReassemblingReader(storageDelegate.createReader(gp.files), gp.bounds)
      return reasmProj.fold(rr: PartitionReader[InternalRow])(projectRows(rr, _))
    }
    val r = delegate.createReader(gp.files)
    val filtered: PartitionReader[InternalRow] = gp.bounds match {
      case None => r
      case Some(_) => new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean = {
          while (r.next()) {
            val row = r.get()
            val key = streamOrd.map(i => row.getUTF8String(i).toString).getOrElse(singleKey)
            if (inBounds(gp.bounds, key, row.getLong(segOrd), row.getLong(offOrd))) {
              cur = row; return true
            }
          }
          false
        }
        override def get(): InternalRow = cur
        override def close(): Unit = r.close()
      }
    }
    proj.fold(filtered)(projectRows(filtered, _))
  }

  /** Rows arrive offset-ordered per file (and chunk groups are
    * file-contiguous), so reassembly is a streaming merge: buffer the
    * chunkCount consecutive rows of a group, emit one event row with
    * the concatenated payload at the group's head offset. A group
    * belongs to the range holding its head: it is emitted whole when the
    * head is in bounds (its trailing chunks may lie past the upper
    * bound) and skipped when the head is below the range. A group broken
    * inside a file (corruption) is dropped.
    */
  private final class ReassemblingReader(r: PartitionReader[InternalRow],
      bounds: Option[Map[String, Map[Long, (Long, Long)]]])
      extends PartitionReader[InternalRow] {
    // storage-schema ordinals: eventSchema fields, then the chunk markers,
    // then (multi) the stream partition column
    private val csOrd = GraftStreams.eventSchema.size
    private val ccOrd = csOrd + 1
    private val stOrd = ccOrd + 1
    private val ptOrd = GraftStreams.eventSchema.fieldIndex("processingTime")
    private val rkOrd = GraftStreams.eventSchema.fieldIndex("routingKey")
    private val etOrd = GraftStreams.eventSchema.fieldIndex("eventTime")
    private val payOrd = GraftStreams.eventSchema.fieldIndex("payload")
    private var cur: InternalRow = _
    // a row that ended a broken chunk group (corrupt file/manifest): it
    // may itself be a valid event or the next group's head, so it is
    // re-examined instead of silently dropped with the group
    private var pending: InternalRow = _

    private def nextRow(): InternalRow =
      if (pending != null) { val p = pending; pending = null; p }
      else if (r.next()) r.get()
      else null

    private def key(row: InternalRow): String =
      if (multi) row.getUTF8String(stOrd).toString else singleKey

    private def emit(seg: Long, off: Long, rk: UTF8String, et: Long,
                     pt: Any, payload: Array[Byte], st: UTF8String): Boolean = {
      val vals = Array[Any](seg, off, rk, et, pt, payload) ++
        (if (multi) Array[Any](st) else Array.empty[Any])
      cur = new GenericInternalRow(vals)
      true
    }

    override def next(): Boolean = {
      var row = nextRow()
      while (row != null) {
        val cc = if (row.isNullAt(ccOrd)) 1 else row.getInt(ccOrd)
        val seg = row.getLong(segOrd)
        val off = row.getLong(offOrd)
        if (cc <= 1) {
          // project storage-schema fields to the OUTPUT schema — the raw
          // row has chunkSeq/chunkCount between payload and the stream
          // partition column, so passing it through verbatim would read
          // chunkSeq where `stream` belongs in multi-stream mode
          if (inBounds(bounds, key(row), seg, off)) {
            return emit(seg, off, row.getUTF8String(rkOrd), row.getLong(etOrd),
              if (row.isNullAt(ptOrd)) null else row.getLong(ptOrd),
              row.getBinary(payOrd),
              if (multi) row.getUTF8String(stOrd) else null)
          }
        } else {
          val seq = if (row.isNullAt(csOrd)) 0 else row.getInt(csOrd)
          // groups start at chunkSeq 0; a nonzero head is the tail of a
          // group sliced off below the read range — skip its rows
          if (seq == 0) {
            val rk = row.getUTF8String(rkOrd).clone()
            val et = row.getLong(etOrd)
            val pt: Any = if (row.isNullAt(ptOrd)) null else row.getLong(ptOrd)
            val st = if (multi) row.getUTF8String(stOrd).clone() else null
            val k = if (multi) st.toString else singleKey
            val parts = scala.collection.mutable.ArrayBuffer(row.getBinary(payOrd))
            var got = 1
            var intact = true
            while (intact && got < cc) {
              val nr = nextRow()
              if (nr == null) intact = false
              else {
                val ncc = if (nr.isNullAt(ccOrd)) 1 else nr.getInt(ccOrd)
                val nseq = if (nr.isNullAt(csOrd)) 0 else nr.getInt(csOrd)
                if (ncc == cc && nseq == got && nr.getLong(segOrd) == seg &&
                    nr.getLong(offOrd) == off + got) {
                  parts += nr.getBinary(payOrd); got += 1
                } else {
                  // buffer (copy — reader rows are reused) and re-examine
                  pending = nr.copy()
                  intact = false
                }
              }
            }
            if (intact && got == cc && inBounds(bounds, k, seg, off)) {
              val out = new Array[Byte](parts.map(_.length).sum)
              var pos = 0
              parts.foreach { b => System.arraycopy(b, 0, out, pos, b.length); pos += b.length }
              return emit(seg, off, rk, et, pt, out, st)
            }
            // incomplete group at a slice edge: dropped (batch parity)
          }
        }
        row = nextRow()
      }
      false
    }
    override def get(): InternalRow = cur
    override def close(): Unit = r.close()
  }
}

/** Executor-side long-poll tail reader (SupportsRealTimeRead): emits the
  * committed rows of one segment from `fromOffset`, then POLLS the
  * stream manifest for the next committed file until the engine's
  * trigger deadline — the FutureReadResultEntry park-until-append
  * semantic, realized as manifest polling with exponential backoff
  * (2 → 64 ms). A poll is one O(live files) manifest read, the same
  * unit of work as a micro-batch planning step; rows inside an already
  * open file are handed over with no polling at all.
  *
  * The trigger's start position may land mid-file (real-time end offsets
  * are row-exact): rows below `fromOffset` are skipped by offset, the
  * same rule as the micro-batch boundary reader.
  */
final class GraftTailReader(p: GraftTailPartition,
    delegate: PartitionReaderFactory, offOrd: Int)
    extends PartitionReader[InternalRow] with SupportsRealTimeRead[InternalRow] {
  import graft.catalog.StreamCatalog

  private val cat = new StreamCatalog(p.rootDir, p.serConf.value)

  /** One owned segment's tail state. */
  private final class Cursor(val spec: TailCursorSpec) {
    var pos: Long = spec.fromOffset
    var reader: PartitionReader[InternalRow] = _
    var sealedTail: Long = -1L // >= 0 once the segment is sealed
    def drained: Boolean = sealedTail >= 0 && pos >= sealedTail
    // multi-stream mode appends the owning stream as a partition column
    val pv: InternalRow =
      if (p.multi) new GenericInternalRow(Array[Any](UTF8String.fromString(spec.key)))
      else InternalRow.empty
  }
  private val cursors: Array[Cursor] = p.cursors.map(new Cursor(_)).toArray
  private var rr = 0 // round-robin start index — per-call rotation = fairness
  private var cur: InternalRow = _
  private var backoffMs: Long = 2L

  /** One manifest read PER OWNED STREAM serves all of that stream's
    * cursors: refresh seal states, enforce head cuts, open the next
    * committed file for each cursor that has one. Returns true if any
    * file was opened. Files open from the manifest's recorded byteSize —
    * no per-file getFileStatus HEAD on the commit→delivery hot path
    * (legacy size-less entries fall back to one stat).
    */
  private def pollManifest(): Boolean = {
    var opened = false
    GraftTailReader.pollCount.incrementAndGet()
    cursors.groupBy(c => (c.spec.scope, c.spec.stream)).foreach {
      case ((scope, stream), cs) =>
        GraftTailReader.manifestReadCount.incrementAndGet()
        val meta = cat.getStream(scope, stream)
        val heads = meta.headStreamCut.positions
        val sealedTails = meta.segments.filter(_.isSealed)
          .map(s => s.segmentId -> s.tailOffset).toMap
        cs.foreach { c =>
          val head = heads.getOrElse(c.spec.segmentId, 0L)
          if (c.pos < head) throw new TruncatedDataException(
            s"${c.spec.key} segment ${c.spec.segmentId} position ${c.pos} is below " +
              s"head cut $head (truncated while this reader was at an older position)")
          sealedTails.get(c.spec.segmentId).foreach(t => c.sealedTail = t)
          if (c.reader == null && !c.drained) {
            meta.files.find(f => f.segmentId == c.spec.segmentId &&
                f.startOffset <= c.pos && c.pos < f.endOffset) match {
              case Some(f) if f.maxChunkCount > 1 =>
                throw new UnsupportedOperationException(
                  "real-time mode does not reassemble chunked (> MaxEventSize) events; " +
                    s"use a micro-batch trigger for ${c.spec.key}")
              case Some(f) =>
                val path = new Path(f.path)
                val len =
                  if (f.byteSize > 0) f.byteSize
                  else path.getFileSystem(p.serConf.value).getFileStatus(path).getLen
                c.reader = delegate.createReader(ParquetShim.singlePartition(
                  ParquetShim.partitionedFileAt(c.pv, path, len)))
                opened = true
              case None =>
            }
          }
        }
    }
    opened
  }

  /** Emit the next row from any cursor with an open reader, rotating the
    * start index so segments interleave fairly across calls.
    */
  private def emitFromOpenReaders(): Boolean = {
    var k = 0
    while (k < cursors.length) {
      val c = cursors((rr + k) % cursors.length)
      if (c.reader != null) {
        while (c.reader.next()) {
          val row = c.reader.get()
          if (row.getLong(offOrd) >= c.pos) {
            cur = row
            c.pos = row.getLong(offOrd) + 1
            rr = (rr + k + 1) % cursors.length
            return true
          }
        }
        c.reader.close(); c.reader = null
      }
      k += 1
    }
    false
  }

  override def nextWithTimeout(timeoutMs: java.lang.Long): SupportsRealTimeRead.RecordStatus = {
    // saturate: a sentinel-sized timeout must long-poll, not overflow
    // into an already-expired deadline
    val deadline = System.nanoTime() +
      math.min(timeoutMs, Long.MaxValue / 2000000L) * 1000000L
    while (true) {
      if (emitFromOpenReaders()) {
        backoffMs = 2L
        return SupportsRealTimeRead.RecordStatus.newStatusWithoutArrivalTime(true)
      }
      if (pollManifest()) {
        backoffMs = 2L
      } else {
        val remainingMs = (deadline - System.nanoTime()) / 1000000L
        if (remainingMs <= 0)
          return SupportsRealTimeRead.RecordStatus.newStatusWithoutArrivalTime(false)
        try Thread.sleep(math.min(backoffMs, remainingMs))
        catch {
          case _: InterruptedException =>
            // trigger-end task interruption: surface "no record" and let
            // the engine collect the offset; keep the interrupt flag set
            Thread.currentThread().interrupt()
            return SupportsRealTimeRead.RecordStatus.newStatusWithoutArrivalTime(false)
        }
        backoffMs = math.min(backoffMs * 2, 64L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  override def getOffset: PartitionOffset =
    GraftTailPartitionOffset(
      cursors.map(c => (c.spec.key, c.spec.segmentId, c.pos)).toSeq)

  /** Plain PartitionReader surface (not used by the real-time exec,
    * which drives nextWithTimeout): non-blocking single probe.
    */
  override def next(): Boolean = nextWithTimeout(0L).hasRecord
  override def get(): InternalRow = cur
  override def close(): Unit =
    cursors.foreach(c => if (c.reader != null) c.reader.close())
}

object GraftTailReader {
  /** Poll-efficiency counters (observability + the soak-spec bound):
    * `pollManifest` performs exactly ONE manifest read per owned stream
    * per poll, however many cursors it multiplexes — the invariant that
    * keeps an over-subscribed reader group O(streams), not O(segments),
    * against the metadata store.
    */
  val pollCount = new java.util.concurrent.atomic.AtomicLong(0L)
  val manifestReadCount = new java.util.concurrent.atomic.AtomicLong(0L)
}

object GraftStreamSource {
  /** Per-reader getCurrentTimeWindow (EventStreamReader.java:134 /
    * WatermarkReaderImpl.java:139-152): a streaming query's checkpointed
    * offset JSON IS its StreamCut, so its TimeWindow interpolates from
    * the emitted watermark history at that exact position.
    */
  def timeWindowFor(spark: SparkSession, rootDir: String, scope: String,
                    stream: String, offsetJson: String): (Option[Long], Option[Long]) = {
    // accepts both offset shapes: a flat single-stream cut, or a
    // multi-stream composite keyed by "scope/stream"
    val key = s"$scope/$stream"
    val cut = GraftStreamOffset.parse(offsetJson, key).getOrElse(key,
      throw new IllegalArgumentException(
        s"offset carries no cut for $key: $offsetJson"))
    new GraftStreams(spark, rootDir).timeWindowAt(scope, stream, cut)
  }
}
