package graft.storage

import graft.catalog.{CasFiles, StreamCatalog}
import graft.core._
import graft.functions.GraftFunctions.hash_to_range
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ParquetWriteShim
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, TimestampType}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.UUID
import scala.collection.mutable
import scala.util.Try
import scala.util.control.NonFatal

/** Data plane for graft streams (SURVEY §3.1/§3.2 re-expressed for Spark).
  *
  * Write path (EventStreamWriter analog, client/.../EventStreamWriterImpl.java:122):
  *   route rows to the segment owning hash(routingKey) → one shuffle
  *   partitioned by segment → each task writes one parquet file per
  *   segment, numbering offsets on from the tail as rows pass, and reports
  *   the file entries in its result ([[writeSegmentFiles]]) → a single
  *   manifest CAS makes everything visible atomically. No WAL, no output
  *   commit protocol: the object store plus the atomic manifest is both
  *   durability tiers.
  *
  * Read path (BatchClientFactory analog, client/.../BatchClientFactory.java:80):
  *   plan = manifest file entries overlapping [fromCut, toCut) — the exact
  *   StreamCut → byte-range pruning of the reference, here as file pruning
  *   plus parquet min/max stats on the (segmentId, offset) columns.
  *
  * Rows at rest use the canonical event schema (SURVEY §1.2):
  * (segmentId long, offset long, routingKey string, eventTime long,
  *  processingTime timestamp, payload binary).
  */
class GraftStreams(val spark: SparkSession, val rootDir: String,
                   checkpointInterval: Int = graft.catalog.StreamCatalog.DefaultCheckpointInterval) {
  val catalog = new StreamCatalog(rootDir, spark.sessionState.newHadoopConf(),
    checkpointInterval)

  import spark.implicits._

  // ------------------------------------------------------------------ write

  /** Append a batch of events. `df` must carry `routingKey` (string),
    * `eventTime` (long) and `payload` (binary) columns — the Encoder-side
    * Serializer<T> analog lives with the caller.
    *
    * `writerId`/`batchId` give per-writer idempotence: re-delivering an
    * already-committed batch is a no-op (the Spark translation of the
    * reference's writer-id event-number dedup, AppendProcessor.java:179-387).
    */
  def writeEvents(scope: String, stream: String, df: DataFrame,
                  writerId: Option[String] = None, batchId: Option[Long] = None,
                  noteTimeFromBatch: Boolean = false): StreamCut = {
    val meta = catalog.getStream(scope, stream)
    if (meta.isSealed) throw new StreamSealedException(s"$scope/$stream is sealed")
    for (w <- writerId; b <- batchId)
      if (meta.writerBatches.get(w).exists(_ >= b)) return meta.tailCut

    val open = meta.openSegments.sortBy(_.keyLow)
    val baseBySeg = open.map(s => s.segmentId -> s.tailOffset).toMap
    val batchDir = new Path(catalog.dataDir(scope, stream), s"batch-${UUID.randomUUID()}")
    val entries = writeSegmentFiles("graft.writeEvents", appendPlan(df, open), batchDir,
      offsetBase = baseBySeg, stamp = true)
    GraftStreams.kp("write.staged") // crash here = staged batch, no CAS

    val updated = try catalog.update(scope, stream) { m =>
      if (m.isSealed) throw new StreamSealedException(s"$scope/$stream sealed during write")
      // Offsets were assigned against `meta`'s tails; if another writer
      // advanced them meanwhile, this commit would interleave offsets —
      // fail the CAS instead (caller re-runs the batch).
      val moved = open.exists(s => m.segment(s.segmentId).tailOffset != baseBySeg(s.segmentId))
      if (moved) throw new ConditionalCheckFailedException(
        s"$scope/$stream tails moved during write of $batchDir")
      // A concurrent scale seals segments without moving tails — appending
      // into a sealed segment would silently extend a closed epoch
      // (mirrors commitTxn's sealed-targets check; reference rejects with
      // SegmentIsSealed, WireCommands.java:164). Fail the CAS so the retry
      // wrapper re-routes against the new epoch.
      val sealedHit = entries.map(_.segmentId).distinct.filter(sid => m.segment(sid).isSealed)
      if (sealedHit.nonEmpty) throw new ConditionalCheckFailedException(
        s"$scope/$stream segments ${sealedHit.mkString(",")} sealed during write of $batchDir")
      val now = System.currentTimeMillis()
      val rowsPerSeg = entries.groupBy(_.segmentId).map { case (sid, fs) => sid -> fs.map(_.rowCount).sum }
      withAppended(m, entries).copy(
        segmentRates = m.segmentRates ++ rowsPerSeg.map { case (sid, n) =>
          sid -> m.segmentRates.getOrElse(sid, SegmentRates()).update(n, now) },
        writerBatches = (for (w <- writerId; b <- batchId) yield m.writerBatches + (w -> b))
          .getOrElse(m.writerBatches),
        // auto noteTime from the batch's max eventTime (already in the
        // task-reported file entries — no extra pass), committed atomically
        // with the data; marks only move forward (EventStreamWriterImpl.java:117)
        writerMarks = (for {
          w <- writerId if noteTimeFromBatch && entries.nonEmpty
          t = entries.map(_.maxEventTime).max
          if !m.writerMarks.get(w).exists(_.time >= t)
        } yield m.writerMarks + (w -> WriterMark(w, t, now))).getOrElse(m.writerMarks))
    } catch {
      case e: ConditionalCheckFailedException =>
        // never committed — drop the staged files so retries don't leak
        dropDir(batchDir)
        throw e
    }
    updated.tailCut
  }

  /** Route each row to the open segment owning hash(routingKey): a CASE
    * over the epoch's key ranges (few segments → codegen'd chain; the
    * hash itself is a native expression).
    */
  private def route(open: Seq[SegmentRecord]): Column = {
    require(open.nonEmpty, "stream has no open segments")
    val h = hash_to_range(col("routingKey"))
    open.init.foldRight(lit(open.last.segmentId): Column) { (s, rest) =>
      when(h < s.keyHigh, lit(s.segmentId)).otherwise(rest)
    }
  }

  /** The plan of writeEvents and writeToTxn (arrival sequence as a
    * placeholder offset), the same code on every call against one epoch.
    * MAX_EVENT_SIZE (Serializer.java:33): payloads above it do NOT fail —
    * they are split in-plan into <= MaxEventSize chunk rows occupying
    * CONSECUTIVE offsets of the same segment (the LargeEventWriter
    * transient-segment + merge analog, client/.../stream/impl/
    * LargeEventWriter.java:77,99,153); readEvents reassembles them. The
    * split runs BEFORE the shuffle, so no shuffled row exceeds the chunk.
    */
  private def appendPlan(df: DataFrame, open: Seq[SegmentRecord]): DataFrame =
    GraftStreams.chunkPayloads(df.withColumn("arrivalSeq", monotonically_increasing_id()))
      .withColumn("segmentId", route(open))
      // explicit partition count: one task per segment (the reference's
      // per-segment append parallelism); AQE would otherwise coalesce the
      // tiny shuffle into a single task and serialize the sort+encode
      .repartition(open.size, $"segmentId")
      .sortWithinPartitions($"segmentId", $"arrivalSeq", $"chunkSeq")
      .select($"segmentId", $"arrivalSeq".as("offset"), $"routingKey".cast(StringType),
        $"eventTime".cast(LongType), lit(null).cast(TimestampType).as("processingTime"),
        $"payload".cast(BinaryType), $"chunkSeq", $"chunkCount")

  /** The one stream writer (append, txn staging, txn merge, compaction,
    * redaction): runs `plan` — storage-schema rows, all of a segment's in
    * one task, in offset order — and each task writes one parquet file
    * per segment under `dir/segId=N/`, returning the files' entries. No
    * output commit protocol: only files a successful task reported can
    * enter a commit. Per-call values are task data, never plan literals:
    * with `offsetBase` offsets run on from each segment's base; with
    * `stamp` processingTime is this call's time. A failed job drops `dir`.
    */
  private def writeSegmentFiles(name: String, plan: DataFrame, dir: Path,
                                offsetBase: Map[Long, Long] = Map.empty,
                                stamp: Boolean = false): Seq[FileEntry] = {
    require(plan.schema.map(_.dataType) == GraftStreams.storageSchema.map(_.dataType),
      s"$name: plan must produce the storage schema, got ${plan.schema.simpleString}")
    val writers = ParquetWriteShim.parquetWriters(spark, GraftStreams.storageSchema)
    val out = dir.toString
    val nowMicros = if (stamp) Some(DateTimeUtils.instantToMicros(Instant.now())) else None
    try ParquetWriteShim.withExecution(plan, name)(_.mapPartitions(rows =>
      GraftStreams.writeTask(rows, out, writers, offsetBase, nowMicros)).collect().toSeq)
    catch {
      case NonFatal(e) =>
        dropDir(dir)
        throw new GraftException(s"$name failed, staging dropped: ${e.getMessage}", e)
    }
  }

  private def fsOf(p: Path) = p.getFileSystem(spark.sessionState.newHadoopConf())
  private def dropDir(p: Path): Unit = fsOf(p).delete(p, true)

  /** `m` with `entries` appended: files listed, each written segment's
    * tail at its highest written offset, its EventCount accumulated.
    */
  private def withAppended(m: StreamMetadata, entries: Seq[FileEntry]): StreamMetadata = {
    val bySeg = entries.groupBy(_.segmentId)
    m.copy(files = m.files ++ entries, segments = m.segments.map { s =>
      bySeg.get(s.segmentId).fold(s) { fs =>
        s.copy(tailOffset = fs.map(_.endOffset).max,
          attributes = s.attributes + (Attributes.EventCount ->
            AttributeUpdate(Attributes.EventCount, "ACCUMULATE", fs.map(_.rowCount).sum)
              .apply(s.attributes.get(Attributes.EventCount))))
      }
    })
  }

  // ------------------------------------------------------- segment attributes

  /** Conditional segment-attribute updates (GetSegmentAttribute /
    * UpdateSegmentAttribute wire ops, WireCommands.java:1022,1078, with
    * AttributeUpdateType semantics): all updates in one call commit
    * atomically via the manifest CAS; any failed condition aborts the
    * whole batch (ConditionalCheckFailed).
    */
  def updateSegmentAttributes(scope: String, stream: String, segmentId: Long,
                              updates: Seq[AttributeUpdate]): Map[String, Long] = {
    var result: Map[String, Long] = Map.empty
    catalog.update(scope, stream) { m =>
      val seg = m.segment(segmentId)
      val attrs = updates.foldLeft(seg.attributes) { (acc, u) =>
        acc + (u.key -> u.apply(acc.get(u.key)))
      }
      result = attrs
      m.copy(segments = m.segments.map(s =>
        if (s.segmentId == segmentId) s.copy(attributes = attrs) else s))
    }
    result
  }

  def getSegmentAttribute(scope: String, stream: String, segmentId: Long, key: String): Long =
    catalog.getStream(scope, stream).segment(segmentId)
      .attributes.getOrElse(key, Attributes.NullValue)

  // ------------------------------------------------------------- named cuts

  /** Save a named StreamCut — the generateStreamCuts / initiateCheckpoint
    * surface (ReaderGroup.java:84,215): default is the current tail.
    * Subscriber positions use a `sub:` prefix and participate in
    * consumption-based retention.
    */
  def saveStreamCut(scope: String, stream: String, name: String,
                    cut: Option[StreamCut] = None): StreamCut = {
    var saved: StreamCut = StreamCut.Unbounded
    catalog.update(scope, stream) { m =>
      saved = cut.getOrElse(m.tailCut)
      m.copy(namedCuts = m.namedCuts + (name -> saved.positions))
    }
    saved
  }

  def getStreamCut(scope: String, stream: String, name: String): Option[StreamCut] =
    catalog.getStream(scope, stream).namedCuts.get(name).map(StreamCut(_))

  def deleteStreamCut(scope: String, stream: String, name: String): Unit =
    catalog.update(scope, stream)(m => m.copy(namedCuts = m.namedCuts - name))

  // ------------------------------------------------------------------- read

  /** Bounded batch read between two cuts, default [head, tail). Planning
    * never lists directories — only manifest entries overlapping the cut
    * range are scanned, and the per-row offset predicate rides parquet
    * stats.
    */
  def readEvents(scope: String, stream: String,
                 from: StreamCut = StreamCut.Unbounded,
                 to: StreamCut = StreamCut.Unbounded): DataFrame = {
    val meta = catalog.getStream(scope, stream)
    val head = meta.headStreamCut
    val lo: Long => Long = sid => from.positions.getOrElse(sid, head.positions.getOrElse(sid, 0L))
    // A real (non-Unbounded) `to` cut strictly precedes any segment born
    // after it: absent segments cap at 0 rows, mirroring the DSv2 path's
    // latestOffset rule — only a truly unbounded read tails every segment.
    val hi: Long => Long =
      if (to.positions.isEmpty) _ => Long.MaxValue
      else sid => to.positions.getOrElse(sid, 0L)

    from.positions.foreach { case (sid, off) =>
      val h = head.positions.getOrElse(sid, 0L)
      if (off < h) throw new TruncatedDataException(
        s"segment $sid offset $off is below head cut $h (truncated)")
    }

    val files = meta.files.filter(f => f.endOffset > lo(f.segmentId) && f.startOffset < hi(f.segmentId))
    if (files.isEmpty) return emptyEvents()

    val cond = meta.segments.map(_.segmentId).map { sid =>
      col("segmentId") === sid && col("offset") >= lo(sid) && col("offset") < hi(sid)
    }.reduce(_ || _)

    // Fast path: no scanned file contains large-event chunks (footer-
    // derived manifest flag), so the canonical projection never reads the
    // chunk columns and no reassembly shuffle is planned.
    if (files.forall(_.maxChunkCount <= 1))
      spark.read.schema(GraftStreams.storageSchema)
        .parquet(files.map(_.path).distinct: _*)
        .filter(cond)
        .select(GraftStreams.eventSchema.fieldNames.map(col): _*)
    else
      GraftStreams.reassembleLargeEvents(
        spark.read.schema(GraftStreams.storageSchema)
          .parquet(files.map(_.path).distinct: _*)
          .filter(cond))
  }

  /** Ordered per-key consumption view: epoch-major, offset-minor — parents
    * before successors, the reader-group drain rule
    * (client/.../stream/impl/ReaderGroupState.java:966 SegmentCompleted).
    */
  def readEventsOrdered(scope: String, stream: String): DataFrame =
    readEvents(scope, stream)
      .withColumn("epoch", shiftrightunsigned($"segmentId", 32))
      .orderBy($"epoch", $"segmentId", $"offset")
      .drop("epoch")

  /** fetchEvent(EventPointer) (EventStreamReader.java:82). A pointer to a
    * large event addresses its HEAD chunk; the chunk span is bounded by
    * the covering files' maxChunkCount, so the read stays a point lookup.
    */
  def fetchEvent(scope: String, stream: String, p: EventPointer): DataFrame = {
    val meta = catalog.getStream(scope, stream)
    val segFiles = meta.files.filter(_.segmentId == p.segmentId)
    val bound = segFiles.map(_.maxChunkCount.toLong).foldLeft(1L)(math.max)
    val files = segFiles.filter(f =>
      p.offset < f.endOffset && p.offset + bound > f.startOffset)
    if (files.isEmpty) return emptyEvents()
    val scanned = spark.read.schema(GraftStreams.storageSchema).parquet(files.map(_.path): _*)
      .filter($"segmentId" === p.segmentId &&
        $"offset" >= p.offset && $"offset" < p.offset + bound)
    if (bound <= 1L)
      scanned.filter($"offset" === p.offset)
        .select(GraftStreams.eventSchema.fieldNames.map(col): _*)
    else
      GraftStreams.reassembleLargeEvents(scanned).filter($"offset" === p.offset)
  }

  private def emptyEvents(): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      GraftStreams.eventSchema)

  // --------------------------------------------------------- cut arithmetic

  /** getNextStreamCut(cut, approxRows) (BatchClientFactory.java:123):
    * advance ~approxRows split across open segments, clamped to tails.
    */
  def nextStreamCut(scope: String, stream: String, cut: StreamCut, approxRows: Long): StreamCut = {
    val meta = catalog.getStream(scope, stream)
    val per = math.max(1L, approxRows / math.max(1, meta.segments.size))
    StreamCut(meta.segments.map { s =>
      val cur = cut.positions.getOrElse(s.segmentId, s.startOffset)
      s.segmentId -> math.min(s.tailOffset, cur + per)
    }.toMap)
  }

  /** getDistanceBetweenTwoStreamCuts (StreamManager.java:261), in rows. */
  def distance(scope: String, stream: String, from: StreamCut, to: StreamCut): Long = {
    val meta = catalog.getStream(scope, stream)
    meta.segments.map { s =>
      val a = from.positions.getOrElse(s.segmentId, s.startOffset)
      val b = to.positions.getOrElse(s.segmentId, s.tailOffset)
      math.max(0L, b - a)
    }.sum
  }

  /** ReaderGroupMetrics.unreadBytes analog (client/.../stream/
    * ReaderGroupMetrics.java:29), in this engine's offset unit (rows —
    * offsets are row sequence numbers, see core/model.scala header):
    * total rows between a reader position and the stream tail.
    */
  def unreadRows(scope: String, stream: String, position: StreamCut): Long = {
    val meta = catalog.getStream(scope, stream)
    distance(scope, stream, position, meta.tailCut)
  }

  /** ReaderSegmentDistribution analog (client/.../stream/
    * ReaderSegmentDistribution.java): the per-segment unread remainder
    * behind the tail. Segment→task assignment itself is Spark's
    * scheduler; what the reference surfaces per reader, the engine
    * surfaces per segment (the unit tasks are assigned by).
    */
  def unreadBySegment(scope: String, stream: String,
                      position: StreamCut): Map[Long, Long] = {
    val meta = catalog.getStream(scope, stream)
    meta.segments.map { s =>
      val a = position.positions.getOrElse(s.segmentId, s.startOffset)
      s.segmentId -> math.max(0L, s.tailOffset - a)
    }.toMap
  }

  /** getSegmentsAtTime (Controller.java:388): first live offset whose
    * eventTime ≥ t per segment; file-level eventTime stats prune the scan.
    */
  def segmentsAtTime(scope: String, stream: String, t: Long): StreamCut = {
    val meta = catalog.getStream(scope, stream)
    val candidates = meta.files.filter(_.maxEventTime >= t)
    val found: Map[Long, Long] =
      if (candidates.isEmpty) Map.empty
      else spark.read.schema(GraftStreams.eventSchema)
        .parquet(candidates.map(_.path).distinct: _*)
        .filter($"eventTime" >= t)
        .groupBy($"segmentId").agg(min($"offset").as("pos"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    StreamCut(meta.segments.map(s =>
      s.segmentId -> found.getOrElse(s.segmentId, s.tailOffset)).toMap)
  }

  // ------------------------------------------------------------------ scale

  /** Manual scale to `newCount` evenly tiled segments: seal the current
    * epoch, open epoch+1 with lineage to the overlapping parents
    * (ScaleOperationTask.java:65-173). Readers keep per-key order because
    * consumption is epoch-major (parents drain first).
    */
  def scaleStream(scope: String, stream: String, newCount: Int): StreamMetadata =
    catalog.update(scope, stream) { m =>
      val now = System.currentTimeMillis()
      val epoch = m.currentEpoch.epoch + 1
      val olds = m.openSegments
      val news = RoutingKeyHash.evenRanges(newCount).zipWithIndex.map { case (r, i) =>
        SegmentRecord(SegmentId.pack(epoch, i), r.low, r.high, 0L, 0L, isSealed = false,
          parents = olds.filter(_.range.overlaps(r)).map(_.segmentId), createdAt = now)
      }
      m.copy(
        segments = m.segments.map(s => if (s.isSealed) s else s.copy(isSealed = true)) ++ news,
        epochs = m.epochs :+ EpochRecord(epoch, news.map(_.segmentId), now))
    }

  /** Segment lineage (getSuccessors, Controller.java:412). */
  def successors(scope: String, stream: String, segmentId: Long): Seq[Long] = {
    val meta = catalog.getStream(scope, stream)
    meta.segments.filter(_.parents.contains(segmentId)).map(_.segmentId)
  }

  // ----------------------------------------------------------- transactions

  /** beginTxn (TransactionalEventStreamWriter.java:37): allocate a txn id,
    * record it OPEN with a lease. Staged data lives under `txn-<id>/` —
    * invisible to readers because it never enters the manifest file list.
    */
  def beginTxn(scope: String, stream: String, leaseMillis: Long = 600000L): String = {
    val id = UUID.randomUUID().toString
    catalog.update(scope, stream) { m =>
      if (m.isSealed) throw new StreamSealedException(s"$scope/$stream is sealed")
      m.copy(transactions = m.transactions +
        (id -> TxnRecord(id, TxnState.Open, System.currentTimeMillis(), leaseMillis)))
    }
    id
  }

  /** Append under an open transaction (Transaction.java:61 writeEvent):
    * rows are routed and ordered like committed writes into
    * `txn-<id>/call-<callSeq>/` with txn-local offsets (callSeq << 40) +
    * rank, which the merge at commit re-ranks by (segmentId, offset).
    * After the job the driver records the files its tasks reported in
    * `call-<callSeq>.json`; commitTxn merges exactly the recorded files.
    */
  def writeToTxn(scope: String, stream: String, txnId: String, df: DataFrame): Unit = {
    val meta = catalog.getStream(scope, stream)
    val txn = txnStatus(meta, txnId)
    if (txn.state != TxnState.Open || txn.expired(System.currentTimeMillis()))
      throw new TxnFailedException(s"txn $txnId is ${txn.state}${if (txn.expired(System.currentTimeMillis())) " (lease expired)" else ""}")

    // reserve this call's offset epoch up front (also revalidates OPEN);
    // a parallel writeToTxn on the same txn gets its own epoch
    var callSeq = 0L
    catalog.update(scope, stream) { m =>
      val cur = txnStatus(m, txnId)
      if (cur.state != TxnState.Open) throw new TxnFailedException(s"txn $txnId is ${cur.state}")
      callSeq = cur.calls
      m.copy(transactions = m.transactions + (txnId -> cur.copy(calls = cur.calls + 1)))
    }

    val open = meta.openSegments.sortBy(_.keyLow)
    val staged = writeSegmentFiles("graft.writeToTxn", appendPlan(df, open),
      new Path(catalog.txnDir(scope, stream, txnId), s"call-$callSeq"),
      offsetBase = open.map(_.segmentId -> (callSeq << 40)).toMap, stamp = true)
    val list = callList(scope, stream, txnId, callSeq)
    val out = CasFiles.createExclusive(fsOf(list), list)
    try out.write(Serialization.write(staged)(DefaultFormats).getBytes(UTF_8)) finally out.close()
  }

  private def callList(scope: String, stream: String, txnId: String, callSeq: Long): Path =
    new Path(catalog.txnDir(scope, stream, txnId), s"call-$callSeq.json")

  /** The staged files of every writeToTxn call, read from the call lists
    * by exact path (no listing). A missing or torn list is a call that
    * never returned (its rows were never acknowledged); a file no list
    * names (a lost task attempt's output, a stray copy) is never merged.
    */
  private def stagedFiles(scope: String, stream: String, txn: TxnRecord): Seq[FileEntry] = {
    val fsys = fsOf(catalog.txnDir(scope, stream, txn.id))
    (0L until txn.calls).flatMap { seq =>
      val json = try {
        val in = fsys.open(callList(scope, stream, txn.id, seq))
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      } catch { case _: java.io.FileNotFoundException => "" }
      Try(Serialization.read[Seq[FileEntry]](json)(DefaultFormats, implicitly)).getOrElse(Nil)
    }
  }

  /** Commit (Transaction.java:88, CommitRequestHandler.java:247-367):
    * OPEN→COMMITTING via CAS, then a merge job rewrites the recorded
    * staged files with real offsets appended to each target segment (the
    * MergeSegmentOperation analog), then a publish CAS makes the files
    * visible, advances tails and marks COMMITTED. Commit order = manifest
    * version order, so concurrent commits serialize exactly like the
    * reference's per-epoch commit queue.
    *
    * Recoverable by construction — the reference's CommitRequestHandler is
    * an idempotent event-sourced handler that retries until success:
    *  - re-calling commitTxn on a COMMITTING txn resumes the merge (crash
    *    or lost publish CAS leaves no wedged state);
    *  - a concurrent append/commit that moves tails only fails the publish
    *    CAS, after which the merge re-runs against fresh tails;
    *  - staged rows whose original target segments were sealed mid-txn
    *    roll over to the current epoch's open segments by routing key
    *    (the rolling-transaction analog, CommitRequestHandler.java:290);
    *  - commit of an already-COMMITTED txn is a no-op.
    */
  def commitTxn(scope: String, stream: String, txnId: String): Unit = {
    // Phase 1: OPEN → COMMITTING. Past this point the txn MUST eventually
    // commit; the lease stops mattering and abort is rejected.
    val entered = catalog.update(scope, stream) { m =>
      val cur = txnStatus(m, txnId)
      cur.state match {
        case TxnState.Open =>
          if (cur.expired(System.currentTimeMillis()))
            throw new TxnFailedException(s"txn $txnId lease expired")
          m.copy(transactions = m.transactions + (txnId -> cur.copy(state = TxnState.Committing)))
        case TxnState.Committing => m // resume a previous attempt
        case TxnState.Committed => m // idempotent no-op
        case other => throw new TxnFailedException(s"cannot commit txn $txnId in $other")
      }
    }
    if (txnStatus(entered, txnId).state == TxnState.Committed) return

    val stagingDir = catalog.txnDir(scope, stream, txnId)
    val fsys = fsOf(stagingDir)

    // Phase 2: merge + publish, re-planned from fresh metadata until the
    // publish CAS lands (bounded only as a runaway guard).
    var attempt = 0
    val maxAttempts = 20
    while (true) {
      val meta = catalog.getStream(scope, stream)
      if (txnStatus(meta, txnId).state == TxnState.Committed) return // another driver finished it
      val metaTails = meta.segments.map(s => s.segmentId -> s.tailOffset).toMap

      var entries: Seq[FileEntry] = Nil
      var commitDir: Path = null
      val staged = stagedFiles(scope, stream, txnStatus(meta, txnId))
      if (staged.nonEmpty) {
        commitDir = new Path(catalog.dataDir(scope, stream),
          s"txncommit-$txnId-${UUID.randomUUID().toString.take(8)}")
        val open = meta.openSegments.sortBy(_.keyLow)
        // Per-key order survives rerouting: within a routing key all staged
        // rows shared one original segment, and the merge orders by
        // (original segmentId, txn-local offset = call, rank in call).
        val plan = spark.read.schema(GraftStreams.storageSchema).parquet(staged.map(_.path): _*)
          .withColumn("targetSeg", when(col("segmentId").isInCollection(open.map(_.segmentId)),
            col("segmentId")).otherwise(route(open)))
          .repartition(open.size, $"targetSeg")
          .sortWithinPartitions($"targetSeg", $"segmentId", $"offset")
          .select($"targetSeg" +: GraftStreams.storageSchema.fieldNames.tail.toSeq.map(col): _*)
        entries = writeSegmentFiles("graft.commitTxn", plan, commitDir, offsetBase = metaTails)
      }
      GraftStreams.kp("txn.merged") // crash here = merged files, no publish

      var racedDone = false
      try {
        catalog.update(scope, stream) { m =>
          racedDone = false
          val cur = txnStatus(m, txnId)
          if (cur.state == TxnState.Committed) { racedDone = true; m }
          else {
            if (cur.state != TxnState.Committing)
              throw new TxnFailedException(s"txn $txnId is ${cur.state}, expected COMMITTING")
            val targets = entries.map(_.segmentId).distinct
            val invalid = targets.exists { sid =>
              val s = m.segment(sid); s.isSealed || s.tailOffset != metaTails(sid)
            }
            if (invalid) throw new ConditionalCheckFailedException(
              s"tails moved or targets sealed during txn $txnId commit")
            withAppended(m, entries).copy(transactions = m.transactions + (txnId -> cur.copy(
              state = TxnState.Committed, committedAt = Some(System.currentTimeMillis()))))
          }
        }
        GraftStreams.kp("txn.published") // crash here = COMMITTED, staging left
        if (racedDone) {
          // another driver published first; our merge output is an orphan
          if (commitDir != null) fsys.delete(commitDir, true)
        } else {
          fsys.delete(stagingDir, true)
        }
        return
      } catch {
        case _: ConditionalCheckFailedException =>
          if (commitDir != null) fsys.delete(commitDir, true)
          attempt += 1
          if (attempt >= maxAttempts)
            throw new TxnFailedException(
              s"txn $txnId commit lost the publish CAS $maxAttempts times")
          Thread.sleep(scala.util.Random.nextInt(50 * math.min(attempt, 5)) + 1L)
      }
    }
  }

  /** Abort (Transaction.java:102): mark ABORTED, drop staged files. */
  def abortTxn(scope: String, stream: String, txnId: String): Unit = {
    catalog.update(scope, stream) { m =>
      val cur = txnStatus(m, txnId)
      if (cur.state == TxnState.Committed || cur.state == TxnState.Committing)
        throw new TxnFailedException(s"cannot abort txn $txnId in ${cur.state}")
      m.copy(transactions = m.transactions + (txnId -> cur.copy(state = TxnState.Aborted)))
    }
    dropDir(catalog.txnDir(scope, stream, txnId))
  }

  /** Lease keep-alive (client/.../stream/impl/Pinger.java:47). */
  def pingTxn(scope: String, stream: String, txnId: String, leaseMillis: Long): Unit =
    catalog.update(scope, stream) { m =>
      val cur = txnStatus(m, txnId)
      if (cur.state != TxnState.Open) throw new TxnFailedException(s"txn $txnId is ${cur.state}")
      m.copy(transactions = m.transactions +
        (txnId -> cur.copy(createdAt = System.currentTimeMillis(), leaseMillis = leaseMillis)))
    }

  /** Expired-lease sweep (controller/.../timeout/ semantics): every OPEN
    * txn past its lease is aborted and its staging dropped. A COMMITTING
    * txn past its lease is the other stuck shape — commit began (phase 1
    * CAS landed) but the driver died before publish; commit is the only
    * legal outcome at that point, so the sweep re-drives commitTxn (the
    * reference retries commits until they succeed).
    */
  def sweepExpiredTxns(scope: String, stream: String): Seq[String] = {
    val now = System.currentTimeMillis()
    val txns = catalog.getStream(scope, stream).transactions.values.toSeq
    val expiredOpen = txns.filter(_.expired(now)).map(_.id)
    expiredOpen.foreach(abortTxn(scope, stream, _))
    val stuckCommitting = txns
      .filter(t => t.state == TxnState.Committing && now > t.createdAt + t.leaseMillis)
      .map(_.id)
    stuckCommitting.foreach(commitTxn(scope, stream, _))
    expiredOpen ++ stuckCommitting
  }

  /** listCompletedTransactions (StreamManager.java:232): the terminal
    * (COMMITTED / ABORTED) txn records from the manifest, oldest first.
    * Terminal records stay in the manifest after their staging dirs are
    * swept, exactly so this audit surface keeps working.
    */
  def listCompletedTxns(scope: String, stream: String): Seq[TxnRecord] =
    catalog.getStream(scope, stream).transactions.values.toSeq
      .filter(t => t.state == TxnState.Committed || t.state == TxnState.Aborted)
      .sortBy(t => (t.createdAt, t.id))

  /** Concurrent-writer convenience: offsets are assigned against a tail
    * snapshot, so a racing commit fails the CAS (tails-moved check); this
    * wrapper re-runs the batch against fresh tails — writer idempotence
    * keys make the retry safe even if the failure was a false alarm.
    */
  def writeEventsWithRetry(scope: String, stream: String, df: DataFrame,
                           writerId: Option[String] = None, batchId: Option[Long] = None,
                           maxRetries: Int = 10,
                           noteTimeFromBatch: Boolean = false): StreamCut = {
    var attempt = 0
    while (true) {
      try return writeEvents(scope, stream, df, writerId, batchId, noteTimeFromBatch)
      catch {
        case _: ConditionalCheckFailedException if attempt < maxRetries =>
          attempt += 1
          Thread.sleep(50L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Orphan sweep: a writer that dies between staging its files and the
    * manifest CAS leaves a `batch-*`/`txncommit-*`/`compact-*` dir that no
    * committed manifest references — invisible to readers by construction,
    * reclaimed here after a grace period (the failed-write analog of the
    * reference's transient-segment cleanup).
    */
  def sweepOrphans(scope: String, stream: String,
                   olderThanMillis: Long = 3600000L): Seq[String] = {
    val meta = catalog.getStream(scope, stream)
    // tombstoned files are still awaiting their reader-grace deadline —
    // their directories must survive until sweepDeletes clears them
    val keepPaths = meta.files.map(_.path) ++ meta.pendingDeletes.map(_.path)
    val referenced = keepPaths.map(p => new Path(p).getParent.getParent.toString).toSet ++
      keepPaths.map(p => new Path(p).getParent.toString).toSet
    val dataDir = catalog.dataDir(scope, stream)
    val fsys = fsOf(dataDir)
    if (!fsys.exists(dataDir)) return Nil
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val removed = fsys.listStatus(dataDir).toSeq
      .filter(st => st.isDirectory &&
        (st.getPath.getName.startsWith("batch-") ||
         st.getPath.getName.startsWith("txncommit-") ||
         st.getPath.getName.startsWith("compact-") ||
         // a STREAMING_WRITE epoch dir normally deleted at commit — a
         // crashed sink leaves it; the epoch either committed (files
         // moved out) or never did, so past-grace reclaim is safe
         st.getPath.getName.startsWith("sinkstage-")) &&
        !referenced.contains(st.getPath.toString) &&
        !referenced.contains(GraftStreams.stripScheme(st.getPath.toString)) &&
        st.getModificationTime < cutoff)
    removed.foreach(st => fsys.delete(st.getPath, true))

    // txn staging dirs: normally deleted at commit/abort, but a crash
    // right after the publish CAS leaves the dir behind with the txn
    // already COMMITTED. Reclaim any txn-* dir whose txn is terminal (or
    // unknown) and past the grace; OPEN/COMMITTING staging must survive.
    val streamDir = catalog.dataDir(scope, stream).getParent
    val active = meta.transactions.collect {
      case (id, t) if t.state == TxnState.Open || t.state == TxnState.Committing => id
    }.toSet
    val txnRemoved = fsys.listStatus(streamDir).toSeq
      .filter { st =>
        st.isDirectory && st.getPath.getName.startsWith("txn-") &&
          !active.contains(st.getPath.getName.stripPrefix("txn-")) &&
          st.getModificationTime < cutoff
      }
    txnRemoved.foreach(st => fsys.delete(st.getPath, true))
    (removed ++ txnRemoved).map(_.getPath.toString)
  }

  // ------------------------------------------------------------- compaction

  /** Small-file compaction (the DefragmentOperation / OPTIMIZE analog,
    * SURVEY §4): segments accumulating one file per micro-batch are
    * rewritten into one file per segment, swapped into the manifest
    * atomically. Offsets are preserved in the rows, so cuts, pointers and
    * in-flight readers of committed manifests are unaffected; a concurrent
    * append moves the CAS and the compaction retries against fresh state.
    * Returns (filesBefore, filesAfter).
    */
  def compactStream(scope: String, stream: String, minFilesPerSegment: Int = 2): (Int, Int) = {
    val meta = catalog.getStream(scope, stream)
    val targets = meta.files.groupBy(_.segmentId).filter(_._2.size >= minFilesPerSegment)
    if (targets.isEmpty) return (meta.files.size, meta.files.size)
    val updated = rewriteSegments(scope, stream, targets, "compact", "compaction", liveRows(meta, targets))
    (meta.files.size, updated.files.size)
  }

  /** Right-to-be-forgotten REDACTION — the GDPR scrub on an append-only
    * log: rewrites the files of every segment whose key range covers the
    * routing key, replacing matching rows' payloads with EMPTY bytes
    * while preserving row count, offsets, event times and chunk layout —
    * readers keep exact offset arithmetic, StreamCuts stay valid, and
    * per-key ordering chains survive; only the forgotten bytes are gone
    * (the standard deletion discipline for immutable logs — rewrite-with-
    * redaction, since in-place row deletes would break every offset).
    * Rides compaction's machinery: atomic manifest swap, CAS
    * revalidation against concurrent appends, reader-grace tombstones
    * for the replaced files. Segments the key cannot route to are never
    * read or rewritten (manifest-level key-range pruning — at scale the
    * scrub touches 1/segments of the stream). Returns redacted rows.
    */
  def redactStream(scope: String, stream: String, routingKey: String): Long = {
    val meta = catalog.getStream(scope, stream)
    val h = RoutingKeyHash.hashToRange(routingKey)
    val targetSegs = meta.segments.filter(_.range.contains(h)).map(_.segmentId).toSet
    val targets = meta.files.filter(f => targetSegs.contains(f.segmentId))
      .groupBy(_.segmentId)
    if (targets.isEmpty) return 0L
    val src = liveRows(meta, targets)
    val n = src.filter(col("routingKey") === routingKey).count()
    if (n == 0L) return 0L
    rewriteSegments(scope, stream, targets, "redact", "redaction",
      src.withColumn("payload", when(col("routingKey") === routingKey,
        lit(Array.empty[Byte])).otherwise(col("payload"))))
    n
  }

  /** The rows of `targets`'s files at or above the head StreamCut: rows
    * below it are dead to every reader, so a rewrite drops them instead
    * of carrying dead pre-head data (and its payloads) forward.
    */
  private def liveRows(meta: StreamMetadata, targets: Map[Long, Seq[FileEntry]]): DataFrame = {
    val head = meta.headStreamCut.positions
    spark.read.schema(GraftStreams.storageSchema)
      .parquet(targets.values.flatten.map(_.path).toSeq: _*)
      .filter(targets.keySet.map(sid =>
        col("segmentId") === sid && col("offset") >= head.getOrElse(sid, 0L)).reduce(_ || _))
  }

  /** Rewrite `rows` (offsets kept) into a `compact-*` dir and swap the
    * new files for every file of the `targets` segments in one CAS.
    */
  private def rewriteSegments(scope: String, stream: String, targets: Map[Long, Seq[FileEntry]],
                              kind: String, what: String, rows: DataFrame): StreamMetadata = {
    val dir = new Path(catalog.dataDir(scope, stream), s"compact-${UUID.randomUUID()}")
    val newEntries = writeSegmentFiles(s"graft.${kind}Stream",
      rows.repartition(col("segmentId")).sortWithinPartitions(col("segmentId"), col("offset")), dir)
    GraftStreams.kp(s"$kind.staged") // crash here = rewritten files, no swap
    val oldPaths = targets.values.flatten.map(_.path).toSeq
    val deadline = System.currentTimeMillis() + graft.catalog.StreamCatalog.DefaultDeleteGraceMillis
    try catalog.update(scope, stream) { m =>
      // the CAS closure revalidates: if any target segment gained a file
      // since planning, fail (caller can rerun) rather than lose it
      val changed = targets.exists { case (sid, fs) =>
        m.files.filter(_.segmentId == sid).map(_.path).toSet != fs.map(_.path).toSet
      }
      if (changed) throw new ConditionalCheckFailedException(
        s"$scope/$stream files changed during $what")
      // replaced files become tombstones, NOT immediate deletes: a reader
      // that planned from the pre-rewrite manifest may still be scanning
      // them; catalog.sweepDeletes reclaims after the grace
      m.copy(files = m.files.filterNot(f => targets.contains(f.segmentId)) ++ newEntries,
        pendingDeletes = m.pendingDeletes ++ oldPaths.map(p => PendingDelete(p, deadline)))
    } catch {
      case e: ConditionalCheckFailedException =>
        // never swapped — drop the rewritten files so a lost CAS doesn't
        // leak a compact-* dir per losing attempt (writeEvents' pattern)
        dropDir(dir)
        throw e
    }
  }

  // ------------------------------------------------------------- watermarks

  /** noteTime (EventStreamWriter.java:117 + Controller.java:468
    * noteTimestampFromWriter): writers declare an event-time high-water
    * mark; marks only move forward.
    */
  def noteTime(scope: String, stream: String, writerId: String, time: Long): Unit =
    catalog.update(scope, stream) { m =>
      val prev = m.writerMarks.get(writerId)
      if (prev.exists(_.time >= time)) m
      else m.copy(writerMarks = m.writerMarks +
        (writerId -> WriterMark(writerId, time, System.currentTimeMillis())))
    }

  /** removeWriter (Controller.java:478). */
  def removeWriter(scope: String, stream: String, writerId: String): Unit =
    catalog.update(scope, stream)(m => m.copy(writerMarks = m.writerMarks - writerId))

  /** Watermark computation (PeriodicWatermarking.java:192-300): writers
    * idle longer than `timeoutMillis` (wall clock since their last note)
    * are excluded; lower bound = min mark over active writers, upper =
    * max over all. Returns (lowerTimeBound, upperTimeBound) — the
    * TimeWindow surface (client/.../stream/TimeWindow.java).
    */
  def timeWindow(scope: String, stream: String, timeoutMillis: Long = 600000L): Option[(Long, Long)] = {
    val marks = catalog.getStream(scope, stream).writerMarks.values.toSeq
    if (marks.isEmpty) return None
    val now = System.currentTimeMillis()
    val active = marks.filter(m => now - m.notedAt <= timeoutMillis)
    val considered = if (active.nonEmpty) active else marks
    Some((considered.map(_.time).min, marks.map(_.time).max))
  }

  /** Emit one watermark record: the current time bounds tied to the tail
    * positions they were computed at, appended to a bounded history (the
    * PeriodicWatermarking emit into the `_MARK` stream,
    * controller/.../PeriodicWatermarking.java:300 + Watermark.java). Run
    * on a cadence (Maintenance does); no-op without writer marks.
    */
  def emitWatermark(scope: String, stream: String,
                    timeoutMillis: Long = 600000L,
                    keepLast: Int = 64): Option[WatermarkRecord] =
    timeWindow(scope, stream, timeoutMillis).map { case (lo, hi) =>
      var rec: WatermarkRecord = null
      catalog.update(scope, stream) { m =>
        rec = WatermarkRecord(lo, hi, m.tailCut.positions, System.currentTimeMillis())
        // marks only advance: drop an emission that would regress (idle
        // writer expiry can lower the computed bound transiently)
        if (m.watermarks.lastOption.exists(_.lowerTime >= lo)) { rec = m.watermarks.last; m }
        else m.copy(watermarks = (m.watermarks :+ rec).takeRight(keepLast))
      }
      rec
    }

  /** Per-reader TimeWindow (WatermarkReaderImpl.java:139-152): interpolate
    * (lowerTimeBound, upperTimeBound) AT A POSITION from the emitted
    * watermark history —
    *   lower = newest watermark the cut has fully passed,
    *   upper = oldest watermark still fully ahead of the cut
    * (None on either side when the history does not bracket the position,
    * exactly like the reference's null bounds near head/tail). A reader
    * mid-replay therefore sees its OWN window, not the live bounds.
    */
  def timeWindowAt(scope: String, stream: String,
                   cut: StreamCut): (Option[Long], Option[Long]) = {
    val wms = catalog.getStream(scope, stream).watermarks
    def cutAtOrPast(w: WatermarkRecord): Boolean =
      w.positions.forall { case (sid, off) => cut.positions.getOrElse(sid, 0L) >= off }
    def cutBefore(w: WatermarkRecord): Boolean =
      w.positions.forall { case (sid, off) => cut.positions.getOrElse(sid, 0L) <= off } &&
        w.positions.exists { case (sid, off) => cut.positions.getOrElse(sid, 0L) < off }
    val lower = wms.filter(cutAtOrPast).lastOption.map(_.lowerTime)
    val upper = wms.find(cutBefore).map(_.upperTime)
    (lower, upper)
  }

  def txnStatus(scope: String, stream: String, txnId: String): TxnRecord =
    txnStatus(catalog.getStream(scope, stream), txnId)

  private def txnStatus(m: StreamMetadata, txnId: String): TxnRecord =
    m.transactions.getOrElse(txnId,
      throw new TxnFailedException(s"unknown txn $txnId on ${m.scope}/${m.name}"))
}

object GraftStreams {
  import org.apache.spark.sql.types._

  /** Test-only crash injection: invoked with a kill-point name at each
    * stage boundary of the mutating operations (stage → CAS → cleanup). A
    * test hook that THROWS simulates the writer dying at exactly that
    * boundary — the JVM boundary a `kill -9` would hit — so the
    * crash-recovery invariants (readers never see partial state, Fsck
    * names the leak, the sweep reclaims it, a re-run lands exactly once)
    * are checkable per kill-point. Production never sets it.
    */
  @volatile private[graft] var killPoint: Option[String => Unit] = None
  @inline private[graft] def kp(name: String): Unit = killPoint.foreach(_(name))

  private def stripScheme(p: String): String =
    if (p.startsWith("file:")) new Path(p).toUri.getPath else p

  /** Task side of [[GraftStreams#writeSegmentFiles]]: one parquet file per
    * segment (every plan sorts a task's rows by segment), its entry built
    * from the rows as they pass. An assigned offset or stamp is set in
    * place, so rows are not copied; a failed attempt deletes its files.
    */
  private def writeTask(rows: Iterator[InternalRow], dir: String, writers: ParquetWriteShim.Writers,
                        offsetBase: Map[Long, Long], nowMicros: Option[Long]): Iterator[FileEntry] = {
    val tc = TaskContext.get()
    val conf = writers.conf.value
    val entries = mutable.ArrayBuffer.empty[FileEntry]
    val opened = mutable.ArrayBuffer.empty[Path]
    tc.addTaskFailureListener { (_, _) =>
      opened.foreach(p => try p.getFileSystem(conf).delete(p, false) catch { case NonFatal(_) => })
    }
    var w: OutputWriter = null
    var seg, first, n, tLo, tHi, records, bytes = 0L
    var ck = 1
    def closeFile(): Unit = {
      w.close()
      val p = new Path(w.path())
      val len = p.getFileSystem(conf).getFileStatus(p).getLen
      entries += FileEntry(seg, stripScheme(p.toString), first, n,
        if (tLo > tHi) 0L else tLo, if (tLo > tHi) 0L else tHi, maxChunkCount = ck, byteSize = len)
      records += n; bytes += len
      w = null
    }
    rows.foreach { r =>
      val s = r.getLong(0)
      if (w != null && s != seg) closeFile()
      if (w == null) {
        seg = s; n = 0L; tLo = Long.MaxValue; tHi = Long.MinValue; ck = 1
        w = writers.open(s"$dir/segId=$s", f"part-${tc.partitionId()}%05d-${tc.taskAttemptId()}")
        opened += new Path(w.path())
      }
      val row = if (offsetBase.isEmpty && nowMicros.isEmpty) r else {
        val m = r match { case u: UnsafeRow => u; case o => o.copy() }
        if (offsetBase.nonEmpty) m.setLong(1, offsetBase(s) + n)
        nowMicros.foreach(m.setLong(4, _))
        m
      }
      if (n == 0L) first = row.getLong(1)
      if (!row.isNullAt(3)) { val t = row.getLong(3); tLo = math.min(tLo, t); tHi = math.max(tHi, t) }
      if (!row.isNullAt(7)) ck = math.max(ck, row.getInt(7))
      w.write(row)
      n += 1
    }
    if (w != null) closeFile()
    ParquetWriteShim.reportOutput(bytes, records)
    entries.iterator
  }

  /** Max event payload PER ROW (Serializer.MAX_EVENT_SIZE,
    * Serializer.java:33). Larger events are accepted and chunked — see
    * [[chunkPayloads]].
    */
  val MaxEventSize: Int = 8 * 1024 * 1024
  /** Canonical OUTWARD event schema (SURVEY §1.2) — what readEvents /
    * fetchEvent / the streaming source produce.
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("segmentId", LongType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("routingKey", StringType, nullable = false),
    StructField("eventTime", LongType, nullable = false),
    StructField("processingTime", TimestampType, nullable = true),
    StructField("payload", BinaryType, nullable = true)))
  /** At-rest schema: canonical columns plus the large-event chunk
    * markers. Files written before large-event support lack the chunk
    * columns and read as nulls (= whole events).
    */
  val storageSchema: StructType = StructType(eventSchema.fields ++ Seq(
    StructField("chunkSeq", IntegerType, nullable = true),
    StructField("chunkCount", IntegerType, nullable = true)))

  import org.apache.spark.sql.functions._

  /** Split oversized payloads into `<= MaxEventSize` chunk rows, in-plan
    * (the LargeEventWriter analog, client/.../stream/impl/
    * LargeEventWriter.java:77,99): every input row becomes `chunkCount`
    * rows sharing routingKey/eventTime, with `chunkSeq` ordering the
    * slices. Runs BEFORE the routing shuffle so no shuffled row ever
    * carries more than one chunk. The explode materializes only INT
    * chunk indices — a small event's payload passes through untouched
    * (no extra copy on the hot path); slicing happens only on rows whose
    * chunkCount > 1.
    */
  def chunkPayloads(df: DataFrame): DataFrame = {
    val max = MaxEventSize
    df.withColumn("chunkCount",
        when(coalesce(length(col("payload")), lit(0)) <= max, lit(1))
          .otherwise(ceil(length(col("payload")).cast("double") / max).cast("int")))
      .withColumn("chunkSeq", explode(sequence(lit(0), col("chunkCount") - 1)))
      .withColumn("payload",
        when(col("chunkCount") === 1, col("payload"))
          .otherwise(col("payload").substr(col("chunkSeq") * max + 1, lit(max))))
  }

  /** Reassemble chunked large events from a storage-schema scan back into
    * canonical whole-event rows (the mergeSegments-read analog): chunks
    * group on (segmentId, head offset = offset - chunkSeq), sort by
    * chunkSeq and concatenate. An event sliced by a mid-event cut (some
    * chunks outside the scanned range) is dropped whole rather than
    * surfaced truncated. Only planned when the scanned files' footer
    * stats say chunks exist.
    */
  def reassembleLargeEvents(scanned: DataFrame): DataFrame =
    scanned
      .withColumn("chunkSeq", coalesce(col("chunkSeq"), lit(0)))
      .withColumn("chunkCount", coalesce(col("chunkCount"), lit(1)))
      .withColumn("eventHead", col("offset") - col("chunkSeq"))
      .groupBy(col("segmentId"), col("eventHead"))
      .agg(
        min(col("routingKey")).as("routingKey"),
        min(col("eventTime")).as("eventTime"),
        min(col("processingTime")).as("processingTime"),
        max(col("chunkCount")).as("chunkCount"),
        count(lit(1)).as("nRows"),
        array_sort(collect_list(struct(col("chunkSeq"), col("payload")))).as("chunks"))
      .filter(col("nRows") === col("chunkCount"))
      .withColumn("payload",
        aggregate(col("chunks"), lit(Array.emptyByteArray),
          (acc, x) => concat(acc, x.getField("payload"))))
      .select(col("segmentId"), col("eventHead").as("offset"), col("routingKey"),
        col("eventTime"), col("processingTime"), col("payload"))
}
