package graft.sources

import graft.storage.{GraftStreams, TaskFileWriter}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, ShortType, StringType, StructType}

/** DSv2 write path for graft streams — the EventStreamWriter surface
  * (client/.../stream/EventStreamWriter.java:75) through SQL and the
  * DataFrame API, closing the read/write asymmetry of the catalog tables:
  *
  *  - `INSERT INTO graft.scope.stream SELECT ...` / `df.writeTo(...)` /
  *    `df.write.format("graft-stream")` append through a V1Write
  *    fallback: the whole DataFrame reaches [[GraftStreams.writeEvents]]
  *    unmaterialized, so the batch path adds ZERO extra IO over the
  *    Scala API (routing, chunking, offset assignment, CAS commit and
  *    footer stats are all the engine's own write path).
  *  - `INSERT OVERWRITE` / `TRUNCATE TABLE` map onto
  *    `truncateStream(tail)` — the head cut rises to the pre-write tail,
  *    exactly the reference's truncate(StreamCut) (Controller.java:237);
  *    data files become grace-period tombstones, never sync deletes.
  *  - `df.writeStream.format("graft-stream")` is a real StreamingWrite:
  *    executors stage raw (routingKey, eventTime, payload) parquet,
  *    driver-side `commit(epochId)` routes the staged batch through
  *    `writeEvents(writerId = queryId, batchId = epochId)` — Spark's
  *    at-least-once epoch redelivery collapses to exactly-once on the
  *    engine's writer-id dedup (AppendProcessor.java:179-387), the same
  *    key the foreachBatch helper uses. One staging pass is the price of
  *    the declarative surface; the zero-copy path remains
  *    [[GraftStreamSink.writer]].
  *
  * Write schema: the table accepts either the natural write shape
  * `(routingKey string, eventTime long, payload binary)` or the full
  * 6-column event schema (engine-assigned `segmentId`/`offset`/
  * `processingTime` are ignored — they are outputs of the write, not
  * inputs). Resolution is by name first (case-insensitive), then by
  * position; anything else fails with the expected shapes spelled out.
  */
object GraftWriteMapping {
  /** (routingKey ordinal, eventTime ordinal, payload ordinal). */
  def resolve(schema: StructType): (Int, Int, Int) = {
    def isIntegral(i: Int) = schema(i).dataType match {
      case LongType | IntegerType | ShortType => true
      case _ => false
    }
    def ok(rk: Int, et: Int, pay: Int): Boolean =
      schema(rk).dataType == StringType && isIntegral(et) &&
        schema(pay).dataType == BinaryType
    val byName = {
      def find(n: String) = schema.fieldNames.indexWhere(_.equalsIgnoreCase(n))
      (find("routingKey"), find("eventTime"), find("payload"))
    }
    byName match {
      case (rk, et, pay) if rk >= 0 && et >= 0 && pay >= 0 && ok(rk, et, pay) =>
        (rk, et, pay)
      case _ if schema.size == 3 && ok(0, 1, 2) => (0, 1, 2)
      case _ if schema.size == 6 && ok(2, 3, 5) => (2, 3, 5)
      case _ => throw new IllegalArgumentException(
        "graft-stream write requires (routingKey string, eventTime long, " +
          "payload binary) — by name, or positionally as those 3 columns, " +
          s"or the full 6-column event schema; got ${schema.simpleString}")
    }
  }

  /** The canonical write shape; the sink's staged files keep it. */
  val writeSchema: StructType = new StructType()
    .add("routingKey", StringType, nullable = false)
    .add("eventTime", LongType, nullable = false)
    .add("payload", BinaryType, nullable = false)

  /** Project a DataFrame onto the canonical write shape. */
  def project(df: DataFrame): DataFrame = {
    val (rk, et, pay) = resolve(df.schema)
    val n = df.schema.fieldNames
    df.select(col(n(rk)).as("routingKey"), col(n(et)).cast("long").as("eventTime"),
      col(n(pay)).as("payload"))
  }
}

final class GraftWriteBuilder(conf: GraftSourceConfig, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  require(conf.subs.size == 1,
    s"graft-stream write targets exactly one stream, got ${conf.describe}")
  require(!conf.timeTravel,
    "cannot write to a time-travel (asOfVersion) table — historical manifests are immutable")
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = {
    // validate the shape at plan time, not first-row time
    GraftWriteMapping.resolve(info.schema())
    new GraftWrite(conf, info.queryId(), info.schema(), truncateFirst,
      autoNoteTime = !"false".equalsIgnoreCase(info.options().getOrDefault("autoNoteTime", "true")))
  }
}

final class GraftWrite(conf: GraftSourceConfig, queryId: String,
    schema: StructType, truncateFirst: Boolean, autoNoteTime: Boolean)
    extends Write with V1Write {
  private val sub = conf.subs.head

  override def toInsertableRelation: InsertableRelation = new InsertableRelation {
    override def insert(data: DataFrame, overwrite: Boolean): Unit = {
      val g = new GraftStreams(data.sparkSession, conf.rootDir)
      if (truncateFirst || overwrite) {
        val tail = g.catalog.getStream(sub.scope, sub.stream).tailCut
        g.catalog.truncateStream(sub.scope, sub.stream, tail)
      }
      g.writeEventsWithRetry(sub.scope, sub.stream, GraftWriteMapping.project(data))
    }
  }

  override def toStreaming: StreamingWrite = {
    if (truncateFirst) throw new UnsupportedOperationException(
      "graft streams are append-only logs: use OutputMode.Append " +
        "(Complete/truncate has no stream analog)")
    new GraftStreamingWrite(conf, queryId, schema, autoNoteTime)
  }
}

/** Marker + payload of one committed staging task. */
final case class GraftStagedFiles(paths: Seq[String], rows: Long)
    extends WriterCommitMessage

final class GraftStreamingWrite(conf: GraftSourceConfig, queryId: String,
    schema: StructType, autoNoteTime: Boolean) extends StreamingWrite {
  private val sub = conf.subs.head
  private def spark = SparkSession.active
  // one engine (and so one warm catalog) for the query's epoch commits
  private val g = new GraftStreams(spark, conf.rootDir)
  // staging lives beside the stream's data dir so it inherits the same
  // filesystem/permissions; per-query so concurrent sinks never collide
  private val stagingRoot =
    new Path(g.catalog.dataDir(sub.scope, sub.stream), s"sinkstage-$queryId")
  private def epochDir(epochId: Long) = new Path(stagingRoot, s"epoch-$epochId")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val (rk, et, pay) = GraftWriteMapping.resolve(schema)
    val etIsLong = schema(et).dataType == LongType
    new GraftStagingWriterFactory(stagingRoot.toString,
      TaskFileWriter.rowFiles(spark, GraftWriteMapping.writeSchema),
      rk, et, pay, etIsLong)
  }

  /** Reads back exactly the files the committed tasks reported (retried /
    * speculative task leftovers in the epoch dir are never read), routes
    * them through the engine write path keyed (queryId, epochId), then
    * drops the epoch's staging dir. A redelivered epoch stages fresh
    * files, hits the writer-batch dedup inside writeEvents (no-op), and
    * still cleans its staging up.
    */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect { case m: GraftStagedFiles => m.paths }.flatten
    if (files.nonEmpty) {
      val staged = spark.read.schema(GraftWriteMapping.writeSchema)
        .parquet(files.toSeq: _*)
      g.writeEventsWithRetry(sub.scope, sub.stream, staged,
        writerId = Some(s"sink-$queryId"), batchId = Some(epochId),
        noteTimeFromBatch = autoNoteTime)
    }
    // crash here = engine write landed but Spark never saw the commit:
    // the epoch is REDELIVERED on restart and must collapse to a no-op
    // via the (writerId=sink-query, batchId=epoch) dedup inside
    // writeEvents — the at-least-once → exactly-once seam
    graft.storage.GraftStreams.kp("sink.committed")
    val fs = stagingRoot.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(epochDir(epochId), true)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = stagingRoot.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(epochDir(epochId), true)
  }
}

final class GraftStagingWriterFactory(stagingRoot: String,
    files: TaskFileWriter.RowFiles, rkOrd: Int, etOrd: Int, payOrd: Int,
    etIsLong: Boolean) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GraftStagingWriter(files(s"$stagingRoot/epoch-$epochId", f"part-$partitionId%05d-$taskId"),
      rkOrd, etOrd, payOrd, etIsLong)
}

/** Executor-side staging writer: raw (routingKey, eventTime, payload)
  * parquet through the engine's one file writer
  * ([[graft.storage.TaskFileWriter.RowFile]]). Files are task-unique;
  * only files named in the task's commit message are ever read back.
  */
final class GraftStagingWriter(file: TaskFileWriter.RowFile,
    rkOrd: Int, etOrd: Int, payOrd: Int, etIsLong: Boolean)
    extends DataWriter[InternalRow] {
  // opened on first row: an all-filtered partition stages no file at all
  private val out = new GenericInternalRow(3)
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    if (row.isNullAt(rkOrd) || row.isNullAt(etOrd) || row.isNullAt(payOrd))
      throw new IllegalArgumentException(
        "graft-stream sink: routingKey, eventTime and payload must be non-null")
    out.update(0, row.getUTF8String(rkOrd))
    out.setLong(1, if (etIsLong) row.getLong(etOrd) else row.getInt(etOrd).toLong)
    out.update(2, row.getBinary(payOrd))
    file.write(out)
    rows += 1
  }

  override def commit(): WriterCommitMessage = GraftStagedFiles(file.commit().toSeq, rows)

  override def abort(): Unit = file.abort()

  override def close(): Unit = ()
}
