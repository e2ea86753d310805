package graft.storage

import graft.core.GraftException
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.graftshim.ParquetWriteShim
import org.apache.spark.sql.types.StructType

import scala.collection.mutable
import scala.reflect.ClassTag
import scala.util.control.NonFatal

/** The one file writer under every store: stream appends, txn staging
  * and merge, stream compaction and redaction, KV deltas and KV
  * compaction, and the streaming sink's staging files. One file loop
  * takes rows sorted by the layout's file key, opens one parquet file per
  * key, and returns the files' entries. It runs in the tasks of a Spark
  * job ([[write]]) or, for rows already on the driver, on the calling
  * thread with no job ([[writeHere]]). There is no output commit
  * protocol: only files a successful write reported can enter the store's
  * manifest CAS, which is the only commit (the file sink of Structured
  * Streaming has the same shape: files written in tasks, one log entry
  * commits them). Per-call values (stream offsets and stamps, the KV
  * commit version) are row data the layout sets in place, never plan
  * literals, so a plan of one shape compiles once.
  */
object TaskFileWriter {

  /** How a store lays its rows out in files: built on the driver, run in
    * the tasks or on the calling thread.
    */
  trait Layout[E] extends Serializable {
    /** The plan's row schema, which the files keep. */
    def schema: StructType
    /** The file a row belongs to; a task's rows arrive sorted by it. */
    def fileKey(row: InternalRow): Long
    /** The file's path under the write's directory, without extension. */
    def fileName(key: Long, token: Token): String
    /** The state of one new file for `key`. */
    def newFile(key: Long): FileRows[E]
  }

  /** Who writes a file loop's files, for their names: a task's partition
    * and attempt id, or the calling thread ([[Driver]]).
    */
  final case class Token(partition: Int, attempt: String)
  val Driver: Token = Token(0, "driver")

  /** One open file: `add` takes the file's `i`-th row and returns the row
    * to write (per-call values set in place); `entry` describes the
    * closed file.
    */
  trait FileRows[E] {
    def add(row: InternalRow, i: Long): InternalRow
    def entry(path: String, rows: Long, bytes: Long): E
  }

  /** Run `plan` as one SQL execution named `name`, each task writing its
    * files under `dir`, and return their entries. A failed task deletes
    * its own files; a failed job drops `dir` and throws.
    */
  def write[E: ClassTag](spark: SparkSession, name: String, plan: DataFrame, dir: Path,
                         layout: Layout[E]): Seq[E] = {
    require(plan.schema.map(_.dataType) == layout.schema.map(_.dataType),
      s"$name: plan must produce ${layout.schema.simpleString}, got ${plan.schema.simpleString}")
    val run = task(spark, dir, layout)
    dropOnFailure(spark, name, dir)(
      ParquetWriteShim.withExecution(plan, name)(_.mapPartitions(run).collect().toSeq))
  }

  /** [[write]] for rows already on the driver, sorted by file key: the
    * same file loop on the calling thread, with no Spark job. `report`
    * hears the files, bytes and rows written. A failure drops `dir` and
    * throws.
    */
  def writeHere[E](spark: SparkSession, name: String, rows: Iterator[InternalRow], dir: Path,
                   layout: Layout[E])(report: (Int, Long, Long) => Unit): Seq[E] = {
    val writers = ParquetWriteShim.parquetWriters(spark, layout.schema)
    // the directory drop removes every file the loop opened
    dropOnFailure(spark, name, dir)(writeFiles(rows, dir.toString, writers, layout, Driver, _ => (), report))
  }

  private def dropOnFailure[T](spark: SparkSession, name: String, dir: Path)(body: => T): T =
    try body
    catch {
      case NonFatal(e) =>
        dir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dir, true)
        throw new GraftException(s"$name failed, staging dropped: ${e.getMessage}", e)
    }

  /** The function each task of [[write]] runs. It holds the shared
    * parquet writers, whose primed conf is a broadcast, so the task
    * closure stays small.
    */
  private[storage] def task[E](spark: SparkSession, dir: Path,
                               layout: Layout[E]): Iterator[InternalRow] => Iterator[E] = {
    val writers = ParquetWriteShim.parquetWriters(spark, layout.schema)
    val out = dir.toString
    rows => {
      val tc = TaskContext.get()
      writeFiles(rows, out, writers, layout, Token(tc.partitionId(), tc.taskAttemptId().toString),
        cleanup => tc.addTaskFailureListener((_, _) => cleanup()),
        (_, bytes, records) => ParquetWriteShim.reportOutput(bytes, records)).iterator
    }
  }

  private[storage] def stripScheme(p: String): String =
    if (p.startsWith("file:")) new Path(p).toUri.getPath else p

  /** The file loop: one file per run of equal file keys, each entry built
    * with its length and rows. `token` names the files, `onFailure`
    * registers the deletion of the opened files for a failure after the
    * loop, and `report` hears the totals, as Spark's file sink sets a
    * task's output metrics.
    */
  private def writeFiles[E](rows: Iterator[InternalRow], dir: String, writers: ParquetWriteShim.Writers,
                            layout: Layout[E], token: Token, onFailure: (() => Unit) => Unit,
                            report: (Int, Long, Long) => Unit): Seq[E] = {
    val conf = writers.hadoopConf
    val entries = mutable.ArrayBuffer.empty[E]
    val opened = mutable.ArrayBuffer.empty[Path]
    onFailure(() =>
      opened.foreach(p => try p.getFileSystem(conf).delete(p, false) catch { case NonFatal(_) => }))
    var w: OutputWriter = null
    var file: FileRows[E] = null
    var key, n, records, bytes = 0L
    def closeFile(): Unit = {
      w.close()
      val p = new Path(w.path())
      w = null
      val len = p.getFileSystem(conf).getFileStatus(p).getLen
      entries += file.entry(stripScheme(p.toString), n, len)
      records += n; bytes += len
    }
    try {
      rows.foreach { r =>
        val k = layout.fileKey(r)
        if (w != null && k != key) closeFile()
        if (w == null) {
          key = k; n = 0L; file = layout.newFile(k)
          w = writers.open(dir, layout.fileName(k, token))
          opened += new Path(w.path())
        }
        w.write(file.add(r, n))
        n += 1
      }
      if (w != null) closeFile()
    } catch {
      case NonFatal(e) =>
        if (w != null) try w.close() catch { case NonFatal(_) => }
        throw e
    }
    report(entries.size, bytes, records)
    entries.toSeq
  }

  /** Files that Spark's DSv2 write fills one row at a time, one per
    * writer (the streaming sink's staging files): built on the driver,
    * each file opened in its task on its first row.
    */
  final class RowFiles private[TaskFileWriter] (writers: ParquetWriteShim.Writers) extends Serializable {
    def apply(dir: String, name: String): RowFile = new RowFile(writers, dir, name)
  }

  def rowFiles(spark: SparkSession, schema: StructType): RowFiles =
    new RowFiles(ParquetWriteShim.parquetWriters(spark, schema))

  final class RowFile private[TaskFileWriter] (writers: ParquetWriteShim.Writers, dir: String, name: String) {
    private var w: OutputWriter = _
    def write(row: InternalRow): Unit = {
      if (w == null) w = writers.open(dir, name)
      w.write(row)
    }
    /** Close the file: its path, or None when no row came. */
    def commit(): Option[String] = Option(w).map { w => w.close(); w.path() }
    /** Close and delete the file, quietly. */
    def abort(): Unit = if (w != null) {
      try w.close() catch { case NonFatal(_) => }
      val p = new Path(w.path())
      try p.getFileSystem(writers.hadoopConf).delete(p, false) catch { case NonFatal(_) => }
    }
  }
}
