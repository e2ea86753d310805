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

/** The one task-side file writer under every store: stream appends, txn
  * staging and merge, stream compaction and redaction, KV deltas and KV
  * compaction. It runs a plan whose rows each task sees sorted by the
  * layout's file key, opens one parquet file per key, and returns the
  * files' entries in the task result. There is no output commit protocol:
  * only files a successful task reported can enter the store's manifest
  * CAS, which is the only commit (the file sink of Structured Streaming
  * has the same shape: files written in tasks, one log entry commits
  * them). Per-call values (stream offsets and stamps, the KV commit
  * version) are task data the layout sets in place, never plan literals,
  * so a plan of one shape compiles once.
  */
object TaskFileWriter {

  /** How a store lays its rows out in files: built on the driver, run in
    * the tasks.
    */
  trait Layout[E] extends Serializable {
    /** The plan's row schema, which the files keep. */
    def schema: StructType
    /** The file a row belongs to; a task's rows arrive sorted by it. */
    def fileKey(row: InternalRow): Long
    /** The file's path under the write's directory, without extension. */
    def fileName(key: Long, tc: TaskContext): String
    /** The state of one new file for `key`. */
    def newFile(key: Long): FileRows[E]
  }

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
    try ParquetWriteShim.withExecution(plan, name)(_.mapPartitions(run).collect().toSeq)
    catch {
      case NonFatal(e) =>
        dir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dir, true)
        throw new GraftException(s"$name failed, staging dropped: ${e.getMessage}", e)
    }
  }

  /** The function each task of [[write]] runs. It holds the shared
    * parquet writers, whose primed conf is a broadcast, so the task
    * closure stays small.
    */
  private[storage] def task[E](spark: SparkSession, dir: Path,
                               layout: Layout[E]): Iterator[InternalRow] => Iterator[E] = {
    val writers = ParquetWriteShim.parquetWriters(spark, layout.schema)
    val out = dir.toString
    rows => writeTask(rows, out, writers, layout)
  }

  private[storage] def stripScheme(p: String): String =
    if (p.startsWith("file:")) new Path(p).toUri.getPath else p

  /** Task side of [[write]]: one file per run of equal file keys, reported
    * with its length and rows, and the task's output metrics set as
    * Spark's file sink sets them.
    */
  private def writeTask[E](rows: Iterator[InternalRow], dir: String, writers: ParquetWriteShim.Writers,
                           layout: Layout[E]): Iterator[E] = {
    val tc = TaskContext.get()
    val conf = writers.hadoopConf
    val entries = mutable.ArrayBuffer.empty[E]
    val opened = mutable.ArrayBuffer.empty[Path]
    tc.addTaskFailureListener { (_, _) =>
      opened.foreach(p => try p.getFileSystem(conf).delete(p, false) catch { case NonFatal(_) => })
    }
    var w: OutputWriter = null
    var file: FileRows[E] = null
    var key, n, records, bytes = 0L
    def closeFile(): Unit = {
      w.close()
      val p = new Path(w.path())
      val len = p.getFileSystem(conf).getFileStatus(p).getLen
      entries += file.entry(stripScheme(p.toString), n, len)
      records += n; bytes += len
      w = null
    }
    rows.foreach { r =>
      val k = layout.fileKey(r)
      if (w != null && k != key) closeFile()
      if (w == null) {
        key = k; n = 0L; file = layout.newFile(k)
        w = writers.open(dir, layout.fileName(k, tc))
        opened += new Path(w.path())
      }
      w.write(file.add(r, n))
      n += 1
    }
    if (w != null) closeFile()
    ParquetWriteShim.reportOutput(bytes, records)
    entries.iterator
  }
}
