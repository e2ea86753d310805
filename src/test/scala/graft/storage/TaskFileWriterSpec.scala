package graft.storage

import graft.SparkTestSession
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** One file per task, named by the task's partition. */
final class OneFileLayout extends TaskFileWriter.Layout[String] {
  def schema: StructType = StructType.fromDDL("id BIGINT")
  def fileKey(row: InternalRow): Long = 0L
  def fileName(key: Long, token: TaskFileWriter.Token): String = s"part-${token.partition}"
  def newFile(key: Long): TaskFileWriter.FileRows[String] = new TaskFileWriter.FileRows[String] {
    def add(row: InternalRow, i: Long): InternalRow = row
    def entry(path: String, rows: Long, bytes: Long): String = path
  }
}

/** The task closure of a [[TaskFileWriter]] job is what Spark serializes
  * twice per write (the closure check and the task binary). Its primed
  * Hadoop conf rides a shared broadcast, so the closure stays a few KB.
  */
class TaskFileWriterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def closureBytes(dir: Path): Int = {
    val task = TaskFileWriter.task(spark, dir, new OneFileLayout)
    SparkEnv.get.closureSerializer.newInstance().serialize(task).limit()
  }

  test("a write task's serialized closure carries no Hadoop conf") {
    val dir = new Path(Files.createTempDirectory("graft-taskwriter").toString, "out")
    val bytes = closureBytes(dir)
    // the conf a task used to carry alone serializes to tens of KB
    val conf = SparkEnv.get.closureSerializer.newInstance()
      .serialize(new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())).limit()
    assert(bytes < 4096 && conf > 10 * bytes, s"closure $bytes bytes, conf $conf bytes")
    assert(closureBytes(dir) == bytes)
    import spark.implicits._
    val files = TaskFileWriter.write(spark, "graft.test", spark.range(10).toDF("id").coalesce(1),
      dir, new OneFileLayout)
    assert(files.size == 1 && spark.read.parquet(files.head).as[Long].collect().sorted.toSeq == (0L until 10L))
  }
}
