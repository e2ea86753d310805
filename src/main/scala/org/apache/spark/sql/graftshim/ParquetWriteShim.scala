package org.apache.spark.sql.graftshim

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Write-side counterpart of [[ParquetShim]]: what a task-side writer
  * needs from Spark's file sink without its commit protocol (the manifest
  * CAS is the commit). The execution wrapper and the output-metric
  * setters are `private[spark]`.
  */
object ParquetWriteShim {

  /** Run `body` over `df`'s plan as one SQL execution named `name`, seen
    * by `QueryExecutionListener`s and the SQL UI like any action.
    */
  def withExecution[T](df: DataFrame, name: String)(body: RDD[InternalRow] => T): T = {
    val qe = df.asInstanceOf[ClassicDataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(body(qe.toRdd))
  }

  /** Serializable parquet writers for rows of `schema`, conf-primed by
    * `ParquetFileFormat.prepareWrite` (session codec and options).
    */
  final class Writers(factory: OutputWriterFactory, val conf: SerializableConfiguration,
                      schema: StructType) extends Serializable {
    /** Open `dir/name<ext>` (ext = codec + `.parquet`) for the running task. */
    def open(dir: String, name: String): OutputWriter = {
      val tc = TaskContext.get()
      val ctx = new TaskAttemptContextImpl(conf.value,
        new TaskAttemptID("graft", tc.stageId(), TaskType.MAP, tc.partitionId(), tc.attemptNumber()))
      factory.newInstance(s"$dir/$name${factory.getFileExtension(ctx)}", schema, ctx)
    }
  }

  /** Every column is written nullable, as Spark's own file sink does. */
  def parquetWriters(spark: SparkSession, schema: StructType): Writers = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val fileSchema = schema.asNullable
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, fileSchema)
    new Writers(factory, new SerializableConfiguration(job.getConfiguration), fileSchema)
  }

  /** Set the running task's output metrics, as Spark's file sink does. */
  def reportOutput(bytes: Long, records: Long): Unit = {
    val m = TaskContext.get().taskMetrics().outputMetrics
    m.setBytesWritten(bytes)
    m.setRecordsWritten(records)
  }
}
