package graft.storage

import graft.SparkTestSession
import graft.core._
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The task-side segment writer shared by every stream write site: its
  * plans compile once per epoch, it commits only what successful tasks
  * reported, it fails loudly with the cause, and it stays visible to
  * Spark's listeners (one named SQL execution, task output metrics).
  */
class SegmentWriterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fresh(): GraftStreams = {
    val g = new GraftStreams(spark, Files.createTempDirectory("graft-writer").toString)
    g.catalog.createScope("s")
    g.catalog.createStream("s", "ev", StreamConfig(initialSegments = 2))
    g
  }

  private val schema = new StructType()
    .add("routingKey", StringType).add("eventTime", LongType).add("payload", BinaryType)

  /** `n` events with ids from `from`, as a driver-side batch like a
    * producer's: new data on every call, the same plan shape.
    */
  private def batch(from: Long, n: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize((from until from + n).map(id =>
      Row(s"k${id % 13}", id, id.toString.getBytes("UTF-8"))), 1), schema)

  private def readIds(g: GraftStreams): Seq[Long] =
    g.readEvents("s", "ev").select(decode($"payload", "UTF-8").cast("long"))
      .as[Long].collect().toSeq.sorted

  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(cond, what)
  }

  test("repeat appends and txns on one epoch compile no new code") {
    val g = fresh()
    var next = 0L
    def append(): Unit = { g.writeEvents("s", "ev", batch(next, 400)); next += 400 }
    def txn(): Unit = {
      val id = g.beginTxn("s", "ev")
      (0 until 3).foreach { _ => g.writeToTxn("s", "ev", id, batch(next, 200)); next += 200 }
      g.commitTxn("s", "ev", id)
    }
    append(); txn() // warm-up: the first call of each shape compiles its plan
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    (0 until 5).foreach { _ => append(); txn() }
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled === 0L, "a per-call literal is back in a write plan")
    assert(readIds(g) === (0L until next))
  }

  test("commitTxn merges only the files its writeToTxn calls recorded") {
    val g = fresh()
    g.writeEvents("s", "ev", batch(0, 300))
    val txn = g.beginTxn("s", "ev")
    g.writeToTxn("s", "ev", txn, batch(300, 400))
    g.writeToTxn("s", "ev", txn, batch(700, 300))
    // a stray complete file in the staging dir — a lost task attempt's
    // output or a copy — must not be merged
    val staging = g.catalog.txnDir("s", "ev", txn)
    val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(staging, true)
    val staged = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
    assert(staged.nonEmpty)
    val src = staged.head
    assert(FileUtil.copy(fs, src, fs, new Path(src.getParent, "part-copy.snappy.parquet"),
      false, spark.sessionState.newHadoopConf()))
    assert(FileUtil.copy(fs, src, fs, new Path(staging, "stray.snappy.parquet"),
      false, spark.sessionState.newHadoopConf()))
    g.commitTxn("s", "ev", txn)
    val ids = readIds(g)
    assert(ids.size === 1000, "every event committed exactly once")
    assert(ids === (0L until 1000L))
    val meta = g.catalog.getStream("s", "ev")
    assert(meta.segments.map(_.tailOffset).sum === 1000L)
  }

  test("a failing write surfaces a GraftException with its cause and drops its batch dir") {
    val g = fresh()
    g.writeEvents("s", "ev", batch(0, 100))
    val boom = udf((k: String) => {
      if (k == "k3") throw new IllegalStateException("boom in udf")
      k
    })
    val e = intercept[GraftException](
      g.writeEvents("s", "ev", batch(100, 100).withColumn("routingKey", boom($"routingKey"))))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => t.isInstanceOf[IllegalStateException] &&
      t.getMessage.contains("boom in udf")), s"cause chain: ${chain.map(_.getClass.getName)}")
    val dataDir = g.catalog.dataDir("s", "ev")
    val fs = dataDir.getFileSystem(spark.sessionState.newHadoopConf())
    val referenced = g.catalog.getStream("s", "ev").files
      .map(f => new Path(f.path).getParent.getParent.getName).toSet
    val batches = fs.listStatus(dataDir).map(_.getPath.getName).filter(_.startsWith("batch-")).toSet
    assert(batches === referenced, "the failed write's batch dir is gone")
    assert(readIds(g) === (0L until 100L))
  }

  test("a write is one named SQL execution and reports task output metrics") {
    val g = fresh()
    val names = new ConcurrentLinkedQueue[String]()
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.tracker.phases.nonEmpty) names.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val bytes, records = new AtomicLong()
    val taskListener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        bytes.addAndGet(m.outputMetrics.bytesWritten)
        records.addAndGet(m.outputMetrics.recordsWritten)
      }
    }
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(taskListener)
    try {
      g.writeEvents("s", "ev", batch(0, 500))
      val files = g.catalog.getStream("s", "ev").files
      eventually("the write reached the execution listener")(names.asScala.toSeq.contains("graft.writeEvents"))
      eventually(s"output metrics: $records rows, $bytes bytes") {
        records.get == 500L && bytes.get == files.map(_.byteSize).sum
      }
      assert(files.forall(_.byteSize > 0))
    } finally {
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(taskListener)
    }
  }
}
