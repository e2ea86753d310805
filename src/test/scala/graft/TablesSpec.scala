package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.graftshim.ParquetShim
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.time.{LocalDateTime, ZoneOffset}

/** `Tables.load` resolves each table's schema from its footer on the
  * driver: the schema `spark.read.parquet` infers, without its one-task
  * inference job.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.01"
  private val names = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  test("every sf0.01 table: the footer schema is spark.read.parquet's; loads start no job") {
    Tables.configure(spark)
    for (n <- names) {
      val path = s"$sf/$n.parquet"
      assert(ParquetShim.parquetSchema(spark, new Path(path)) == Some(spark.read.parquet(path).schema), n)
    }
    val (loaded, jobs) = SparkJobs.during(spark)(names.map(n => n -> Tables.load(spark, sf, n)))
    assert(jobs == 0L, s"$jobs jobs for ${names.size} loads")
    for ((n, df) <- loaded if n != "events")
      assert(df.schema == spark.read.parquet(s"$sf/$n.parquet").schema, n)
    assert(loaded.toMap.apply("events").schema("ts").dataType == TimestampNTZType)
    assert(loaded.toMap.apply("region").count() == spark.read.parquet(s"$sf/region.parquet").count())
  }

  test("legacy TIMESTAMP(NANOS) events: spark.read.parquet's schema (long nanos), loaded as NTZ") {
    val dir = Files.createTempDirectory("graft-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val nanos = Seq(1700000000123456000L, 1700000060000001000L)
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(dir, "events.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally w.close()

    Tables.configure(spark)
    val path = s"$dir/events.parquet"
    val footer = ParquetShim.parquetSchema(spark, new Path(path)).get
    assert(footer == spark.read.parquet(path).schema)
    assert(footer("ts").dataType == LongType)
    val (df, jobs) = SparkJobs.during(spark)(Tables.load(spark, dir, "events"))
    assert(jobs == 0L)
    assert(df.schema("ts").dataType == TimestampNTZType)
    val got = df.orderBy("event_id").collect().map(_.getAs[LocalDateTime]("ts")).toSeq
    assert(got == nanos.map(ns => LocalDateTime.ofEpochSecond(ns / 1000000000L,
      ((ns % 1000000000L) / 1000L * 1000L).toInt, ZoneOffset.UTC)))
  }

  test("a Spark-written table directory reads the schema Spark picks; a partitioned one falls back") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tabledir").toString
    val rows = (0 until 40).map(i => (i.toLong, s"d$i", i % 3))
    rows.toDF("doc_id", "text", "k").repartition(3).write.parquet(s"$dir/documents.parquet")
    val path = s"$dir/documents.parquet"
    assert(ParquetShim.parquetSchema(spark, new Path(path)) == Some(spark.read.parquet(path).schema))
    val (df, jobs) = SparkJobs.during(spark)(Tables.load(spark, dir, "documents"))
    assert(jobs == 0L)
    assert(df.as[(Long, String, Int)].collect().sorted.toSeq == rows)

    rows.toDF("doc_id", "text", "k").write.partitionBy("k").parquet(s"$dir/part.parquet")
    assert(ParquetShim.parquetSchema(spark, new Path(s"$dir/part.parquet")).isEmpty)
    assert(Tables.load(spark, dir, "part").schema == spark.read.parquet(s"$dir/part.parquet").schema)
  }
}
