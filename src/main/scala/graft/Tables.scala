package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.ParquetShim
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  * One parquet file per table under the given scale-factor dir.
  */
object Tables {
  /** Older driver-generated events.parquet carried TIMESTAMP(NANOS), which
    * Spark's parquet reader rejects — nanosAsLong reads those as long nanos
    * and `load` converts. Newer generations write TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), which Spark reads natively as TIMESTAMP_NTZ.
    * Both layouts normalise to the same TIMESTAMP_NTZ column (session TZ is
    * UTC and the data has no sub-microsecond components, so the ns→us cast
    * matches DuckDB's exactly).
    */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  /** The table as `spark.read.parquet` reads it, with the schema resolved
    * from the footer on the driver: Spark's own inference would run a
    * one-task job per load.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    configure(spark)
    val path = s"$dir/$name.parquet"
    val df = ParquetShim.parquetSchema(spark, new Path(path))
      .fold(spark.read)(spark.read.schema).parquet(path)
    if (name == "events") {
      import org.apache.spark.sql.types.{LongType, TimestampType}
      df.schema("ts").dataType match {
        case LongType => // legacy TIMESTAMP(NANOS) surfaced as long nanos
          df.withColumn("ts", expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"))
        case TimestampType => // micros adjusted-to-UTC → same instant, NTZ
          df.withColumn("ts", expr("CAST(ts AS TIMESTAMP_NTZ)"))
        case _ => df // TIMESTAMP(MICROS, ntz) reads natively as TIMESTAMP_NTZ
      }
    } else df
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
