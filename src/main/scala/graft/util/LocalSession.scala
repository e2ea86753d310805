package graft.util

import org.apache.spark.sql.SparkSession

/** The one place a main builds its Spark session, so the mains cannot
  * drift apart in conf: `local[n]` with `n` from `SPARK_GRAFT_CPUS` (else
  * the main's own default), shuffle partitions = `n` unless the main sizes
  * them for a larger input, UTC session time, AQE on, legacy nanosecond
  * parquet timestamps read as long (see `graft.Tables.configure`), the UI
  * off and the log level at WARN.
  */
object LocalSession {
  def apply(defaultCpus: Int, shufflePartitions: Option[Int] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.fold(cpus)(_.toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
