package graft.sources

import graft.SparkTestSession
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.graftshim.ParquetShim
import org.apache.spark.sql.sources.EqualTo
import org.scalatest.funsuite.AnyFunSuite

/** Parquet reader setup is primed once per (schemas, session Hadoop conf
  * contents) and shared: reads with nothing changed share one broadcast
  * conf, and a change to a session SQL conf or to the context's Hadoop
  * conf primes a new one that carries it.
  */
class SharedReaderSetupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def factory(filters: EqualTo*) =
    ParquetShim.parquetReaderFactory(spark, GraftKvTable.schema, new org.apache.spark.sql.types.StructType(),
      GraftKvTable.schema, filters.toArray).asInstanceOf[ParquetPartitionReaderFactory]

  test("two reads with nothing changed share one primed conf; filters stay per read") {
    val a = factory(EqualTo("pk", "a"))
    val b = factory(EqualTo("pk", "b"))
    assert(a.broadcastedConf eq b.broadcastedConf)
    assert(a.filters.toSeq == Seq(EqualTo("pk", "a")) && b.filters.toSeq == Seq(EqualTo("pk", "b")))
  }

  test("a session conf set between two reads primes a new conf that carries it") {
    // a parquet SQL conf (set to its default: still a change to the
    // conf's contents) and a Hadoop key set through the session
    for (key <- Seq("spark.sql.parquet.recordLevelFilter.enabled", "fs.graft.probe")) {
      val before = factory()
      spark.conf.set(key, "false")
      try {
        val after = factory()
        assert(!(after.broadcastedConf eq before.broadcastedConf), key)
        assert(after.broadcastedConf.value.value.get(key) == "false", key)
        assert(before.broadcastedConf.value.value.get(key) == null, key)
        assert(factory().broadcastedConf eq after.broadcastedConf, key)
      } finally spark.conf.unset(key)
      assert(factory().broadcastedConf eq before.broadcastedConf, s"$key unset")
    }
  }

  test("a change to the context's Hadoop conf primes a new conf that carries it") {
    val hc = spark.sparkContext.hadoopConfiguration
    val before = factory()
    hc.set("graft.probe.hadoop", "on")
    try {
      val after = factory()
      assert(!(after.broadcastedConf eq before.broadcastedConf))
      assert(after.broadcastedConf.value.value.get("graft.probe.hadoop") == "on")
    } finally hc.unset("graft.probe.hadoop")
  }
}
