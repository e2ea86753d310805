package graft.kv

import graft.SparkTestSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The KV write plan compiles once per table: the commit version is
  * task data, not a literal in generated code, so repeat puts of one
  * input shape reuse the classes of the first.
  */
class KvCodegenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("repeat puts of a distributed input compile no new code") {
    val root = Files.createTempDirectory("graft-kvcodegen").toString
    val t = new KeyValueTable(spark, root, "t", 4)
    // one parquet batch per put, all written before counting starts
    val inputs = (0 until 6).map { b =>
      val dir = s"$root/in-$b"
      (0 until 50).map(i => (f"k$b-$i%03d", s"v$b-$i")).toDF("pk", "v")
        .select($"pk", lit("").as("sk"), encode($"v", "UTF-8").as("value"))
        .repartition(2).write.parquet(dir)
      dir
    }
    def put(b: Int): Long = t.put(spark.read.parquet(inputs(b)))
    put(0) // warm-up: the first put compiles the plan
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val versions = (1 until 6).map(put)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled === 0L, "a per-call literal is back in the KV write plan")
    assert(t.entries().count() === 300L)
    assert(t.get("k4-007").map(p => (new String(p._1), p._2)) === Some(("v4-7", versions(3))))
  }
}
