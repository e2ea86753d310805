package graft.kv

import graft.SparkTestSession
import graft.sources.GraftKvTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.collection.mutable

/** The write-layout invariant the co-located KV scan rests on: a row
  * for key pk lives in `part-NNNNN` with NNNNN =
  * `partIndexOfBucket(bucketOf(pk))`, in every delta and base directory, after
  * any mix of puts, removes and compaction. Part-index pruning and the
  * per-partition fold are only sound while this holds, so the spec checks
  * the files themselves, then checks `get` of every key against a
  * driver-side model.
  */
class KvLayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def kv(pairs: Seq[(String, String)]): DataFrame =
    pairs.toDF("pk", "v").select($"pk", lit("").as("sk"), encode($"v", "UTF-8").as("value"))

  private def key(i: Int) = f"k$i%02d"

  for (n <- Seq(1, 3, 8, 16))
    test(s"partitionCount=$n: every stored row sits at its key's part index; get matches a model") {
      val t = new KeyValueTable(spark,
        Files.createTempDirectory("graft-kvlayout").toString, "t", n)
      val model = mutable.Map.empty[String, (String, Long)]
      def put(is: Seq[Int], tag: String): Unit = {
        val pairs = is.map(i => key(i) -> s"$tag$i")
        val v = t.put(kv(pairs))
        pairs.foreach { case (k, x) => model(k) = (x, v) }
      }
      def remove(is: Seq[Int]): Unit = {
        t.remove(is.map(i => (key(i), "")).toDF("pk", "sk"))
        model --= is.map(key)
      }
      put(0 until 40, "a")
      put(0 until 40 by 3, "b")
      put(Seq(1, 2, 41), "c")
      remove(0 until 40 by 7)
      t.compact()
      put((0 until 40 by 5) :+ 42, "d") // re-puts some removed keys
      remove(Seq(3, 41))

      val rows = spark.read.parquet(t.liveFilePaths: _*)
        .select(input_file_name(), $"bucket", $"pk").collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val (file, bucket, pk) = (new Path(r.getString(0)).getName, r.getLong(1), r.getString(2))
        assert(bucket == KeyValueTable.bucketOf(pk, n), s"$pk stored in bucket $bucket")
        assert(GraftKvTable.partIndexOf(file) == KeyValueTable.partIndexOfBucket(bucket, n),
          s"$pk (bucket $bucket) stored in $file")
      }

      // present, removed and never-written keys all read as the model says
      for (k <- (0 until 43).map(key) ++ Seq("never", "k99"))
        assert(t.get(k).map(p => (new String(p._1), p._2)) == model.get(k), s"get($k)")
    }
}
