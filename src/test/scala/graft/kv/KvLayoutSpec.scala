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

  /** Every live directory holds at most one file per part index, only
    * for the indices its rows touch, and every row sits in the file of
    * its key's part index.
    */
  private def checkFiles(t: KeyValueTable, n: Int): Unit = {
    val fs = new Path(t.tableDirPath).getFileSystem(spark.sessionState.newHadoopConf())
    for (dir <- t.liveFilePaths) {
      val idx = fs.listStatus(new Path(dir)).map(s => GraftKvTable.partIndexOf(s.getPath.getName))
        .filter(_ >= 0).toSeq
      assert(idx.distinct.size == idx.size, s"$dir has several files at one part index: ${idx.sorted}")
      val rows = spark.read.parquet(dir).select(input_file_name(), $"bucket", $"pk").collect()
      rows.foreach { r =>
        val (file, bucket, pk) = (new Path(r.getString(0)).getName, r.getLong(1), r.getString(2))
        assert(bucket == KeyValueTable.bucketOf(pk, n), s"$pk stored in bucket $bucket")
        assert(GraftKvTable.partIndexOf(file) == KeyValueTable.partIndexOfBucket(bucket, n),
          s"$pk (bucket $bucket) stored in $file")
      }
      assert(idx.toSet == rows.map(r => KeyValueTable.partIndexOfBucket(r.getLong(1), n)).toSet,
        s"$dir: files at part indices its rows do not touch")
    }
  }

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

      checkFiles(t, n)
      // present, removed and never-written keys all read as the model says
      for (k <- (0 until 43).map(key) ++ Seq("never", "k99"))
        assert(t.get(k).map(p => (new String(p._1), p._2)) == model.get(k), s"get($k)")
    }

  /** Puts `pairs` as one batch and checks the files and every key's `get`. */
  private def bulkPut(n: Int, input: DataFrame, pairs: Seq[(String, String)]): Unit = {
    val t = new KeyValueTable(spark,
      Files.createTempDirectory("graft-kvlayout").toString, "t", n)
    val v0 = t.put(kv(Seq("a" -> "0")))
    val v = t.put(input)
    assert(t.liveFilePaths.size == 2)
    checkFiles(t, n)
    assert(t.get("a").map(p => (new String(p._1), p._2)) == Some(("0", v0)))
    for ((k, x) <- pairs)
      assert(t.get(k).map(p => (new String(p._1), p._2)) == Some((x, v)), s"get($k)")
  }

  test("a 1000-key driver-local put: one file per touched part index; get matches") {
    val pairs = (0 until 1000).map(i => f"b$i%04d" -> s"v$i")
    bulkPut(16, kv(pairs), pairs)
  }

  test("a put from a 7-partition DataFrame: one file per touched part index; get matches") {
    val pairs = (0 until 300).map(i => f"d$i%04d" -> s"w$i")
    bulkPut(16, spark.sparkContext.parallelize(pairs, 7).toDF("pk", "v")
      .select($"pk", lit("").as("sk"), encode($"v", "UTF-8").as("value")), pairs)
  }
}
