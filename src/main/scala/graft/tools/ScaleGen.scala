package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator: replicates the driver's sf-dir K× with re-keyed ids
  * so the scale-growth bench (`graft.ScaleBench`) can measure how each
  * query's runtime grows with data volume — the only in-sandbox proxy for
  * the 100 TB design claims.
  *
  * Replica semantics (replica 0 is the original data, byte-identical):
  *  - `region`/`nation` are copied unreplicated — TPC-H holds the dimension
  *    tables constant across scale factors.
  *  - Every foreign/primary key gets the SAME per-replica offset
  *    (`rep * 100_000_000`), so referential integrity holds within each
  *    replica and join fan-outs match the original data's.
  *  - `documents.text` is deterministically word-permuted per replica
  *    (sort words by a per-(doc, rep) crc32): the token MULTISET — and so
  *    stopword ratios, token counts, char-level stats — is preserved, while
  *    word n-gram shingles become fresh per replica, which is how docs at a
  *    larger sf actually behave (same vocabulary, new sequences).
  *  - `embeddings.embedding` is perturbed by `rep * 1e-3` per component so
  *    replicated vectors don't collapse into exact top-k ties.
  *
  * Usage: runMain graft.tools.ScaleGen <inSfDir> <outDir> [k=10] [tables]
  * `tables` (comma list) limits generation — a fourth-decade probe only
  * needs the tables its flat queries read, not 33 GB of lineitem.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val in = args(0)
    val out = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(',').map(_.trim).filter(_.nonEmpty).toSet)
      else None
    val spark = graft.util.LocalSession(defaultCpus = 32)
    generate(spark, in, out, k, only)
    spark.stop()
  }

  /** Key offset between replicas — far above any base-data key at sf≤1. */
  val Off = 100000000L

  def generate(spark: SparkSession, in: String, out: String, k: Int,
               only: Option[Set[String]] = None): Unit = {
    def raw(name: String): DataFrame = spark.read.parquet(s"$in/$name.parquet")
    // output partition counts grow with the replication factor past the
    // 10× the base counts were sized for, keeping file sizes (and so
    // per-task memory at read time) roughly constant across decades
    def write(df: => DataFrame, name: String, parts0: Int): Unit =
      if (only.forall(_.contains(name))) {
        val parts = parts0 * math.max(1, k / 10)
        df.repartition(parts).write.mode("overwrite").parquet(s"$out/$name.parquet")
      }

    // one input row → k rows tagged rep=0..k-1; rep 0 keeps original
    // values. The input is spread across the cores FIRST: the base tables
    // arrive as a handful of parquet files, and the explode inherits the
    // scan's partitioning — at k=1000 that leaves ~4 tasks expanding
    // hundreds of millions of rows while 28 cores idle.
    def reps(df: DataFrame): DataFrame =
      df.repartition(32).withColumn("rep", explode(sequence(lit(0L), lit(k - 1L))))
    val off = col("rep") * Off

    write(raw("region"), "region", 1)
    write(raw("nation"), "nation", 1)
    write(reps(raw("customer"))
      .withColumn("c_custkey", col("c_custkey") + off).drop("rep"), "customer", 4)
    write(reps(raw("supplier"))
      .withColumn("s_suppkey", col("s_suppkey") + off).drop("rep"), "supplier", 1)
    write(reps(raw("part"))
      .withColumn("p_partkey", col("p_partkey") + off).drop("rep"), "part", 2)
    write(reps(raw("orders"))
      .withColumn("o_orderkey", col("o_orderkey") + off)
      .withColumn("o_custkey", col("o_custkey") + off).drop("rep"), "orders", 8)
    write(reps(raw("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") + off)
      .withColumn("l_partkey", col("l_partkey") + off)
      .withColumn("l_suppkey", col("l_suppkey") + off).drop("rep"), "lineitem", 16)
    write(reps(raw("events"))
      .withColumn("event_id", col("event_id") + off)
      .withColumn("user_id", col("user_id") + off).drop("rep"), "events", 16)

    // deterministic per-(doc, rep) word permutation: sort words by crc32 of
    // (word, position-salt) — multiset preserved, shingles fresh
    val permuted = array_join(
      transform(
        array_sort(
          expr("transform(split(text, ' '), (w, i) -> " +
            "struct(crc32(concat(w, ':', i, ':', rep, ':', doc_id)) AS s, w AS w))")),
        s => s.getField("w")),
      " ")
    write(reps(raw("documents"))
      .withColumn("doc_id", col("doc_id") + off)
      .withColumn("text", when(col("rep") === 0, col("text")).otherwise(permuted))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("rep"), "documents", 8)

    write(reps(raw("embeddings"))
      .withColumn("vec_id", col("vec_id") + off)
      .withColumn("embedding",
        expr("transform(embedding, x -> CAST(x + rep * 0.001 AS FLOAT))"))
      .drop("rep"), "embeddings", 4)
  }
}
