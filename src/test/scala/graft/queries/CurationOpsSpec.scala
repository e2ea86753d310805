package graft.queries

import graft.{SparkEntry, SparkTestSession, Tables}
import graft.operators.BloomPrefilter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the curation operators: the Bloom prefilter's membership
  * contract (no false negatives, real pruning, exact end result) and
  * the packing/sampling invariants the oracle rows alone don't state.
  */
class CurationOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("bloom prefilter: no false negatives, prunes true negatives") {
    val members = spark.range(1000).filter($"id" % 2 === 0)
      .select(concat(lit("item-"), $"id").as("s"))
    val bloom = BloomPrefilter.build(members, $"s",
      estimatedItems = 500, numBits = 1L << 16)
    val probe = spark.range(1000)
      .select(concat(lit("item-"), $"id").as("s"), ($"id" % 2 === 0).as("isMember"))
      .withColumn("hit", BloomPrefilter.mightContain(bloom, $"s"))
    // Bloom contract: every member passes …
    assert(probe.filter($"isMember" && !$"hit").count() === 0L)
    // … and the sketch rejects a meaningful share of non-members
    // (1 MiB default would reject ~all; 64 KiB for 500 items still must
    // reject most of the 500 odd probes)
    val falsePos = probe.filter(!$"isMember" && $"hit").count()
    assert(falsePos < 100, s"bloom rejected too few non-members: $falsePos false positives")
  }

  test("txt_bloom_contamination equals the exact (bloomless) join") {
    val byBloom = SparkEntry.queries("txt_bloom_contamination")(spark, sf)
    def gramsOf(k: Int) = Tables.documents(spark, sf)
      .select($"doc_id",
        when(size(split(lower(trim($"text")), "\\s+")) >= k,
          transform(sequence(lit(1), size(split(lower(trim($"text")), "\\s+")) - (k - 1)),
            i => concat_ws(" ", slice(split(lower(trim($"text")), "\\s+"), i, lit(k)))))
          .otherwise(array().cast("array<string>")).as("gs"))
    val base = gramsOf(6)
    val train = base.filter($"doc_id" % 10 < 8).select(explode($"gs").as("g")).distinct()
    val exact = base.filter($"doc_id" % 10 >= 8)
      .select($"doc_id", explode(array_distinct($"gs")).as("g"))
      .join(train, Seq("g"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy($"doc_id")
    assert(byBloom.collect().toSeq === exact.collect().toSeq)
  }

  test("ds_pack_sequences: bins tile each shard contiguously and conserve tokens") {
    val bins = SparkEntry.queries("ds_pack_sequences")(spark, sf).collect()
    val totalTokens = Tables.documents(spark, sf)
      .select(sum(size(split(trim($"text"), "\\s+")).cast("long")))
      .head().getLong(0)
    assert(bins.map(_.getAs[Long]("tokens")).sum === totalTokens,
      "packing lost or duplicated tokens")
    bins.groupBy(_.getAs[Long]("shard")).foreach { case (shard, rows) =>
      val ids = rows.map(_.getAs[Long]("bin")).sorted
      assert(ids.head === 0L, s"shard $shard does not start at bin 0")
      // a 512-token window always ends inside or at the doc that fills it,
      // so consecutive start-bins can skip at most the span of one doc —
      // but never run backwards or collide
      assert(ids.distinct.length === ids.length, s"shard $shard has duplicate bins")
      // doc ranges of consecutive bins are ordered and disjoint
      val byBin = rows.sortBy(_.getAs[Long]("bin"))
      byBin.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"),
            s"shard $shard bins overlap in doc ranges")
        case _ =>
      }
    }
  }

  test("ds_weighted_sample: longer docs are kept proportionally more often") {
    // deterministic: same query twice is bit-identical
    val a = SparkEntry.queries("ds_weighted_sample")(spark, sf).collect().toSeq
    val b = SparkEntry.queries("ds_weighted_sample")(spark, sf).collect().toSeq
    assert(a === b)
    // weight = min(1, n_chars/400): overall keep rate must sit strictly
    // between the all-short and all-long extremes
    val docs = Tables.documents(spark, sf)
    val kept = a.map(_.getAs[Long]("kept_n")).sum
    val total = docs.count()
    assert(kept > 0 && kept < total, s"degenerate sample: $kept of $total")
  }

  test("ds_pipeline_full: an LSH saturation failure releases the corpus cache") {
    val conf = graft.operators.MinHashLSH.MaxCandidatesConf
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    spark.conf.set(conf, "1")
    try {
      val e = intercept[IllegalArgumentException](
        SparkEntry.queries("ds_pipeline_full")(spark, sf))
      assert(e.getMessage.contains("maxCandidates"), e.getMessage)
    } finally spark.conf.unset(conf)
    assert(spark.sharedState.cacheManager.isEmpty, "saturation throw leaked a cached plan")
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(rddsBefore).isEmpty,
      "saturation throw leaked a persisted RDD")
  }
}
