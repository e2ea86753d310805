package graft.queries

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r15 semdedup SKEW guard. The within-cluster pair sum is linear in
  * the corpus BY CONTRACT (corpus-scaled K holds expected cluster size at
  * ~[[SimilarityOps.SemDedupTargetCluster]]), and pairs are CPU-only —
  * nothing pair-sized is shuffled — so the guard must (a) admit healthy
  * corpora even when the absolute LSH candidate budget is tiny (an
  * absolute bound refuses the designed scale path at exactly the scale it
  * exists for — measured r15: est ≈ 5×10⁹ at 2×10⁷ vectors vs the 32-core
  * budget of 10⁸), and (b) refuse pathological clustering, where a
  * far-over-target cluster carries a quadratic share of the cosines.
  */
class SemDedupGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val knob = graft.operators.MinHashLSH.MaxCandidatesConf

  test("healthy corpus passes under a tiny absolute budget — the skew bound rules") {
    spark.conf.set(knob, "4") // far below the smoke corpus's pair estimate
    try {
      val r = SparkEntry.queries("dedup_semdedup")(spark, "/root/testdata/sf0.001")
      assert(r.count() > 0, "healthy clustering must not trip the guard")
    } finally spark.conf.unset(knob)
  }

  test("pathological clustering (one cluster far over target) trips the skew guard") {
    val dir = java.nio.file.Files.createTempDirectory("graft-semdedup").toString
    // 6000 identical vectors → two-level assignment lands every one in a
    // single cluster (cos ties break to the lowest centroid id):
    // est = C(6000,2) ≈ 1.8×10⁷ > SkewFactor × N × 255 ≈ 1.22×10⁷.
    spark.range(6000).select(
        $"id".as("vec_id"),
        array((0 until 8).map(i => lit((i + 1).toFloat)): _*).as("embedding"),
        lit(0).as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    spark.conf.set(knob, "100") // floor below the skew bound so it decides
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    try {
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("dedup_semdedup")(spark, dir).count()
      }
      assert(e.getMessage.contains("pathologically clustered"), e.getMessage)
      assert(e.getMessage.contains(knob), "the error must name the knob")
    } finally spark.conf.unset(knob)
    // the guard trips after the assignment is pinned: the trip releases it
    assert(spark.sharedState.cacheManager.isEmpty, "guard trip leaked a cached plan")
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(rddsBefore).isEmpty,
      "guard trip leaked a persisted RDD")
  }
}
