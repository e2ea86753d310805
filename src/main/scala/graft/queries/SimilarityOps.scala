package graft.queries

import graft.Tables
import graft.QueryRegistry.Qf
import graft.operators.{Multimodal, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding similarity search + multimodal-column operators (SURVEY §7
  * step 9). Cosine math accumulates left-to-right in double on both
  * engines, so oracle comparisons are bit-exact.
  */
object SimilarityOps {

  /** All same-label pairs above a cosine threshold — the pairwise
    * similarity-graph shape (blocked on `label` so the join is equi-keyed,
    * never a full cross product).
    */
  private def cosinePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // norms are computed once per vector before the pair join (the join
    // would otherwise recompute both norms for every pair)
    val e = Tables.embeddings(s, dir)
      .select($"label", $"vec_id", $"embedding",
        Similarity.norm($"embedding").as("nrm"))
    val a = e.select($"label", $"vec_id".as("qa"), $"embedding".as("ea"), $"nrm".as("na"))
    val b = e.select($"label", $"vec_id".as("qb"), $"embedding".as("eb"), $"nrm".as("nb"))
    a.join(b, Seq("label"))
      .filter($"qa" < $"qb")
      .withColumn("cos", Similarity.dot($"ea", $"eb") / ($"na" * $"nb"))
      .filter($"cos" >= 0.3)
      .select($"label", $"qa", $"qb", $"cos")
      .orderBy($"label", $"qa", $"qb")
  }

  private val cosinePairsSql =
    """WITH n AS (
      |  SELECT label, vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings)
      |SELECT a.label AS label, a.vec_id AS qa, b.vec_id AS qb,
      |  list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm) AS cos
      |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm) >= 0.3
      |ORDER BY label, qa, qb""".stripMargin

  /** Brute-force cosine top-k for a small query set: broadcast queries ×
    * full corpus scan, per-query ranking window — the exact ANN baseline.
    */
  private def topkBrute(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(e, e.filter($"vec_id" < 10), k = 5)
      .select($"query_id", $"cand_id", $"rank", $"cos")
      .orderBy($"query_id", $"rank")
  }

  private val topkBruteSql =
    """WITH n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    list_sum(list_transform(list_zip(q.embedding, c.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (q.nrm * c.nrm) AS cos
      |  FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |SELECT query_id, cand_id, rank, cos FROM (
      |  SELECT query_id, cand_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
      |  FROM scored) t
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** LSH-bucketed ANN (the 100 TB path: signatures once, bucket-local
    * scoring). The oracle replays the identical hyperplanes/buckets in
    * SQL (constants inlined), so the approximate index is hash-checked.
    */
  private def annLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    Similarity.lshTopK(e, e.filter($"vec_id" < 10), k = 5, nbits = 8)
      .select($"query_id", $"cand_id", $"rank", $"cos")
      .orderBy($"query_id", $"rank")
  }

  /** In-engine ANN quality measurement: recall@5 of the LSH index
    * against the brute-force ground truth, per query point — the
    * evaluation every approximate index ships with. Both sides are the
    * production paths above; the metric is one equi-join + keyed
    * aggregation, and the oracle replays BOTH pipelines (brute + the
    * exact hyperplane constants) before computing the same join.
    */
  private def annRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val truth = Similarity.bruteForceTopK(e, e.filter($"vec_id" < 10), k = 5)
      .select($"query_id", $"cand_id")
    val approx = Similarity.lshTopK(e, e.filter($"vec_id" < 10), k = 5, nbits = 8)
      .select($"query_id", $"cand_id", lit(1L).as("hit"))
    truth.join(approx, Seq("query_id", "cand_id"), "left")
      .groupBy($"query_id")
      .agg(count(lit(1)).as("k"), coalesce(sum($"hit"), lit(0L)).as("n_hit"))
      .select($"query_id", $"k", $"n_hit",
        ($"n_hit".cast("double") / $"k".cast("double")).as("recall"))
      .orderBy($"query_id")
  }

  private lazy val annRecallSql =
    s"""WITH truth AS (
       |  SELECT query_id, cand_id FROM ($topkBruteSql) tq),
       |appr AS (
       |  SELECT query_id, cand_id FROM (${Similarity.lshTopKOracleSql(10, 5, nbits = 8)}) aq)
       |SELECT t.query_id AS query_id, CAST(COUNT(*) AS BIGINT) AS k,
       |  CAST(SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST(SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN appr a
       |  ON t.query_id = a.query_id AND t.cand_id = a.cand_id
       |GROUP BY 1 ORDER BY query_id""".stripMargin

  /** k-NN label classification accuracy — the standard embedding-quality
    * probe: predict each probe vector's label by majority vote of its 5
    * nearest neighbors (cosine, self excluded; ties → highest count then
    * smallest label via one `max_by(struct)` argmax) and score against
    * the true label, per class. Neighbor search is the brute-force path;
    * the vote and scoring are keyed aggregations.
    */
  private def knnClassify(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val labels = e.select($"vec_id", $"label".cast("long").as("label"))
    val top = Similarity.bruteForceTopK(e, e.filter($"vec_id" < 50), k = 5)
      .select($"query_id", $"cand_id")
    val votes = top.join(labels.withColumnRenamed("vec_id", "cand_id"), Seq("cand_id"))
      .groupBy($"query_id", $"label").agg(count(lit(1)).as("cnt"))
    val pred = votes.groupBy($"query_id")
      .agg(max_by($"label", struct($"cnt", -$"label")).as("pred"))
    pred.join(labels.withColumnRenamed("vec_id", "query_id"), Seq("query_id"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n"),
        sum(when($"pred" === $"label", 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy", $"n_correct".cast("double") / $"n".cast("double"))
      .orderBy($"label")
  }

  private val knnClassifySql =
    """WITH n AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |sc AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    list_sum(list_transform(list_zip(q.embedding, c.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (q.nrm * c.nrm) AS cos
      |  FROM n q JOIN n c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
      |top AS (
      |  SELECT query_id, cand_id FROM (
      |    SELECT query_id, cand_id,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
      |    FROM sc) t
      |  WHERE rank <= 5),
      |votes AS (
      |  SELECT query_id, CAST(e.label AS BIGINT) AS label, COUNT(*) AS cnt
      |  FROM top JOIN embeddings e ON cand_id = e.vec_id GROUP BY 1, 2),
      |pred AS (
      |  SELECT query_id, label AS pred FROM (
      |    SELECT query_id, label,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cnt DESC, label) AS r
      |    FROM votes) v
      |  WHERE r = 1)
      |SELECT CAST(t.label AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN pred = t.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  CAST(SUM(CASE WHEN pred = t.label THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS accuracy
      |FROM pred JOIN embeddings t ON query_id = t.vec_id
      |GROUP BY 1 ORDER BY label""".stripMargin

  /** IVF ANN (deterministic centroid rule) — the inverted-file scale
    * path; the oracle replays assignment, probes and ranking.
    */
  private def annIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    Similarity.ivfTopK(e, e.filter($"vec_id" < 10), k = 5)
      .select($"query_id", $"cand_id", $"rank", $"cos")
      .orderBy($"query_id", $"rank")
  }

  /** Embedding-cosine near-dup: label-blocked pairs above threshold,
    * folded into a dedup decision (every duplicate maps to its
    * lowest-id keeper) — the canonical embedding-dedup shape for a
    * training pipeline.
    *
    * This is the BRUTE baseline: label blocks are whatever the data
    * says, and pair volume is Σ C(n_label, 2) — quadratic in block size
    * whenever labels don't grow with the corpus (on the sandbox tables
    * they never do: 10 labels at every scale factor, so the fifth
    * decade would be ~10¹³ cosines). Like the other loudly-bounded
    * brute verifiers (prefix join's convexity guard, LSH's candidate
    * budget), it now checks the exact label histogram against the
    * shared candidate-volume budget BEFORE the join and fails naming
    * the knob; the scale paths are `dedup_semdedup` (corpus-scaled
    * clusters) and the LSH/ANN family.
    */
  private def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"label", $"vec_id", $"embedding",
        Similarity.norm($"embedding").as("nrm"))
    val hist = e.groupBy($"label").count()
      .groupBy($"count").agg(count(lit(1)).as("nb"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val est = hist.map { case (sz, nb) => nb * (sz * (sz - 1) / 2) }.sum
    val budget = graft.operators.MinHashLSH.resolvedMaxCandidates(s, -1L)
    require(est <= budget,
      s"dedup_embedding label-blocked pair estimate $est exceeds the " +
        s"candidate budget $budget (session conf " +
        s"${graft.operators.MinHashLSH.MaxCandidatesConf}) - label blocks " +
        "grow with the corpus, so brute pairs are inherently quadratic " +
        "here; use dedup_semdedup / the LSH-ANN family at this scale, or " +
        "raise the budget to the cluster's shuffle capacity")
    val a = e.select($"label", $"vec_id".as("qa"), $"embedding".as("ea"), $"nrm".as("na"))
    val b = e.select($"label", $"vec_id".as("qb"), $"embedding".as("eb"), $"nrm".as("nb"))
    a.join(b, Seq("label"))
      .filter($"qa" < $"qb")
      .withColumn("cos", Similarity.dot($"ea", $"eb") / ($"na" * $"nb"))
      .filter($"cos" >= 0.35)
      .groupBy($"qb".as("dup_id"))
      .agg(min($"qa").as("keep_id"), max($"cos").as("best_cos"))
      .orderBy($"dup_id")
  }

  private val dedupEmbeddingSql =
    """WITH n AS (
      |  SELECT label, vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS qa, b.vec_id AS qb,
      |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm) AS cos
      |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT qb AS dup_id, MIN(qa) AS keep_id, MAX(cos) AS best_cos
      |FROM pairs WHERE cos >= 0.35
      |GROUP BY qb ORDER BY dup_id""".stripMargin

  /** SemDeDup-style SEMANTIC dedup: cluster-scope the quadratic term.
    * Near-duplicate pairs are searched only WITHIN a cluster — the
    * SemDeDup contract (Abbas et al., 2023): K grows with the corpus so
    * per-cluster C(n,2) stays bounded while cross-cluster pairs (which
    * cannot be near-dups of a tight threshold) are never generated.
    *
    * The r14 implementation pinned K = 16 — the documented contract
    * without the implementation: with fixed K the within-cluster pair
    * term is N²/32, certain death at the fifth decade (2×10⁷ vectors →
    * ~10¹³ cosines). Since r15 the contract is real, and every constant
    * in it is replayed by the oracle:
    *
    *  - K_fine = max(16, ⌈N / 512⌉) centroids — the md5-hash-ordered
    *    prefix of the corpus ([[Similarity.ivfCentsDf]]'s deterministic
    *    sampling rule), so expected cluster size stays ~512 and the
    *    pair term is ~N×256, LINEAR in the corpus.
    *  - A corpus-scaled K makes single-level exact assignment N×K =
    *    N²/512 — the quadratic would just move. Assignment is therefore
    *    TWO-LEVEL: K_coarse = max(4, ⌈√K_fine⌉) group centroids (the
    *    first K_coarse of the same hash ordering, so coarse ⊆ fine and
    *    no group is empty); each fine centroid belongs to its nearest
    *    group (computed on the driver over the ≤ K_fine collected
    *    centroids — bounded by construction); each vector picks its
    *    nearest GROUP against a literal-inlined coarse set (codegen, no
    *    join), then its nearest fine centroid WITHIN that group via one
    *    broadcast join against the K_coarse-row group→centroids pack.
    *    Per-vector cost ~2√(N/512) dots — N^1.5-ish worst case in the
    *    assignment, N-linear in the pair term, nothing quadratic.
    *    Two-level nearest is deliberately approximate (a vector near a
    *    group boundary can land one cluster over — the standard IVF
    *    trade); it is DETERMINISTIC, and the oracle replays the same
    *    two hops bit-for-bit, so approximate ≠ unverified.
    *  - The within-cluster pair estimate Σ C(n_c, 2) is checked from
    *    the exact cluster histogram BEFORE the pair join against a
    *    SKEW bound: [[SemDedupSkewFactor]] × the healthy-contract term
    *    N×(target−1)/2 (with the shared LSH candidate budget as a
    *    small-corpus floor). The pair term itself is linear in N by
    *    contract and CPU-only — pairs stream through in-partition
    *    filter+aggregation after an O(N) shuffle, nothing pair-sized
    *    is ever shuffled or stored — so an absolute budget would
    *    refuse healthy corpora at exactly the scale this operator is
    *    the designed path for; what the guard hunts is pathological
    *    clustering, where a few far-over-target clusters carry a
    *    quadratic share. Fails loudly naming the knob.
    *
    * Per cluster: member count, dropped members (those with a
    * smaller-id in-cluster neighbor above the cosine threshold — the
    * keep-lowest-id policy of `dedup_embedding`), and qualifying pair
    * count. The only persisted intermediate is the assignment
    * projection (vec_id, embedding, nrm, c_id) — read three times
    * (histogram + both pair sides), pinned in one `Pin.scope`.
    */
  private[queries] val SemDedupTargetCluster = 512
  /** Skew-guard multiplier: the within-cluster pair sum may exceed the
    * healthy-contract term N×(target−1)/2 by at most this factor before
    * the operator refuses — above it a few over-target clusters are
    * carrying a quadratic share of the cosines.
    */
  private[queries] val SemDedupSkewFactor = 8L
  /** Deterministic `(h, vec_id)`-ordered kFine-row prefix of `hashed`
    * (columns `vec_id, embedding, nrm, h`), driver-result-bounded.
    * Above `gate` rows, pre-filter to `h ≤ 4× the expected kFine-
    * quantile` of the uniform md5-prefix hash before the sort: the
    * global top-K otherwise ships up to kFine rows PER MAP TASK to the
    * driver (TakeOrdered merges driver-side), and kFine grows with n —
    * the r16 fifth-decade probe burst spark.driver.maxResultSize at
    * 5×10⁶ vectors. Exactness: `h ≤ hCut` is downward-closed under the
    * sort order's leading key, so any filtered set holding ≥ kFine rows
    * contains the true top-kFine and the re-sorted limit is IDENTICAL;
    * an (astronomically unlikely) undershoot falls back to the
    * unfiltered sort. Below the gate the plan is byte-identical to the
    * direct sort (guide §5 — driver).
    */
  private[queries] def centroidPrefix(hashed: DataFrame, n: Long, kFine: Int,
                                      gate: Long = 1000000L): DataFrame = {
    import hashed.sparkSession.implicits._
    val prefiltered =
      if (n > gate) {
        val hCut = math.min(4294967295L, (kFine.toLong * 17179869184L) / math.max(1L, n))
        val cand = hashed.filter($"h" <= hCut)
        val engaged = cand.count() >= kFine
        graft.util.Pin.event("semDedup.centroidPrefilter", "engaged" -> engaged, "hCut" -> hCut)
        if (engaged) cand else hashed
      } else hashed
    prefiltered.orderBy($"h", $"vec_id").limit(kFine)
      .select($"vec_id", $"embedding", $"nrm")
  }

  private def semDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
    val n = e.count()
    val kFine = math.max(16L, math.ceil(n / SemDedupTargetCluster.toDouble).toLong).toInt
    val kCoarse = math.max(4, math.ceil(math.sqrt(kFine.toDouble)).toInt)

    // deterministic centroid prefix: the ivfCentsDf hash-order rule;
    // collected rows are ≤ K_fine = N/512 — bounded by construction
    val idHash = conv(substring(md5($"vec_id".cast("string")), 1, 8), 16, 10).cast("long")
    val hashed = e.select($"vec_id", $"embedding", $"nrm", idHash.as("h"))
    // The COLLECT is bounded, but the global (h, vec_id) top-K ships up
    // to kFine rows PER MAP TASK to the driver (TakeOrdered merges on
    // the driver), and kFine grows with n — the r16 fifth-decade probe
    // burst spark.driver.maxResultSize at 5×10⁶ vectors (83 tasks ×
    // ~10⁴ rows × embedding bytes > 1 GiB). h is uniform on [0, 2³²)
    // (md5 prefix), so pre-filtering to h ≤ 4× the expected kFine-
    // quantile bounds the shipped superset at ~4×kFine rows TOTAL
    // regardless of task count. Exactness: h ≤ hCut is downward-closed
    // under the (h, vec_id) sort order's leading key, so any filtered
    // set holding ≥ kFine rows contains the true top-kFine and the
    // re-sorted limit is IDENTICAL; an (astronomically unlikely)
    // undershoot falls back to the unfiltered sort. Gated on n so
    // bench-scale plans are byte-identical (r16, guide §5 — driver).
    val fine: Array[(Long, Array[Float], Double)] =
      centroidPrefix(hashed, n, kFine)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    val coarse = fine.take(kCoarse)
    // left-to-right double accumulation — the exact arithmetic of
    // Similarity.dot's codegen and the oracle's list_sum
    def dotD(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def nearestGroup(emb: Array[Float], nrm: Double): Long = {
      var bestG = Long.MaxValue; var bestCos = Double.NegativeInfinity
      coarse.foreach { case (gid, gemb, gnrm) =>
        val c = dotD(emb, gemb) / (nrm * gnrm)
        if (c > bestCos || (c == bestCos && gid < bestG)) { bestCos = c; bestG = gid }
      }
      bestG
    }
    val packRows: Seq[(Long, Seq[(Long, Seq[Float], Double)])] =
      fine.groupBy { case (_, cemb, cnrm) => nearestGroup(cemb, cnrm) }
        .toSeq
        .map { case (g, arr) =>
          (g, arr.sortBy(_._1).map { case (cid, cemb, cnrm) =>
            (cid, cemb.toSeq, cnrm) }.toSeq)
        }
    val pack = packRows.toDF("g_id", "f0")
      .select($"g_id", transform($"f0", f => struct(
        f.getField("_1").as("c_id"), f.getField("_2").as("c_emb"),
        f.getField("_3").as("c_nrm"))).as("fents"))

    // vector → group: literal-inlined argmax (codegen, no join), the
    // ivfAssign shape; then → fine centroid within the group via ONE
    // broadcast join (K_coarse rows) and an in-row argmax
    val coarseLit = array(coarse.map { case (gid, gemb, gnrm) =>
      struct(lit(gid).as("g_id"), lit(gemb).as("g_emb"), lit(gnrm).as("g_nrm"))
    }.toIndexedSeq: _*)
    graft.util.Pin.scope { pin =>
      val assigned = pin(e
        .withColumn("bg", array_max(transform(coarseLit, c =>
          struct((Similarity.dot($"embedding", c.getField("g_emb")) /
              ($"nrm" * c.getField("g_nrm"))).as("gcos"),
            (-c.getField("g_id")).as("neg")))))
        .withColumn("g_id", -$"bg.neg")
        .join(broadcast(pack), Seq("g_id"))
        .withColumn("bf", array_max(transform($"fents", f =>
          struct((Similarity.dot($"embedding", f.getField("c_emb")) /
              ($"nrm" * f.getField("c_nrm"))).as("fcos"),
            (-f.getField("c_id")).as("neg")))))
        .select($"vec_id", $"embedding", $"nrm", (-$"bf.neg").as("c_id")),
        "semDedup.assigned")
      // SKEW guard from the EXACT cluster histogram (kFine rows at
      // most): fail loudly before the pair join, naming the knob. The
      // bound is RELATIVE to the healthy-contract pair term, not the
      // LSH shuffle budget: with corpus-scaled K the within-cluster sum
      // Σ C(n_c, 2) is ~N × (target−1)/2 BY DESIGN — linear in the
      // corpus — and the pairs are CPU-only (generated in-partition
      // after an O(N) shuffle of `assigned`, filtered and aggregated
      // before anything is materialized), so a corpus-sized pair term
      // is the contract's cost, not a hazard. What IS a hazard is
      // SKEW: clusters far above the target make the sum quadratic in
      // the biggest cluster (one 10⁷-member cluster is 5×10¹³ cosines).
      // Guarding against the absolute LSH budget instead would refuse
      // healthy corpora at exactly the scale this operator is the
      // designed path for (est ≈ 5×10⁹ at 2×10⁷ vectors on a 32-core
      // budget of 10⁸ — measured r15). The LSH budget still rides as a
      // floor so small-corpus behavior (and every oracle row) is
      // unchanged.
      val hist = assigned.groupBy($"c_id").count()
        .groupBy($"count").agg(count(lit(1)).as("nb"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val est = hist.map { case (sz, nb) => nb * (sz * (sz - 1) / 2) }.sum
      val healthy = n * ((SemDedupTargetCluster - 1) / 2).toLong
      val budget = math.max(
        graft.operators.MinHashLSH.resolvedMaxCandidates(s, -1L),
        SemDedupSkewFactor * healthy)
      require(est <= budget,
        s"semdedup within-cluster pair estimate $est exceeds " +
          s"$SemDedupSkewFactor x the healthy-contract pair term ($healthy " +
          s"for $n vectors at target cluster $SemDedupTargetCluster) - the " +
          "corpus is pathologically clustered at this K (a few clusters " +
          "far above target are carrying a quadratic share); raise " +
          s"session conf ${graft.operators.MinHashLSH.MaxCandidatesConf} " +
          "to accept the CPU cost or shard the corpus")
      val a = assigned.select($"c_id", $"vec_id".as("qa"), $"embedding".as("ea"), $"nrm".as("na"))
      val b = assigned.select($"c_id", $"vec_id".as("qb"), $"embedding".as("eb"), $"nrm".as("nb"))
      val pairs = a.join(b, Seq("c_id"))
        .filter($"qa" < $"qb")
        .withColumn("cos", Similarity.dot($"ea", $"eb") / ($"na" * $"nb"))
        .filter($"cos" >= 0.35)
      val drops = pairs.groupBy($"c_id", $"qb").agg(count(lit(1)).as("nn"))
        .groupBy($"c_id").agg(count(lit(1)).as("n_dropped"), sum($"nn").as("n_pairs"))
      assigned.groupBy($"c_id").agg(count(lit(1)).as("n_vecs"))
        .join(drops, Seq("c_id"), "left")
        .select($"c_id", $"n_vecs",
          coalesce($"n_dropped", lit(0L)).as("n_dropped"),
          coalesce($"n_pairs", lit(0L)).as("n_pairs"))
        .orderBy($"c_id")
    }
  }

  /** Replays the two-level corpus-scaled assignment end to end: the same
    * K_fine/K_coarse derivation (subqueries over the table, so the SAME
    * corpus size feeds both engines), the same hash-ordered centroid
    * prefixes, fine→group and vector→group→centroid hops with identical
    * (cos DESC, id ASC) tie-breaks, then the within-cluster pairs.
    */
  private val semDedupSql =
    s"""WITH n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |kf AS (SELECT GREATEST(16, CAST(CEIL(COUNT(*) / $SemDedupTargetCluster.0) AS BIGINT)) AS k FROM n),
      |kc AS (SELECT GREATEST(4, CAST(CEIL(SQRT(k)) AS BIGINT)) AS k FROM kf),
      |ranked AS (
      |  SELECT vec_id, embedding, nrm, ROW_NUMBER() OVER (ORDER BY
      |    CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT),
      |    vec_id) AS rn
      |  FROM n),
      |fine AS (SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm, rn
      |         FROM ranked WHERE rn <= (SELECT k FROM kf)),
      |coarse AS (SELECT c_id AS g_id, c_emb AS g_emb, c_nrm AS g_nrm
      |           FROM fine WHERE rn <= (SELECT k FROM kc)),
      |f2c AS (
      |  SELECT c_id, c_emb, c_nrm, g_id FROM (
      |    SELECT f.c_id, f.c_emb, f.c_nrm, g.g_id,
      |      ROW_NUMBER() OVER (PARTITION BY f.c_id ORDER BY
      |        list_sum(list_transform(list_zip(f.c_emb, g.g_emb),
      |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |          / (f.c_nrm * g.g_nrm) DESC, g.g_id) AS r
      |    FROM fine f CROSS JOIN coarse g) t WHERE r = 1),
      |v2c AS (
      |  SELECT vec_id, g_id FROM (
      |    SELECT v.vec_id, g.g_id,
      |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(v.embedding, g.g_emb),
      |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |          / (v.nrm * g.g_nrm) DESC, g.g_id) AS r
      |    FROM n v CROSS JOIN coarse g) t WHERE r = 1),
      |assigned AS (
      |  SELECT vec_id, embedding, nrm, c_id FROM (
      |    SELECT v.vec_id, v.embedding, v.nrm, f.c_id,
      |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(v.embedding, f.c_emb),
      |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |          / (v.nrm * f.c_nrm) DESC, f.c_id) AS r
      |    FROM n v JOIN v2c ON v.vec_id = v2c.vec_id
      |      JOIN f2c f ON f.g_id = v2c.g_id) t WHERE r = 1),
      |pairs AS (
      |  SELECT a.c_id, a.vec_id AS qa, b.vec_id AS qb,
      |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm) AS cos
      |  FROM assigned a JOIN assigned b ON a.c_id = b.c_id AND a.vec_id < b.vec_id),
      |d AS (SELECT c_id, qb, CAST(COUNT(*) AS BIGINT) AS nn
      |      FROM pairs WHERE cos >= 0.35 GROUP BY c_id, qb),
      |dr AS (SELECT c_id, CAST(COUNT(*) AS BIGINT) AS n_dropped,
      |       CAST(SUM(nn) AS BIGINT) AS n_pairs FROM d GROUP BY c_id)
      |SELECT a.c_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  COALESCE(MAX(dr.n_dropped), CAST(0 AS BIGINT)) AS n_dropped,
      |  COALESCE(MAX(dr.n_pairs), CAST(0 AS BIGINT)) AS n_pairs
      |FROM assigned a LEFT JOIN dr ON a.c_id = dr.c_id
      |GROUP BY a.c_id ORDER BY a.c_id""".stripMargin

  /** Multimodal metadata surface: binary payload length + content hash —
    * the opaque-blob bookkeeping every media pipeline starts with.
    */
  private def mmBinaryMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        length(encode($"text", "UTF-8")).as("byte_len"),
        md5($"text").as("fp"))
      .orderBy($"doc_id")
  }

  private val mmBinaryMetaSql =
    """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS byte_len, md5(text) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Stubbed decode + feature extraction over binary media columns
    * (partition-parallel typed pipeline; decode is a deterministic fake —
    * see Multimodal.decodeStub).
    */
  private def mmFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Multimodal.extractFeatures(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)))
      .toDF()
      .select($"doc_id", $"mime", $"byteLen".cast("long").as("byte_len"),
        $"width".cast("long").as("width"), $"height".cast("long").as("height"),
        $"channels".cast("long").as("channels"),
        $"byteEntropyBucket".cast("long").as("entropy_bucket"))
      .orderBy($"doc_id")
  }

  /** The stub decoder is pure arithmetic over the payload bytes, and the
    * corpus is ASCII, so DuckDB recomputes identical features from the
    * text column (byte i == ord(char i)).
    */
  private val mmFeaturesSql =
    """SELECT doc_id, concat('image/stub-', source) AS mime,
      |  CAST(length(text) AS BIGINT) AS byte_len,
      |  CAST(ord(substring(text, 1, 1)) % 64 + 1 AS BIGINT) AS width,
      |  CAST(CASE WHEN length(text) > 1 THEN ord(substring(text, 2, 1)) % 64 + 1
      |            ELSE 1 END AS BIGINT) AS height,
      |  CAST(3 AS BIGINT) AS channels,
      |  CAST(list_reduce(list_transform(range(1, length(text) + 1),
      |         i -> ord(substring(text, i, 1))), (x, y) -> xor(x, y)) % 16 AS BIGINT)
      |    AS entropy_bucket
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Frame sampling (the 1→N video-demux explode shape): 4 evenly spaced
    * byte-slice "frames" per media item through the partition-parallel
    * stub demuxer. Offsets/lengths are pure integer arithmetic over the
    * payload length, so the oracle replays them from the text column.
    */
  private def mmFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Multimodal.frameSample(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)), 4)
      .toDF()
      .select($"doc_id", $"frameIndex".cast("long").as("frame_index"),
        $"offsetBytes".as("offset_bytes"),
        length($"payload").cast("long").as("frame_len"))
      .orderBy($"doc_id", $"frame_index")
  }

  private val mmFramesSql =
    """WITH d AS (
      |  SELECT doc_id, length(text) AS len, least(4, length(text)) AS k
      |  FROM documents WHERE length(text) > 0),
      |f AS (SELECT doc_id, len, k, unnest(range(k)) AS i FROM d)
      |SELECT doc_id, CAST(i AS BIGINT) AS frame_index,
      |  CAST(i * len // k AS BIGINT) AS offset_bytes,
      |  CAST(least(len, i * len // k + greatest(1, len // k)) - i * len // k
      |    AS BIGINT) AS frame_len
      |FROM f ORDER BY doc_id, frame_index""".stripMargin

  /** Symmetric int8 quantization of the embedding column — the standard
    * storage/serving compression for a 100 TB vector corpus (4× smaller
    * than float32, 8× than float64). Per vector: absolute-max scale,
    * `q_i = floor(x_i·127/amax + 0.5)`, saturation count and the exact
    * reconstruction SSE. Pure map-side projection, no shuffle; every
    * value is integer or IEEE-double arithmetic with the same expression
    * shape on both engines, so the oracle hash-matches bit-for-bit
    * (`floor(x+0.5)` instead of `round()` because the engines disagree on
    * round-half semantics, not because of float error).
    */
  private def quantize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("amax", array_max(transform($"v", x => abs(x))))
      .filter($"amax" > 0)
      .withColumn("q", transform($"v",
        x => floor(x * lit(127.0) / $"amax" + lit(0.5))))
      .select($"vec_id", $"amax",
        size(filter($"q", q => abs(q) === 127)).cast("long").as("n_sat"),
        aggregate(
          zip_with($"v", $"q",
            (x, q) => (x - q.cast("double") * $"amax" / lit(127.0)) *
                      (x - q.cast("double") * $"amax" / lit(127.0))),
          lit(0.0), (acc, e) => acc + e).as("sse"))
      .orderBy($"vec_id")
  }

  private val quantizeSql =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |a AS (
      |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax
      |  FROM v),
      |q AS (
      |  SELECT vec_id, amax, v,
      |    list_transform(v, x -> floor(x * 127.0 / amax + 0.5)) AS q
      |  FROM a WHERE amax > 0)
      |SELECT vec_id, amax,
      |  CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_sat,
      |  list_reduce(
      |    list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(list_zip(v, q),
      |        p -> (p[1] - p[2] * amax / 127.0) * (p[1] - p[2] * amax / 127.0))),
      |    (acc, e) -> acc + e) AS sse
      |FROM q ORDER BY vec_id""".stripMargin

  /** REAL image decode through the driver gate (not just specs): a
    * deterministic set of PNG/BMP/JPEG images — solid colors over varying
    * dims, a black/white checkerboard (luminance entropy exactly 1 bit),
    * and a bilinear 40×40→8×6 resize round trip — is generated, encoded
    * and decoded PARTITION-PARALLEL on executors via javax.imageio
    * (`Multimodal.decode`/`resizeImage`). The oracle re-derives the
    * expected (dims, channels, entropy bucket) from the generation
    * parameters, the same external-recompute pattern as
    * `stream_large_event`.
    */
  private def mmDecodeReal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val solids = (0 until 8).map(i =>
      (i.toLong, "png_solid", 16 + 3 * i, 9 + 2 * i, 0x1000 * i + 0x3366cc))
    val cases = solids ++ Seq(
      (100L, "png_checker", 32, 32, 0),
      (101L, "bmp_solid", 20, 10, 0x00cc88),
      (102L, "png_resized", 40, 40, 0x00ff00),
      (103L, "jpeg_solid", 24, 12, 0x336699))
    s.createDataset(cases).repartition(4).mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      def img(w: Int, h: Int, rgbAt: (Int, Int) => Int): Array[Byte] = {
        val b = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) b.setRGB(x, y, rgbAt(x, y))
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(b, "png", out)
        out.toByteArray
      }
      def enc(fmt: String)(w: Int, h: Int, rgb: Int): Array[Byte] = {
        val b = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) b.setRGB(x, y, rgb)
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(b, fmt, out)
        out.toByteArray
      }
      val bmp = enc("bmp") _
      val jpg = enc("jpg") _
      it.map { case (id, kind, w, h, rgb) =>
        val payload = kind match {
          case "png_solid" => img(w, h, (_, _) => rgb)
          case "png_checker" => img(w, h, (x, y) => if ((x + y) % 2 == 0) 0x000000 else 0xffffff)
          case "bmp_solid" => bmp(w, h, rgb)
          case "jpeg_solid" => jpg(w, h, rgb)
          case "png_resized" =>
            Multimodal.resizeImage(
              Multimodal.MediaRecord(id, "image/png", img(w, h, (_, _) => rgb)), 8, 6)
              .get.payload
        }
        val f = Multimodal.decodeImage(Multimodal.MediaRecord(id, "image/x", payload))
          .getOrElse(throw new IllegalStateException(s"real decode failed for $kind"))
        // JPEG is lossy: dims/channels are exact, pixel entropy is
        // codec-dependent — pinned to -1 so the hash compares only what
        // the format guarantees
        val entropy = if (kind == "jpeg_solid") -1L else f.byteEntropyBucket.toLong
        (id, kind, f.width.toLong, f.height.toLong, f.channels.toLong, entropy)
      }
    }.toDF("case_id", "kind", "width", "height", "channels", "entropy_bucket")
      .orderBy($"case_id")
  }

  private val mmDecodeRealSql =
    """SELECT CAST(i AS BIGINT) AS case_id, 'png_solid' AS kind,
      |  CAST(16 + 3 * i AS BIGINT) AS width, CAST(9 + 2 * i AS BIGINT) AS height,
      |  CAST(3 AS BIGINT) AS channels, CAST(0 AS BIGINT) AS entropy_bucket
      |FROM (SELECT unnest(range(8)) AS i)
      |UNION ALL SELECT 100, 'png_checker', 32, 32, 3, 2
      |UNION ALL SELECT 101, 'bmp_solid', 20, 10, 3, 0
      |UNION ALL SELECT 102, 'png_resized', 8, 6, 3, 0
      |UNION ALL SELECT 103, 'jpeg_solid', 24, 12, 3, -1
      |ORDER BY case_id""".stripMargin

  /** REAL audio decode through the driver gate: square waves with known
    * (amplitude, half-period, frame count, rate, channels) are PCM16-
    * encoded to WAV and decoded back PARTITION-PARALLEL on executors —
    * both directions through the JDK's own `javax.sound.sampled` codec
    * (`Multimodal.encodeWavPcm16`/`decodeWav`). Every output is integer-
    * exact, so the oracle re-derives them in closed form: `Σs² =
    * n·amp²·channels` (the wave never decays) and channel-0 zero
    * crossings = `(n-1) DIV half` (one sign flip at every multiple of the
    * half-period). Reference: audio/video ride Pravega streams as opaque
    * events (client/src/main/java/io/pravega/client/stream/EventStreamWriter.java:75);
    * the decode stage is the training-pipeline extension SURVEY §5 adds.
    */
  private def mmAudioReal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // (case_id, amp, halfPeriod, nFrames, sampleRate, channels)
    val cases = (0 until 6).map { i =>
      (i.toLong, 1000 * (i + 1), 3 + i, 240 * (i + 1), 8000 * (1 + i % 3), 1)
    } ++ Seq((100L, 9000, 5, 1000, 44100, 2), (101L, 12000, 7, 630, 16000, 2))
    s.createDataset(cases).repartition(4).mapPartitions { it =>
      it.map { case (id, amp, half, n, rate, ch) =>
        val samples = new Array[Short](n * ch)
        var f = 0
        while (f < n) {
          val v = (if ((f / half) % 2 == 0) amp else -amp).toShort
          var c = 0
          while (c < ch) { samples(f * ch + c) = v; c += 1 }
          f += 1
        }
        val wav = Multimodal.encodeWavPcm16(rate, ch, samples)
        val feats = Multimodal
          .decodeWav(Multimodal.MediaRecord(id, "audio/wav", wav))
          .getOrElse(throw new IllegalStateException(s"real WAV decode failed for case $id"))
        (id, feats.sampleRate.toLong, feats.channels.toLong, feats.nFrames,
          feats.sumSq, feats.zeroCrossings)
      }
    }.toDF("case_id", "sample_rate", "channels", "n_frames", "sum_sq", "zero_crossings")
      .orderBy($"case_id")
  }

  private val mmAudioRealSql =
    """WITH c(case_id, amp, half, n, rate, ch) AS (VALUES
      |  (0, 1000, 3, 240, 8000, 1), (1, 2000, 4, 480, 16000, 1),
      |  (2, 3000, 5, 720, 24000, 1), (3, 4000, 6, 960, 8000, 1),
      |  (4, 5000, 7, 1200, 16000, 1), (5, 6000, 8, 1440, 24000, 1),
      |  (100, 9000, 5, 1000, 44100, 2), (101, 12000, 7, 630, 16000, 2))
      |SELECT CAST(case_id AS BIGINT) AS case_id,
      |  CAST(rate AS BIGINT) AS sample_rate, CAST(ch AS BIGINT) AS channels,
      |  CAST(n AS BIGINT) AS n_frames,
      |  CAST(n AS BIGINT) * amp * amp * ch AS sum_sq,
      |  CAST((n - 1) // half AS BIGINT) AS zero_crossings
      |FROM c ORDER BY case_id""".stripMargin

  /** Frame-WINDOWED audio features (energy + ZCR per 100-frame segment)
    * through the real WAV codec — the VAD/silence-trim input sequence,
    * over the same square-wave cases as `mm_audio_real`. Closed-form
    * oracle: window [a, b) has `sum_sq = (b−a)·amp²·ch` (the wave never
    * decays) and channel-0 flips at every multiple of the half-period
    * strictly inside the window: `(b−1) DIV half − a DIV half`.
    *
    * Scale: windowing is a flatMap inside the decode stage — one row per
    * segment, no shuffle until the consumer aggregates; segment counts
    * are bounded by clip length, never corpus size.
    */
  private def mmAudioFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val win = 100
    val cases = (0 until 6).map { i =>
      (i.toLong, 1000 * (i + 1), 3 + i, 240 * (i + 1), 8000 * (1 + i % 3), 1)
    } ++ Seq((100L, 9000, 5, 1000, 44100, 2), (101L, 12000, 7, 630, 16000, 2))
    s.createDataset(cases).repartition(4).mapPartitions { it =>
      it.flatMap { case (id, amp, half, n, rate, ch) =>
        val samples = new Array[Short](n * ch)
        var f = 0
        while (f < n) {
          val v = (if ((f / half) % 2 == 0) amp else -amp).toShort
          var c = 0
          while (c < ch) { samples(f * ch + c) = v; c += 1 }
          f += 1
        }
        val wav = Multimodal.encodeWavPcm16(rate, ch, samples)
        val ws = Multimodal.wavWindowFeatures(
          Multimodal.MediaRecord(id, "audio/wav", wav), win)
        if (ws.isEmpty) throw new IllegalStateException(s"windowed WAV decode failed for case $id")
        ws.map(w => (w.doc_id, w.window, w.nFrames, w.sumSq, w.zeroCrossings))
      }
    }.toDF("case_id", "win_idx", "n_frames", "sum_sq", "zero_crossings")
      .orderBy($"case_id", $"win_idx")
  }

  private val mmAudioFeaturesSql =
    """WITH c(case_id, amp, half, n, rate, ch) AS (VALUES
      |  (0, 1000, 3, 240, 8000, 1), (1, 2000, 4, 480, 16000, 1),
      |  (2, 3000, 5, 720, 24000, 1), (3, 4000, 6, 960, 8000, 1),
      |  (4, 5000, 7, 1200, 16000, 1), (5, 6000, 8, 1440, 24000, 1),
      |  (100, 9000, 5, 1000, 44100, 2), (101, 12000, 7, 630, 16000, 2)),
      |w AS (SELECT case_id, amp, half, n, ch,
      |        unnest(range((n + 99) // 100)) AS win_idx FROM c),
      |b AS (SELECT case_id, amp, half, ch, win_idx,
      |        win_idx * 100 AS a, least(win_idx * 100 + 100, n) AS b FROM w)
      |SELECT CAST(case_id AS BIGINT) AS case_id, CAST(win_idx AS BIGINT) AS win_idx,
      |  CAST(b - a AS BIGINT) AS n_frames,
      |  CAST((b - a) * amp * amp * ch AS BIGINT) AS sum_sq,
      |  CAST((b - 1) // half - a // half AS BIGINT) AS zero_crossings
      |FROM b ORDER BY case_id, win_idx""".stripMargin

  /** REAL video frame sampling through the driver gate: MJPEG AVIs are
    * muxed executor-side (`Multimodal.muxAviMjpeg` — JPEG frames from the
    * same `javax.imageio` encoder `mm_decode_real` uses), then
    * `frameSample` demuxes the RIFF container and decodes the sampled
    * frames. The oracle re-derives the sample indices (`i·K DIV n`) and
    * the decoded dims/channels from the generation parameters; JPEG dims
    * survive lossy coding exactly. `is_jpeg` pins the demuxed bytes'
    * magic, proving real container offsets — not byte slices.
    */
  private def mmVideoReal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sampleN = 4
    // (case_id, width, height, totalFrames) — case 2 has fewer frames
    // than the sample count, exercising the k = min(n, total) clamp
    val cases = Seq((0L, 48, 32, 12), (1L, 64, 48, 9), (2L, 32, 24, 3))
    val media = s.createDataset(cases).repartition(3).mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { case (id, w, h, k) =>
        val frames = (0 until k).map { f =>
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = img.createGraphics()
          try { g.setColor(new java.awt.Color(20 * f % 256, 80, 160)); g.fillRect(0, 0, w, h) }
          finally g.dispose()
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "jpg", out)
          out.toByteArray
        }
        Multimodal.MediaRecord(id, "video/x-msvideo",
          Multimodal.muxAviMjpeg(w, h, 40000L, frames))
      }
    }
    val totals = cases.map { case (id, _, _, k) => id -> k }.toMap
    Multimodal.frameSample(media, sampleN)
      .map { fr =>
        val total = totals(fr.doc_id)
        val k = math.min(sampleN, total)
        val f = Multimodal.decodeImage(
          Multimodal.MediaRecord(fr.doc_id, "image/jpeg", fr.payload))
          .getOrElse(throw new IllegalStateException("frame decode failed"))
        val isJpeg = fr.payload.length > 2 &&
          (fr.payload(0) & 0xff) == 0xff && (fr.payload(1) & 0xff) == 0xd8
        (fr.doc_id, fr.frameIndex.toLong, (fr.frameIndex * total / k).toLong,
          f.width.toLong, f.height.toLong, f.channels.toLong,
          if (isJpeg) 1L else 0L)
      }
      .toDF("case_id", "sample_index", "src_frame", "width", "height", "channels", "is_jpeg")
      .orderBy($"case_id", $"sample_index")
  }

  private val mmVideoRealSql =
    """WITH c(case_id, w, h, k) AS (VALUES
      |  (0, 48, 32, 12), (1, 64, 48, 9), (2, 32, 24, 3)),
      |s AS (
      |  SELECT case_id, w, h, k, least(4, k) AS kk, unnest(range(least(4, k))) AS i
      |  FROM c)
      |SELECT CAST(case_id AS BIGINT) AS case_id, CAST(i AS BIGINT) AS sample_index,
      |  CAST(i * k // kk AS BIGINT) AS src_frame,
      |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(3 AS BIGINT) AS channels, CAST(1 AS BIGINT) AS is_jpeg
      |FROM s ORDER BY case_id, sample_index""".stripMargin

  /** REAL animated-GIF multi-frame sampling through the driver gate — the
    * second genuine video container next to `mm_video_real`'s MJPEG/AVI.
    * Deterministic multi-frame GIFs are ENCODED partition-parallel with
    * `javax.imageio`'s stock GIF writer (`writeToSequence`), demuxed by
    * [[Multimodal.demuxGif]] inside `frameSample` (true byte offsets, raw
    * image-descriptor slices), and each case's frame count is
    * independently re-read with ImageIO's multi-frame reader
    * (`getNumImages(true)`) — that read-back count, NOT the generation
    * constant, feeds the `imgio_total` column and the `src_frame`
    * arithmetic, so a demux/encode disagreement breaks the row. Per-frame
    * dims come from the demuxed slice's own image descriptor
    * ([[Multimodal.gifFrameDims]]). Reference analog: opaque media events
    * (client/src/main/java/io/pravega/client/stream/EventStreamWriter.java:75).
    */
  private def mmGifFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sampleN = 4
    // (case_id, width, height, totalFrames) — case 2 has fewer frames
    // than the sample count, exercising the k = min(n, total) clamp
    val cases = Seq((0L, 40, 30, 10), (1L, 24, 18, 7), (2L, 16, 12, 2))
    val media = s.createDataset(cases).repartition(3).mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { case (id, w, h, k) =>
        val frames = (0 until k).map { f =>
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = img.createGraphics()
          try { g.setColor(new java.awt.Color(25 * f % 256, 120, 60)); g.fillRect(0, 0, w, h) }
          finally g.dispose()
          img
        }
        val out = new java.io.ByteArrayOutputStream()
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        val ios = javax.imageio.ImageIO.createImageOutputStream(out)
        try {
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          frames.foreach { img =>
            writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
          }
          writer.endWriteSequence()
        } finally { writer.dispose(); ios.close() }
        val payload = out.toByteArray
        // independent multi-frame read-back with the stock GIF reader
        val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        val imgioTotal = try { reader.setInput(iis); reader.getNumImages(true) }
          finally { reader.dispose(); iis.close() }
        (Multimodal.MediaRecord(id, "image/gif", payload), imgioTotal)
      }
    }
    val totals = media.map { case (m, t) => (m.doc_id, t.toLong) }
      .toDF("case_id", "imgio_total")
    val frames = Multimodal.frameSample(media.map(_._1), sampleN)
      .map { fr =>
        val (w, h) = Multimodal.gifFrameDims(fr.payload).getOrElse((-1, -1))
        (fr.doc_id, fr.frameIndex.toLong, w.toLong, h.toLong,
          if (fr.payload.nonEmpty && (fr.payload(0) & 0xff) == 0x2c) 1L else 0L)
      }.toDF("case_id", "sample_index", "width", "height", "sep_ok")
    frames.join(broadcast(totals), "case_id")
      .select($"case_id", $"sample_index",
        expr("CAST(sample_index * imgio_total DIV least(4, imgio_total) AS BIGINT)")
          .as("src_frame"),
        $"width", $"height", $"imgio_total", $"sep_ok")
      .orderBy($"case_id", $"sample_index")
  }

  private val mmGifFramesSql =
    """WITH c(case_id, w, h, k) AS (VALUES
      |  (0, 40, 30, 10), (1, 24, 18, 7), (2, 16, 12, 2)),
      |s AS (
      |  SELECT case_id, w, h, k, least(4, k) AS kk, unnest(range(least(4, k))) AS i
      |  FROM c)
      |SELECT CAST(case_id AS BIGINT) AS case_id, CAST(i AS BIGINT) AS sample_index,
      |  CAST(i * k // kk AS BIGINT) AS src_frame,
      |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(k AS BIGINT) AS imgio_total, CAST(1 AS BIGINT) AS sep_ok
      |FROM s ORDER BY case_id, sample_index""".stripMargin

  /** REAL MP4/MOV demux through the driver gate — the third genuine
    * video container next to MJPEG/AVI and animated GIF. Minimal but
    * conformant ISO-BMFF files are MUXED executor-side
    * ([[Multimodal.muxMp4Video]]: ftyp → mdat → moov with full
    * stsd/stts/stsc/stsz/stco tables, 3 samples per chunk so the
    * sample→chunk expansion is non-trivial), then
    * [[Multimodal.demuxMp4]] walks moov/trak/stbl inside `frameSample`
    * and recovers every sample's TRUE byte offset plus codec fourcc,
    * dims, timescale and frame timing. Because mdat precedes moov and
    * frame f is 50+7f deterministic bytes, the oracle re-derives the
    * walker's offsets in closed form — `32 + 50·src + 7·src·(src−1)/2`
    * — so a single mis-walked table breaks the hash. Sample bytes stay
    * codec-compressed (the documented stub boundary for H.264-class
    * codecs); `first_byte` pins that the demuxed slice really is the
    * sample at that offset. Reference analog: opaque media events
    * (client/src/main/java/io/pravega/client/stream/EventStreamWriter.java:75).
    */
  private def mmMp4Frames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sampleN = 4
    // (case_id, width, height, totalFrames) — case 2 has fewer frames
    // than the sample count, exercising the k = min(n, total) clamp;
    // 3-per-chunk packing leaves a short final chunk for cases 0 and 1
    val cases = Seq((0L, 320, 240, 10), (1L, 128, 96, 7), (2L, 64, 48, 2))
    val media = s.createDataset(cases).repartition(3).mapPartitions { it =>
      it.map { case (id, w, h, k) =>
        val frames = (0 until k).map { f =>
          Array.tabulate[Byte](50 + 7 * f)(i => ((f * 31 + i) % 256).toByte)
        }
        Multimodal.MediaRecord(id, "video/mp4",
          Multimodal.muxMp4Video(w, h, timescale = 90000L, sampleDelta = 3000L,
            codec = "mp4v", frames = frames, samplesPerChunk = 3))
      }
    }
    // track metadata via the demuxer itself (not the generation params):
    // codec/dims/timescale/count all come back out of the walked boxes
    val meta = media.map { m =>
      val v = Multimodal.demuxMp4(m.payload)
        .getOrElse(throw new IllegalStateException(s"mp4 demux failed for case ${m.doc_id}"))
      (m.doc_id, v.frames.size.toLong, v.codec, v.width.toLong, v.height.toLong,
        v.timescale, v.sampleDelta * 1000000L / v.timescale)
    }.toDF("case_id", "total", "codec", "width", "height", "timescale", "us_per_frame")
    val frames = Multimodal.frameSample(media, sampleN)
      .map { fr =>
        (fr.doc_id, fr.frameIndex.toLong, fr.offsetBytes,
          fr.payload.length.toLong, (fr.payload(0) & 0xff).toLong)
      }.toDF("case_id", "sample_index", "offset_bytes", "frame_len", "first_byte")
    frames.join(broadcast(meta), "case_id")
      .select($"case_id", $"sample_index",
        expr("CAST(sample_index * total DIV least(4, total) AS BIGINT)").as("src_frame"),
        $"offset_bytes", $"frame_len", $"first_byte",
        $"codec", $"width", $"height", $"timescale", $"us_per_frame")
      .orderBy($"case_id", $"sample_index")
  }

  private val mmMp4FramesSql =
    """WITH c(case_id, w, h, k) AS (VALUES
      |  (0, 320, 240, 10), (1, 128, 96, 7), (2, 64, 48, 2)),
      |s AS (
      |  SELECT case_id, w, h, k, least(4, k) AS kk, unnest(range(least(4, k))) AS i
      |  FROM c),
      |t AS (SELECT *, i * k // kk AS src FROM s)
      |SELECT CAST(case_id AS BIGINT) AS case_id, CAST(i AS BIGINT) AS sample_index,
      |  CAST(src AS BIGINT) AS src_frame,
      |  CAST(32 + 50 * src + 7 * src * (src - 1) // 2 AS BIGINT) AS offset_bytes,
      |  CAST(50 + 7 * src AS BIGINT) AS frame_len,
      |  CAST((src * 31) % 256 AS BIGINT) AS first_byte,
      |  'mp4v' AS codec, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(90000 AS BIGINT) AS timescale, CAST(33333 AS BIGINT) AS us_per_frame
      |FROM t ORDER BY case_id, sample_index""".stripMargin

  /** Binary sign quantization + Hamming-distance top-k — the 1-bit
    * compression extreme of the quantized-search family (int8 =
    * emb_quantize, PQ/ADC = emb_pq_codes/sim_adc_search): each 64-dim
    * vector collapses to 64 sign bits held as two BIGINT words (32 bits
    * each — no engine touches a sign bit, so Spark and DuckDB shift
    * arithmetic stays identical), and distance is two XOR+popcounts.
    *
    * Scale: codes are 16 bytes/vector — a billion-vector index fits in
    * ~16 GB, the query side broadcasts, and the scan side is one narrow
    * codegen'd projection; the per-query rank window compiles to
    * WindowGroupLimit (map-side top-k), so the shuffle carries ≤ k rows
    * per (query, partition), never the corpus.
    */
  private def simHammingTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val word = (base: Int) =>
      s"aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) -> " +
        s"IF(element_at(embedding, i + ${base + 1}) > 0.0, " +
        s"acc | shiftleft(CAST(1 AS BIGINT), i), acc))"
    val codes = Tables.embeddings(s, dir).select($"vec_id",
      expr(word(0)).as("lo"), expr(word(32)).as("hi"))
    val q = codes.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"lo".as("qlo"), $"hi".as("qhi"))
    val w = Window.partitionBy($"qid").orderBy($"hamming", $"vec_id")
    codes.filter($"vec_id" >= 10).crossJoin(broadcast(q))
      .withColumn("hamming",
        expr("CAST(bit_count(lo ^ qlo) + bit_count(hi ^ qhi) AS BIGINT)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .select($"qid", $"vec_id".as("cand_id"), $"rank", $"hamming")
      .orderBy($"qid", $"rank")
  }

  private val simHammingTopkSql =
    """WITH c AS (
      |  SELECT vec_id,
      |    bit_or(CASE WHEN i < 32 AND embedding[CAST(i + 1 AS INT)] > 0.0
      |      THEN (1::BIGINT << CAST(i AS INT)) ELSE 0::BIGINT END) AS lo,
      |    bit_or(CASE WHEN i >= 32 AND embedding[CAST(i + 1 AS INT)] > 0.0
      |      THEN (1::BIGINT << CAST(i - 32 AS INT)) ELSE 0::BIGINT END) AS hi
      |  FROM embeddings, range(0, 64) t(i)
      |  GROUP BY vec_id),
      |d AS (
      |  SELECT q.vec_id AS qid, c2.vec_id AS cand_id,
      |    CAST(bit_count(xor(q.lo, c2.lo)) + bit_count(xor(q.hi, c2.hi)) AS BIGINT) AS hamming
      |  FROM c q JOIN c c2 ON q.vec_id < 10 AND c2.vec_id >= 10),
      |r AS (
      |  SELECT qid, cand_id, hamming,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY hamming, cand_id) AS BIGINT) AS rank
      |  FROM d)
      |SELECT qid, cand_id, rank, hamming FROM r WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin

  /** Perceptual image hashing end to end through the REAL decode path
    * ([[Multimodal.imagePhash]]): executor-generated PNG/BMP patterns
    * whose 8×8 block-mean hashes are hand-derivable — solid (no block
    * beats the mean → 0), left/right and top/bottom splits (exactly the
    * right/bottom half-bits), 1-px checkerboard (uniform at block scale
    * → 0). The oracle is pure constants, so a match proves decode → luma →
    * block sums → exact cross-multiplied thresholding, bit for bit.
    *
    * Scale: one mapPartitions codec stage (the one place ImageIO can
    * live), then hashes are 16 bytes/image — dedup joins on them like
    * `sim_hamming_topk`.
    */
  private def mmImagePhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cases = Seq(
      (0L, "png_solid", 24, 24),
      (1L, "png_leftright", 32, 32),
      (2L, "png_topbottom", 32, 32),
      (3L, "png_checker1", 16, 16),
      (4L, "bmp_solid", 24, 24))
    s.createDataset(cases).repartition(2).mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      def img(fmt: String, w: Int, h: Int, rgbAt: (Int, Int) => Int): Array[Byte] = {
        val b = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) b.setRGB(x, y, rgbAt(x, y))
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(b, fmt, out)
        out.toByteArray
      }
      it.map { case (id, kind, w, h) =>
        val payload = kind match {
          case "png_solid"     => img("png", w, h, (_, _) => 0x808080)
          case "png_leftright" => img("png", w, h, (x, _) => if (x < w / 2) 0x000000 else 0xffffff)
          case "png_topbottom" => img("png", w, h, (_, y) => if (y < h / 2) 0x000000 else 0xffffff)
          // 1-px checker: every 2×2 block holds 2 black + 2 white pixels,
          // so all block means tie the global mean → hash 0 (a 2-px cell
          // would ALIAS to the block grid and hash as a checkerboard)
          case "png_checker1"  => img("png", w, h, (x, y) => if ((x + y) % 2 == 0) 0x000000 else 0xffffff)
          case "bmp_solid"     => img("bmp", w, h, (_, _) => 0x404040)
        }
        val (lo, hi) = graft.operators.Multimodal
          .imagePhash(graft.operators.Multimodal.MediaRecord(id, "image/x", payload))
          .getOrElse(throw new IllegalStateException(s"phash decode failed for $kind"))
        (id, kind, lo, hi)
      }
    }.toDF("case_id", "kind", "hash_lo", "hash_hi")
      .orderBy($"case_id")
  }

  // bit y*8+x set when the block beats the global mean:
  //  leftright → x ≥ 4 in every row → each row byte 0xF0 → halves 0xF0F0F0F0
  //  topbottom → y ≥ 4 → bits 32..63 → lo 0, hi 0xFFFFFFFF
  //  solids / 2px-checker → uniform at block scale → 0
  private val mmImagePhashSql =
    """SELECT CAST(case_id AS BIGINT) AS case_id, kind,
      |  CAST(hash_lo AS BIGINT) AS hash_lo, CAST(hash_hi AS BIGINT) AS hash_hi
      |FROM (VALUES
      |  (0, 'png_solid', 0, 0),
      |  (1, 'png_leftright', 4042322160, 4042322160),
      |  (2, 'png_topbottom', 0, 4294967295),
      |  (3, 'png_checker1', 0, 0),
      |  (4, 'bmp_solid', 0, 0)) AS v(case_id, kind, hash_lo, hash_hi)
      |ORDER BY case_id""".stripMargin

  // ------------------------------------------------------ hybrid RRF fusion

  /** Hybrid retrieval by Reciprocal Rank Fusion: the lexical arm is the
    * BM25 ranking (TextOps, fixed query terms), the vector arm is the
    * brute-force cosine ranking for query vector 0 (`vec_id` aligns with
    * `doc_id` in the synthetic corpus) — both truncated to their top-50,
    * then fused with the classic RRF k = 60 as EXACT integers:
    * `1_000_000 DIV (60 + rank)` per arm, summed, missing membership
    * contributing 0. Scale shape: each arm ends in a TakeOrdered top-50,
    * the rank windows run on ≤ 50 surviving rows, and the fusion is a
    * 50∪50-row outer join — driver-bounded constants regardless of corpus
    * size. The oracle replays BOTH arms (the shared BM25 CTE chain + the
    * brute-cosine CTE) and the integer fusion.
    */
  private def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val lexTop = TextOps.bm25Scored(s, dir)
      .orderBy($"score_fp".desc, $"doc_id").limit(50)
    val lex = lexTop
      .withColumn("rank_lex",
        row_number().over(Window.orderBy($"score_fp".desc, $"doc_id")).cast("long"))
      .select($"doc_id", $"rank_lex")
    val e = Tables.embeddings(s, dir)
    val vec = Similarity.bruteForceTopK(e, e.filter($"vec_id" === 0L), k = 50)
      .select($"cand_id".as("doc_id"), $"rank".cast("long").as("rank_vec"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf_fp",
        coalesce(expr("1000000L DIV (60L + rank_lex)"), lit(0L)) +
          coalesce(expr("1000000L DIV (60L + rank_vec)"), lit(0L)))
      .select($"doc_id", $"rank_lex", $"rank_vec", $"rrf_fp")
      .orderBy($"rrf_fp".desc, $"doc_id")
      .limit(20)
  }

  private val hybridRrfSql =
    s"""WITH ${TextOps.bm25ScoredCtes},
       |lex AS (
       |  SELECT doc_id, rank_lex FROM (
       |    SELECT doc_id,
       |      CAST(ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id) AS BIGINT) AS rank_lex
       |    FROM bm) t
       |  WHERE rank_lex <= 50),
       |nv AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |vscored AS (
       |  SELECT c.vec_id AS doc_id,
       |    list_sum(list_transform(list_zip(q.embedding, c.embedding),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (q.nrm * c.nrm) AS cos
       |  FROM nv q JOIN nv c ON q.vec_id = 0 AND q.vec_id <> c.vec_id),
       |vec AS (
       |  SELECT doc_id, rank_vec FROM (
       |    SELECT doc_id,
       |      CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS rank_vec
       |    FROM vscored) t
       |  WHERE rank_vec <= 50)
       |SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id, rank_lex, rank_vec,
       |  CAST(COALESCE(1000000 // (60 + rank_lex), 0)
       |     + COALESCE(1000000 // (60 + rank_vec), 0) AS BIGINT) AS rrf_fp
       |FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
       |ORDER BY rrf_fp DESC, doc_id LIMIT 20""".stripMargin

  /** MRR + NDCG@10 of the LSH index against brute-force graded truth —
    * the ranking-quality evaluation every retrieval/ANN index ships with
    * (recall@k alone misses rank ORDER). Truth = exact cosine top-10 with
    * graded gain 10..1 by true rank; system = the production LSH path.
    * All DCG sums are integer (gain × driver-inlined discount constants
    * in millionths — `Similarity.discountPpm` — so no transcendental
    * function ever crosses an engine boundary); the one double division
    * dcg/idcg is per-row. Scale: both arms are top-k relations, so the
    * metric join is O(queries · k) whatever the corpus size.
    */
  private def ndcgMrr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val probes = e.filter($"vec_id" < 10)
    val truth = Similarity.bruteForceTopK(e, probes, k = 10)
      .select($"query_id", $"cand_id", $"rank", (lit(11L) - $"rank").as("gain"))
    val sys = Similarity.lshTopK(e, probes, k = 10, nbits = 8)
      .select($"query_id", $"cand_id", $"rank")
    Similarity.rankingMetrics(sys, truth, kMax = 10)
  }

  private lazy val ndcgMrrSql = {
    val bruteSql =
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |sc AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (q.nrm * c.nrm) AS cos
        |  FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |SELECT query_id, cand_id, rank FROM (
        |  SELECT query_id, cand_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
        |  FROM sc) t
        |WHERE rank <= 10""".stripMargin
    val discRows = Similarity.discountPpm(10).zipWithIndex
      .map { case (d, i) => s"(${i + 1}, $d)" }.mkString(", ")
    s"""WITH truth AS (
       |  SELECT query_id, cand_id, rank, CAST(11 - rank AS BIGINT) AS gain
       |  FROM ($bruteSql) b),
       |sysq AS (
       |  SELECT query_id, cand_id, rank
       |  FROM (${Similarity.lshTopKOracleSql(10, 10, nbits = 8)}) l),
       |dd AS (SELECT * FROM (VALUES $discRows) AS v(r, disc)),
       |hit AS (
       |  SELECT s.query_id, CAST(SUM(t.gain * dd.disc) AS BIGINT) AS dcg_ppm,
       |    MIN(s.rank) AS first_rel
       |  FROM sysq s JOIN truth t ON s.query_id = t.query_id AND s.cand_id = t.cand_id
       |  JOIN dd ON dd.r = s.rank GROUP BY 1),
       |ideal AS (
       |  SELECT t.query_id, CAST(SUM(t.gain * dd.disc) AS BIGINT) AS idcg_ppm
       |  FROM truth t JOIN dd ON dd.r = t.rank GROUP BY 1)
       |SELECT i.query_id AS query_id,
       |  CAST(COALESCE(1000000 // h.first_rel, 0) AS BIGINT) AS rr_ppm,
       |  CAST(COALESCE(h.dcg_ppm, 0) AS BIGINT) AS dcg_ppm,
       |  i.idcg_ppm AS idcg_ppm,
       |  CAST(COALESCE(h.dcg_ppm, 0) AS DOUBLE) / CAST(i.idcg_ppm AS DOUBLE) AS ndcg
       |FROM ideal i LEFT JOIN hit h ON i.query_id = h.query_id
       |ORDER BY query_id""".stripMargin
  }

  /** ANN SERVING through the storage plane: the IVF inverted file
    * (centroid → member ids) is PERSISTED into a KeyValueTable by an
    * indexing job, then a separate serving pass answers queries by
    * reading ONLY the probed buckets back from the store (literal pk
    * predicates prune to those buckets' files via parquet stats) and
    * re-ranking inside them — the online sibling of `sim_ann_ivf`, the
    * same shape `dedup_index_lookup` gives the LSH index. The oracle is
    * the DIRECT path's SQL: the served result must reproduce
    * `Similarity.ivfTopK` bit for bit through the
    * build → store → probe → read → re-rank round trip. The probed
    * bucket ids collect to the driver (≤ queries × nprobe, bounded by
    * construction).
    */
  /** Indexing job half of `sim_index_lookup`: builds the inverted file
    * and persists it to a fresh KeyValueTable. Exposed so specs can
    * exercise storage lifecycle (compaction) between build and serve.
    */
  private[queries] def buildIvfIndex(s: SparkSession, dir: String): graft.kv.KeyValueTable = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val centroids = Similarity.ivfCentroids(Similarity.ivfCentsDf(e))
    val work = graft.util.WorkDirs.temp("graft-ivfkv")
    val ix = new graft.kv.KeyValueTable(s, work, "ivf_index", partitionCount = 8)
    ix.put(Similarity.ivfAssign(e, centroids)
      .select(format_string("%020d", $"c_id").as("pk"),
        format_string("%020d", $"vec_id").as("sk"),
        encode(lit(""), "UTF-8").as("value")))
    ix
  }

  /** Serving half of `sim_index_lookup`: probe nprobe centroids, read
    * only those buckets from the stored index, re-rank exactly.
    */
  private[queries] def serveIvf(s: SparkSession, dir: String,
                                ix: graft.kv.KeyValueTable): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, dir)
    val cents = Similarity.ivfCentsDf(e)
    val probes = Similarity.ivfProbes(e.filter($"vec_id" < 10), cents, nprobe = 2)
    val probePks = probes.select(format_string("%020d", $"c_id").as("pk"))
      .distinct().as[String].collect().toSeq
    val members = ix.entries().filter($"pk".isin(probePks: _*))
      .select($"pk".cast("long").as("c_id"), $"sk".cast("long").as("cand_id"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"cand_id")
    members.join(broadcast(probes), Seq("c_id"))
      .filter($"qid" =!= $"cand_id")
      .join(e.select($"vec_id".as("cand_id"), $"embedding".as("cand_emb")), Seq("cand_id"))
      .select($"qid".as("query_id"), $"cand_id",
        Similarity.cosine($"q_emb", $"cand_emb").as("cos"))
      .distinct()
      .withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
      .select($"query_id", $"cand_id", $"rank", $"cos")
      .orderBy($"query_id", $"rank")
  }

  private def simIndexLookup(s: SparkSession, dir: String): DataFrame =
    serveIvf(s, dir, buildIvfIndex(s, dir))

  /** FILTERED vector search — metadata predicate + ANN over ONE shared
    * index, the most common production retrieval shape ("top-k similar
    * where label ∈ …"). The index (centroids + assignments) is built
    * once on the FULL corpus; the predicate applies to CANDIDATES after
    * bucket probing and before ranking, so any filter composes with the
    * same index (assignment is per-vector, so filtering candidates
    * post-probe equals filtering the corpus pre-index — no dedicated
    * per-filter index needed). The oracle injects the identical
    * predicate at the identical point of the replayed plan.
    */
  private def filteredAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val cents = Similarity.ivfCentsDf(e)
    val centroids = Similarity.ivfCentroids(cents)
    val assigned = Similarity.ivfAssign(e, centroids)
      .join(e.select($"vec_id", $"label"), Seq("vec_id"))
      .filter($"label" % 2 === 0)
      .select($"vec_id", $"embedding", $"c_id")
    val probes = Similarity.ivfProbes(e.filter($"vec_id" < 10), cents, nprobe = 2)
    Similarity.ivfRank(assigned, probes, k = 5)
      .select($"query_id", $"cand_id", $"rank", $"cos")
      .orderBy($"query_id", $"rank")
  }

  private lazy val filteredAnnSql = Similarity.ivfTopKOracleSql(10, 5,
    candJoinSql = "JOIN embeddings fm ON a.vec_id = fm.vec_id AND fm.label % 2 = 0")

  val defs: Seq[(String, Qf, Option[String])] = Seq(
    ("sim_ndcg_mrr",     ndcgMrr _,      Some(ndcgMrrSql)),
    ("sim_index_lookup", simIndexLookup _, Some(Similarity.ivfTopKOracleSql(10, 5))),
    ("sim_filtered_ann", filteredAnn _,    Some(filteredAnnSql)),
    ("sim_hybrid_rrf",   hybridRrf _,    Some(hybridRrfSql)),
    ("sim_cosine_pairs", cosinePairs _,  Some(cosinePairsSql)),
    ("sim_topk_brute",   topkBrute _,    Some(topkBruteSql)),
    ("sim_ann_lsh",      annLsh _,       Some(Similarity.lshTopKOracleSql(10, 5, nbits = 8))),
    ("sim_ann_recall",   annRecall _,    Some(annRecallSql)),
    ("sim_knn_classify", knnClassify _,  Some(knnClassifySql)),
    ("sim_ann_ivf",      annIvf _,       Some(Similarity.ivfTopKOracleSql(10, 5))),
    ("dedup_embedding",  dedupEmbedding _, Some(dedupEmbeddingSql)),
    ("dedup_semdedup",   semDedup _,     Some(semDedupSql)),
    ("mm_binary_meta",   mmBinaryMeta _, Some(mmBinaryMetaSql)),
    ("mm_features",      mmFeatures _,   Some(mmFeaturesSql)),
    ("mm_frames",        mmFrames _,     Some(mmFramesSql)),
    ("mm_decode_real",   mmDecodeReal _, Some(mmDecodeRealSql)),
    ("mm_audio_real",    mmAudioReal _,  Some(mmAudioRealSql)),
    ("mm_audio_features", mmAudioFeatures _, Some(mmAudioFeaturesSql)),
    ("mm_video_real",    mmVideoReal _,  Some(mmVideoRealSql)),
    ("mm_gif_frames",    mmGifFrames _,  Some(mmGifFramesSql)),
    ("mm_mp4_frames",    mmMp4Frames _,  Some(mmMp4FramesSql)),
    ("emb_quantize",     quantize _,     Some(quantizeSql)),
    ("sim_hamming_topk", simHammingTopk _, Some(simHammingTopkSql)),
    ("mm_image_phash",   mmImagePhash _,   Some(mmImagePhashSql)),
  )
}
