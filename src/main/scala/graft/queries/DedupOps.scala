package graft.queries

import graft.Tables
import graft.QueryRegistry.Qf
import graft.operators.{MinHashLSH, SimHash}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — exact, n-gram Jaccard,
  * SimHash and MinHash+LSH, each partition-parallel with no driver-side
  * state (SURVEY §7 step 9 "beyond-reference" inventory).
  */
object DedupOps {

  /** Exact dedup via content fingerprint, summarized per source: the
    * hash-groupBy shape — one map-side-combined shuffle on the fingerprint
    * regardless of corpus size.
    */
  private def exact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"source", md5(lower(trim($"text"))).as("fp"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct($"fp").as("n_distinct"),
           (count(lit(1)) - countDistinct($"fp")).as("n_exact_dups"))
      .orderBy($"source")
  }

  private val exactSql =
    """SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_distinct,
      |  COUNT(*) - COUNT(DISTINCT fp) AS n_exact_dups
      |FROM (SELECT source, md5(lower(trim(text))) AS fp FROM documents) t
      |GROUP BY source ORDER BY source""".stripMargin

  /** Exact n-gram (token-set) Jaccard pairs over the short-document slice:
    * the brute-force verifier the LSH path approximates.
    */
  private def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    jaccardPairs(s, dir, 0.35).orderBy($"a_id", $"b_id")
  }

  /** Maximum documents the brute-force pair join accepts. All-pairs
    * verification is O(N²) BY DESIGN — it exists to check the LSH path on
    * a bounded slice, never to run over a full corpus; the guard turns a
    * silent 100-TB cross product into a loud error at plan time.
    */
  val BruteForceMaxDocs: Long = 100000L

  /** Exact Jaccard pairs over the short-doc slice — the BOUNDED
    * brute-force verifier the LSH path is measured against (guarded by
    * [[BruteForceMaxDocs]]; use [[graft.operators.MinHashLSH.nearDuplicates]]
    * for unbounded corpora).
    * Token sets are interned to 64-bit hashes: |A∩B| over bigint arrays
    * is several times cheaper than string arrays and collision odds are
    * ~1e-10 for this vocabulary, so Jaccard values match the raw-token
    * oracle bit-for-bit. The size-ratio bound — J(a,b) ≤
    * min(|a|,|b|)/max(|a|,|b|) — prunes pairs before the intersection
    * with zero false negatives; the stream side is repartitioned so the
    * broadcast nested-loop pair join parallelizes, and sorted arrays make
    * the intersection a codegen'd zero-allocation merge loop.
    */
  private def jaccardPairs(s: SparkSession, dir: String, threshold: Double): DataFrame = {
    import s.implicits._
    import graft.functions.GraftFunctions.sorted_intersect_size
    val slice = Tables.documents(s, dir).filter($"n_chars" < 200)
    val n = slice.limit((BruteForceMaxDocs + 1).toInt).count()
    require(n <= BruteForceMaxDocs,
      s"brute-force Jaccard verifier is bounded to $BruteForceMaxDocs docs, got > $n; " +
        "use MinHashLSH.nearDuplicates for unbounded corpora")
    val t = slice
      .select($"doc_id",
        array_sort(array_distinct(
          transform(split(lower(trim($"text")), "\\s+"), x => xxhash64(x)))).as("toks"))
    val a = t.repartition($"doc_id").select($"doc_id".as("a_id"), $"toks".as("a_toks"))
    val b = broadcast(t.select($"doc_id".as("b_id"), $"toks".as("b_toks")))
    a.join(b, $"a_id" < $"b_id" &&
        least(size($"a_toks"), size($"b_toks")).cast("double") >=
          lit(threshold) * greatest(size($"a_toks"), size($"b_toks")).cast("double"))
      .withColumn("inter", sorted_intersect_size($"a_toks", $"b_toks").cast("double"))
      .withColumn("jaccard",
        $"inter" / (size($"a_toks") + size($"b_toks") - $"inter"))
      .filter($"jaccard" >= threshold)
      .select($"a_id", $"b_id", $"jaccard")
  }

  private val ngramJaccardSql =
    """WITH t AS (
      |  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
      |  FROM documents WHERE n_chars < 200)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |    (len(a.toks) + len(b.toks) - CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)) AS jaccard
      |FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  AND CAST(least(len(a.toks), len(b.toks)) AS DOUBLE) >=
      |      0.35 * CAST(greatest(len(a.toks), len(b.toks)) AS DOUBLE)
      |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |    (len(a.toks) + len(b.toks) - CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)) >= 0.35
      |ORDER BY a_id, b_id""".stripMargin

  /** SimHash signatures (cross-engine-reproducible md5 token hashes) for
    * a doc slice — the oracle recomputes identical 60-bit signatures.
    */
  private def simhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SimHash.signatures(
        Tables.documents(s, dir).filter($"doc_id" < 200), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** MinHash+LSH near-dup candidates with exact verification over the FULL
    * documents table. The production path runs the cross-engine-
    * reproducible hash family, so the DuckDB oracle replays the whole
    * pipeline — shingling, signatures, banding, candidates, verification —
    * and hash-matches every surviving pair (plus the recall-vs-brute spec).
    */
  private def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    MinHashLSH.nearDuplicates(Tables.documents(s, dir), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.35)
      .orderBy($"a_id", $"b_id")
  }

  private val minhashLshSql =
    MinHashLSH.nearDuplicatesOracleSql("", numHashes = 64, bands = 16, threshold = 0.35)

  /** Near-dup clusters: connected components over the Jaccard≥0.6 pair
    * graph by iterative min-label propagation — the step that turns pair
    * lists into keep/drop groups in a dedup pipeline. The pair graph comes
    * from the PRODUCTION MinHash+LSH path (banded bucket join — no O(N²)
    * broadcast nested-loop anywhere; the brute-force verifier stays behind
    * the bounded `dedup_ngram_jaccard` twin). Each propagation iteration
    * is one join + min-aggregate (both shuffle on the node id);
    * convergence takes O(log diameter) rounds with a driver-side
    * empty-check — no driver-side data. The oracle replays the SAME LSH
    * pipeline (reproducible hash family) and computes the same fixpoint
    * (min reachable id) with a recursive CTE.
    */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = MinHashLSH.nearDuplicates(
        Tables.documents(s, dir).filter($"n_chars" < 200), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.6)
      .select($"a_id", $"b_id")
    clusterLabels(s, pairs)
      .select($"id".as("doc_id"), $"lbl".as("cluster_id")).orderBy($"doc_id")
  }

  /** Connected-component labels `(id, lbl)` over an undirected pair graph
    * by iterative min-label propagation with pointer jumping (shared by
    * `dedup_clusters` and `dedup_keep_best`).
    */
  private[queries] def clusterLabels(s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    // both directions in ONE pass over the pair join (a union of the
    // reversed projection would compute the join twice), then
    // localCheckpoint (not persist) truncates lineage so iteration N's
    // plan doesn't embed iterations 0..N-1 — planning stays O(1) per round
    val edges = pairs.select(explode(array(
        struct($"a_id".as("src"), $"b_id".as("dst")),
        struct($"b_id".as("src"), $"a_id".as("dst")))).as("e"))
      .select($"e.src".as("src"), $"e.dst".as("dst"))
      .localCheckpoint()
    // seed = min(self, min neighbor): EXACTLY the result of propagation
    // round 1 (whose pointer-jump term is still the identity), computed
    // inside the same single shuffle the old `distinct()` init already
    // paid — one full join round ahead for free (r16; guide §2 — fewer
    // shuffle rounds). The fixpoint is unchanged: seeds are ids of nodes
    // in the same component, propagation stays monotone non-increasing
    // and bounded by the component min, and every seed value is itself a
    // labeled node id (each dst is also a src in the symmetrized edge
    // set), so the pointer-jump join stays total.
    var labels = edges.groupBy($"src".as("id")).agg(min($"dst").as("mn"))
      .select($"id", least($"id", $"mn").as("lbl")).localCheckpoint()
    // one propagation round: min over self, edge neighbors and
    // label-of-label (pointer jumping — chains halve per round)
    def step(ls: DataFrame): DataFrame = {
      val prop = edges.join(ls, $"dst" === $"id").select($"src".as("id"), $"lbl")
      val viaLbl = ls.as("x").join(ls.as("y"), col("x.lbl") === col("y.id"))
        .select(col("x.id").as("id"), col("y.lbl").as("lbl"))
      ls.union(prop).union(viaLbl).groupBy($"id").agg(min($"lbl").as("lbl"))
    }
    var converged = false
    // prime the probe with the SEED's sum (one cheap aggregate over the
    // just-checkpointed init): labels are monotone non-increasing per id
    // under step, so sum(step(step(seed))) == sum(seed) already implies
    // the seed was the fixpoint — near-dup components are mostly cliques
    // of diameter ≤ 2, where the min(self, neighbors) seed IS the final
    // label and the first pass doubles as the confirming pass (r16)
    var lastSum: Option[Long] =
      Some(labels.agg(org.apache.spark.sql.functions.sum($"lbl")).head().getLong(0))
    var iter = 0
    while (!converged && iter < 13) {
      // two composed rounds per materialization (lazy checkpoint): the
      // convergence probe below is the single job per loop pass
      val next = step(step(labels)).localCheckpoint(false)
      // labels are monotonically non-increasing per id, so the label SUM
      // strictly decreases until the fixpoint — an aggregate beats a
      // join+diff as the probe and doubles as the materializing action
      val sum = next.agg(org.apache.spark.sql.functions.sum($"lbl")).head().getLong(0)
      converged = lastSum.contains(sum)
      lastSum = Some(sum)
      labels = next
      iter += 1
      graft.util.Pin.event("clusterLabels.pass", "pass" -> iter, "sum" -> sum, "converged" -> converged)
    }
    labels
  }

  /** Canonical-document selection: for every near-dup cluster keep the
    * "best" member (longest, ties to the smallest id) and account for
    * what gets dropped — the keep/drop decision step that turns cluster
    * labels into an actual dedup of the corpus. Pairs come from the same
    * production banded-LSH path as `dedup_clusters` (32-hash family);
    * the selection itself is ONE keyed aggregation with a `max(struct)`
    * argmax — map-side partial, no window, no second shuffle.
    */
  private def keepBest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).filter($"n_chars" < 200)
    val pairs = MinHashLSH.nearDuplicates(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.6)
      .select($"a_id", $"b_id")
    clusterLabels(s, pairs)
      .select($"id".as("doc_id"), $"lbl".as("cluster_id"))
      .join(docs.select($"doc_id", $"n_chars"), Seq("doc_id"))
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_docs"),
           max(struct($"n_chars", (-$"doc_id").as("neg_id"))).as("best"),
           sum($"n_chars").as("tot_chars"))
      .select($"cluster_id", $"n_docs",
        (-$"best.neg_id").as("keep_doc"),
        $"best.n_chars".as("keep_chars"),
        ($"tot_chars" - $"best.n_chars").as("dropped_chars"))
      .orderBy($"cluster_id")
  }

  private val keepBestSql =
    s"""WITH RECURSIVE ${MinHashLSH.oraclePairsCtes("n_chars < 200", 32, 8, 0.6)},
       |e AS (SELECT a_id AS src, b_id AS dst FROM pairs UNION SELECT b_id, a_id FROM pairs),
       |r(id, lbl) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT e.src, r.lbl FROM e JOIN r ON e.dst = r.id),
       |cl AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM r GROUP BY id),
       |j AS (
       |  SELECT cluster_id, d.doc_id, d.n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY cluster_id
       |      ORDER BY d.n_chars DESC, d.doc_id) AS rk,
       |    CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_docs,
       |    CAST(SUM(d.n_chars) OVER (PARTITION BY cluster_id) AS BIGINT) AS tot
       |  FROM cl JOIN documents d ON cl.doc_id = d.doc_id)
       |SELECT cluster_id, n_docs, doc_id AS keep_doc, n_chars AS keep_chars,
       |  tot - n_chars AS dropped_chars
       |FROM j WHERE rk = 1 ORDER BY cluster_id""".stripMargin

  private val dedupClustersSql =
    s"""WITH RECURSIVE ${MinHashLSH.oraclePairsCtes("n_chars < 200", 64, 16, 0.6)},
      |e AS (SELECT a_id AS src, b_id AS dst FROM pairs UNION SELECT b_id, a_id FROM pairs),
      |r(id, lbl) AS (
      |  SELECT DISTINCT src, src FROM e
      |  UNION
      |  SELECT e.src, r.lbl FROM e JOIN r ON e.dst = r.id)
      |SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM r GROUP BY id ORDER BY doc_id""".stripMargin

  /** Oracle-checked MinHash+LSH on a bounded slice: the reproducible hash
    * family lets DuckDB replay shingling → signatures → banding →
    * candidates → verification and hash-match every surviving pair.
    */
  private def minhashOracle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    MinHashLSH.oracleNearDuplicates(
        Tables.documents(s, dir).filter($"doc_id" < 400), "doc_id", "text")
      .orderBy($"a_id", $"b_id")
  }

  /** One-sided token-set CONTAINMENT pairs over the short-doc slice:
    * C(a→b) = |A∩B| / |A| ≥ 0.8 — the asymmetric near-dup relation that
    * catches quote-inclusion / subset documents which Jaccard misses
    * (a small doc fully contained in a large one has low Jaccard but
    * containment 1). Same bounded-verifier contract as
    * `dedup_ngram_jaccard` (the [[BruteForceMaxDocs]] guard applies;
    * unbounded corpora go through the LSH path first); the |B| ≥ 0.8|A|
    * size bound prunes pairs with zero false negatives since
    * |A∩B| ≤ min(|A|,|B|).
    */
  private def containment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.GraftFunctions.sorted_intersect_size
    val slice = Tables.documents(s, dir).filter($"n_chars" < 200)
    val n = slice.limit((BruteForceMaxDocs + 1).toInt).count()
    require(n <= BruteForceMaxDocs,
      s"brute-force containment verifier is bounded to $BruteForceMaxDocs docs, found at least $n; " +
        "use MinHashLSH.nearDuplicates for unbounded corpora")
    val t = slice.select($"doc_id",
      array_sort(array_distinct(
        transform(split(lower(trim($"text")), "\\s+"), x => xxhash64(x)))).as("toks"))
    val a = t.repartition($"doc_id").select($"doc_id".as("a_id"), $"toks".as("a_toks"))
    val b = broadcast(t.select($"doc_id".as("b_id"), $"toks".as("b_toks")))
    a.join(b, $"a_id" =!= $"b_id" &&
        size($"b_toks").cast("double") >= lit(0.8) * size($"a_toks").cast("double"))
      .withColumn("inter", sorted_intersect_size($"a_toks", $"b_toks").cast("double"))
      .withColumn("containment", $"inter" / size($"a_toks").cast("double"))
      .filter($"containment" >= 0.8)
      .select($"a_id", $"b_id", $"containment")
      .orderBy($"a_id", $"b_id")
  }

  private val containmentSql =
    """WITH t AS (
      |  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS toks
      |  FROM documents WHERE n_chars < 200)
      |SELECT a_id, b_id, containment FROM (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |      / CAST(len(a.toks) AS DOUBLE) AS containment
      |  FROM t a JOIN t b ON a.doc_id <> b.doc_id
      |    AND CAST(len(b.toks) AS DOUBLE) >= 0.8 * CAST(len(a.toks) AS DOUBLE)) p
      |WHERE containment >= 0.8
      |ORDER BY a_id, b_id""".stripMargin

  /** Window size for duplicated-span removal: a token span is removed
    * when every one of its tokens is covered by some k-gram occurring
    * ≥ 2 times corpus-wide (within-doc repeats count — the same rule the
    * suffix-array exact-substring dedup literature applies; see
    * "Deduplicating Training Data Makes Language Models Better",
    * Lee et al. 2021, §3.1, at word granularity).
    */
  val SpanK = 8

  /** Exact duplicated-SPAN removal — the substring-level complement of
    * the whole-doc dedup family: instead of dropping documents, drop the
    * repeated passages (boilerplate, quotes, licence headers) inside
    * otherwise-unique documents. Every k-gram occurrence whose gram
    * appears ≥ 2 times anywhere in the corpus marks its k token
    * positions covered; covered tokens are removed and the surviving
    * text is fingerprinted.
    *
    * Scale: tokens are split once and positions derived from one
    * generator explode; the duplicated-gram set comes from one
    * map-combined count on the gram fingerprint; the cover join is an
    * equi-join on that fingerprint whose output is bounded by
    * k × (corpus token count) BEFORE the per-position distinct — linear
    * in corpus size, never pairwise (vs. the O(N²) verifier family).
    * A ubiquitous gram cannot blow up: a doc has at most `len` positions
    * to cover. The final per-doc rebuild is one keyed aggregation over
    * (doc, position) rows.
    */
  private def spanRemoval(s: SparkSession, dir: String): DataFrame =
    spanRemovalOf(Tables.documents(s, dir))

  /** [[spanRemoval]] over an arbitrary `(doc_id, text)` frame (spec'd
    * directly on synthetic corpora with known span structure).
    */
  private[queries] def spanRemovalOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val k = SpanK
    val toks = GramStage.tokensOf(docs)
    // one row per k-gram occurrence: (doc_id, i) 1-based start, fingerprint
    val occ = toks.filter(size($"tk") >= k)
      .select($"doc_id", posexplode(GramStage.grams(k)).as(Seq("i0", "g")))
      .select($"doc_id", ($"i0" + 1).as("i"), md5($"g").as("gh"))
    val dup = occ.groupBy($"gh").agg(count(lit(1)).as("n")).filter($"n" >= 2)
    val covered = occ.join(dup.select($"gh"), Seq("gh"))
      .select($"doc_id", explode(sequence($"i", $"i" + (k - 1))).as("p"))
      .distinct()
      .withColumn("cov", lit(1))
    val tokPos = toks
      .select($"doc_id", posexplode($"tk").as(Seq("p0", "tok")))
      .select($"doc_id", ($"p0" + 1).as("p"), $"tok")
    tokPos.join(covered, Seq("doc_id", "p"), "left_outer")
      .withColumn("kept", $"cov".isNull)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"kept", 1L).otherwise(0L)).as("kept_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(when($"kept", struct($"p", $"tok")))),
          x => x.getField("tok")), " ")).as("kept_md5"))
      .orderBy($"doc_id")
  }

  private val spanRemovalSql = {
    val k = SpanK
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS i,
       |    md5(array_to_string(tk[i : i + $k - 1], ' ')) AS gh
       |  FROM tk, UNNEST(range(1, len(tk) - $k + 2)) AS t(i)
       |  WHERE len(tk) >= $k),
       |dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
       |cov AS (SELECT DISTINCT doc_id, p FROM (
       |  SELECT g.doc_id, CAST(unnest(range(i, i + $k)) AS BIGINT) AS p
       |  FROM g JOIN dup USING (gh))),
       |tp AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS p, tk[i] AS tok
       |  FROM tk, UNNEST(range(1, len(tk) + 1)) AS t(i))
       |SELECT tp.doc_id, COUNT(*) AS n_tokens,
       |  COUNT(*) FILTER (WHERE cov.p IS NULL) AS kept_tokens,
       |  md5(COALESCE(string_agg(tp.tok, ' ' ORDER BY tp.p)
       |    FILTER (WHERE cov.p IS NULL), '')) AS kept_md5
       |FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.p = cov.p
       |GROUP BY tp.doc_id ORDER BY tp.doc_id""".stripMargin
  }

  /** Near-dup LOOKUP served from a stored LSH index — the ONLINE half
    * of dedup: the batch pipeline (`dedup_minhash_lsh`) finds all pairs
    * inside a corpus; this query materializes the band→members index in
    * a KeyValueTable (pk = band:bsig, sk = doc_id — the composite-
    * sorted-key index pattern of `kv_index_lookup`) and then answers
    * "which existing docs near-duplicate THIS document?" for a probe
    * set: compute the probe's 16 band signatures, join the index's
    * resolved state on the bucket key, verify candidates with exact
    * Jaccard. At scale the index KVT is the persistent artifact an
    * ingest service multigets per arriving doc (16 point lookups via
    * bucket-pruned reads); here the bulk-probe form exercises the same
    * index through one equi-join. The oracle replays the full path:
    * the reproducible hash family, bucket membership, candidate join
    * and verification arithmetic.
    */
  private def dedupIndexLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.kv.KeyValueTable
    val docs = Tables.documents(s, dir)
    val work = graft.util.WorkDirs.temp("graft-lshkv")
    val ix = new KeyValueTable(s, work, "lsh_bands", partitionCount = 8)
    ix.put(MinHashLSH.bandSignatures(docs, "doc_id", "text")
      .select(format_string("%02d:%s", $"band", $"bsig").as("pk"),
        $"id".cast("string").as("sk"), encode(lit(""), "UTF-8").as("value")))
    val probes = docs.filter($"doc_id" % 50 === 0)
    val probePks = MinHashLSH.bandSignatures(probes, "doc_id", "text")
      .select($"id".as("probe_id"), format_string("%02d:%s", $"band", $"bsig").as("pk"))
    // hot-bucket guard, same cap as the batch LSH path: a boilerplate
    // flood sharing one bucket would otherwise fan every probe out to
    // all its members (quadratic in the flood); capped members still
    // match through their other 15 bands
    val sized = ix.entries().select($"pk", $"sk")
      .withColumn("bn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"pk")))
      .filter($"bn" <= MinHashLSH.DefaultMaxBucketSize)
      .drop("bn")
    val cand = probePks.join(sized, "pk")
      .select($"probe_id", $"sk".cast("long").as("match_id"))
      .filter($"probe_id" =!= $"match_id")
      .distinct()
    val toks = docs.select($"doc_id",
      array_sort(array_distinct(transform(
        split(lower(trim($"text")), "\\s+"), x => xxhash64(x)))).as("ts"))
    import graft.functions.GraftFunctions.sorted_intersect_size
    cand
      .join(toks.select($"doc_id".as("probe_id"), $"ts".as("pt")), "probe_id")
      .join(toks.select($"doc_id".as("match_id"), $"ts".as("mt")), "match_id")
      .withColumn("inter", sorted_intersect_size($"pt", $"mt").cast("double"))
      .withColumn("jaccard", $"inter" / (size($"pt") + size($"mt") - $"inter"))
      .filter($"jaccard" >= 0.35)
      .select($"probe_id", $"match_id", $"jaccard")
      .orderBy($"probe_id", $"match_id")
  }

  private val dedupIndexLookupSql = {
    val bands = MinHashLSH.oracleBandsCtes("", numHashes = 64, bands = 16)
    s"""WITH $bands,
       |bandsc AS (
       |  SELECT doc_id, band, bsig FROM (
       |    SELECT doc_id, band, bsig,
       |      COUNT(*) OVER (PARTITION BY band, bsig) AS bn FROM bands) v
       |  WHERE bn <= ${MinHashLSH.DefaultMaxBucketSize}),
       |probe AS (SELECT DISTINCT doc_id AS p, band, bsig FROM bands WHERE doc_id % 50 = 0),
       |cand AS (SELECT DISTINCT probe.p AS probe_id, b.doc_id AS match_id
       |  FROM probe JOIN bandsc b ON probe.band = b.band AND probe.bsig = b.bsig
       |    AND b.doc_id <> probe.p),
       |sets AS (SELECT doc_id, list_distinct(toks) AS ts FROM t),
       |o AS (SELECT probe_id, match_id,
       |  CAST(len(list_intersect(sa.ts, sb.ts)) AS DOUBLE) /
       |    (len(sa.ts) + len(sb.ts) - CAST(len(list_intersect(sa.ts, sb.ts)) AS DOUBLE)) AS jaccard
       |  FROM cand JOIN sets sa ON probe_id = sa.doc_id JOIN sets sb ON match_id = sb.doc_id)
       |SELECT probe_id, match_id, jaccard FROM o WHERE jaccard >= 0.35
       |ORDER BY probe_id, match_id""".stripMargin
  }

  /** Sketch PERSISTENCE + cross-shard union — the workflow that makes
    * mergeable summaries worth storing: per-source KMV distinct-token
    * sketches are serialized into a KeyValueTable (one row per source,
    * value = the k smallest hashes), read back by a "later job", and
    * UNIONED into the global estimate. Because a KMV's content is a
    * pure set function, sketch(union) == merge(stored sketches) exactly
    * — so the oracle replays both levels (per-source AND global) from
    * the raw corpus with the same k-th-smallest arithmetic, gating the
    * serialize → store → load → merge round trip bit for bit. At scale
    * this is per-day/per-shard corpus statistics unioned without
    * re-reading history.
    */
  private def dedupSketchUnion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.kv.KeyValueTable
    import graft.operators.DistinctSketch
    import graft.operators.DistinctSketch.Kmv
    val k = 64
    // job 1: one KMV of distinct tokens per source, persisted to a KVT
    val perSource = Tables.documents(s, dir)
      .select($"source", explode(split(lower(trim($"text")), "\\s+")).as("t"))
      .select($"source",
        conv(substring(md5($"t"), 1, 15), 16, 10).cast("long").as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new DistinctSketch.KmvAgg(k).toColumn)
      .collect() // one row per source — bounded
    val work = graft.util.WorkDirs.temp("graft-kmvkv")
    val store = new KeyValueTable(s, work, "sketches", partitionCount = 4)
    store.put(perSource.toSeq
      .map { case (src, kmv) => (src, "", kmv.hashes.mkString(",")) }
      .toDF("pk", "sk", "v")
      .select($"pk", $"sk", encode($"v", "UTF-8").as("value")))
    // job 2: load the stored sketches and union them
    val loaded = store.entries()
      .select($"pk", decode($"value", "UTF-8").as("v")).collect()
      .map { r =>
        val hs = r.getString(1).split(',').filter(_.nonEmpty).map(_.toLong).toVector
        r.getString(0) -> Kmv(k, hs)
      }
    val global = loaded.map(_._2).foldLeft(Kmv.empty(k))(_ merge _)
    (loaded.toSeq.map { case (src, kmv) => (src, kmv.estimate) } :+
      ("__all__" -> global.estimate))
      .toDF("source", "est_distinct")
      .orderBy($"source")
  }

  private val dedupSketchUnionSql =
    """WITH h AS (
      |  SELECT DISTINCT source,
      |    CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) AS h
      |  FROM (SELECT source,
      |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
      |        FROM documents)),
      |lv AS (SELECT source, h FROM h
      |       UNION ALL SELECT '__all__' AS source, h FROM (SELECT DISTINCT h FROM h)),
      |r AS (SELECT source, h,
      |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn,
      |  COUNT(*) OVER (PARTITION BY source) AS d
      |  FROM lv)
      |SELECT source,
      |  CASE WHEN d < 64 THEN CAST(d AS BIGINT)
      |       ELSE CAST((CAST(63 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT)) // h AS BIGINT)
      |  END AS est_distinct
      |FROM r WHERE rn = CASE WHEN d < 64 THEN d ELSE 64 END
      |ORDER BY source""".stripMargin

  // ------------------------------------------------ exact prefix-filter join

  /** Jaccard threshold for [[prefixJoin]] as an exact rational (1/2) so
    * `ceil(θ·|d|)` is integer arithmetic on both engines.
    */
  private val PrefixThetaNum = 1
  private val PrefixThetaDen = 2

  /** EXACT Jaccard set-similarity SELF-JOIN over the FULL corpus via
    * lossless prefix filtering (the AllPairs/PPJoin family — Bayardo et
    * al., WWW'07) — the exactness complement to the approximate
    * [[graft.operators.MinHashLSH]] path, and unlike [[jaccardPairs]]
    * it never goes all-pairs, so it has no doc-count guard.
    *
    * Elements are doc-distinct word 3-grams. Every shingle gets a global
    * rank by (document frequency ASC, shingle ASC); a document of |d|
    * shingles keeps only its `|d| − ⌈θ·|d|⌉ + 1` LOWEST-ranked (rarest)
    * shingles as its prefix. Any pair with J ≥ θ must collide on at
    * least one prefix shingle of BOTH sides (the standard prefix-filter
    * theorem), so the equi-join on prefix shingles generates a candidate
    * superset with zero false negatives — exactness is spec-gated against
    * the brute-force join (PrefixJoinSpec) and the DuckDB oracle computes
    * the unfiltered exact answer.
    *
    * Scale: document frequency is one map-combined shuffle of vocabulary
    * size; prefixes join on the RAREST shingles, so candidate bucket
    * sizes are bounded by low document frequencies (a shingle appearing
    * in f docs contributes ≤ C(f,2) candidates, and high-f shingles are
    * exactly the ones prefixes exclude); verification joins sorted
    * hashed arrays (codegen'd merge intersect) only for distinct
    * candidate pairs. No step is quadratic in the corpus.
    */
  /** Loud plan-time ceiling on the prefix join's candidate volume,
    * Σ C(df_prefix, 2) over prefix shingles — one cheap aggregate before
    * the join. On natural corpora vocabulary grows with the corpus and
    * prefix (rare-shingle) document frequencies stay small, so the
    * estimate grows ~linearly; on a SATURATING token space (the sandbox
    * corpus has a fixed 31-word vocabulary, so every df scales with the
    * corpus) candidate volume is inherently quadratic — at that point
    * the EXACT join is the wrong tool by problem statement, not by
    * implementation (qualifying pairs themselves go quadratic), and the
    * guard routes the caller to the capped LSH path instead of silently
    * spilling a candidate shuffle to death (measured: 100× ScaleGen
    * replicas → Σdf² ×10⁴ → ~28 B candidate rows, >70 GB spill).
    */
  val MaxPrefixCandidates: Long = 2_000_000_000L

  private def prefixJoin(s: SparkSession, dir: String): DataFrame =
    prefixJoinImpl(Tables.documents(s, dir), MaxPrefixCandidates)

  /** Testable core of [[prefixJoin]]: `maxCandidates` overrides the guard
    * ceiling so the saturation failure mode is spec-exercisable without a
    * saturated corpus (PrefixJoinSpec trips it with a ceiling of 0).
    */
  private[queries] def prefixJoinImpl(docs: DataFrame, maxCandidates: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import graft.functions.GraftFunctions.sorted_intersect_size
    import org.apache.spark.sql.expressions.Window
    // STAGE-0 FAIL-FAST (r12; folded to ONE pass in r13): the exact
    // guard below needs the per-doc shingle RANKING (a window sort over
    // every gram row) plus two checkpoints before it can compute
    // Σ C(df_prefix, 2) — at the fourth decade that is ~13 min of work
    // just to say "no". A sound LOWER bound needs only the total prefix
    // length P and the vocabulary size V: by convexity, however the P
    // prefix rows distribute over ≤ V shingles, Σ C(df, 2) ≥ V·C(P/V, 2).
    // P is relaxed to its linear lower bound (1−θ)·G (prefix length
    // sz − ⌈θ·sz⌉ + 1 ≥ (1−θ)·sz, G = total gram rows), so BOTH terms
    // ride one map-combined aggregation — the per-shingle document
    // frequencies, which the exact path then REUSES as `freq`: the
    // happy (non-saturated) path pays zero extra tokenize passes for
    // the bound (r12 paid two). No window, no join, and no gram-stream
    // checkpoint before the verdict; strictly conservative — near the
    // ceiling it falls through to the exact estimate (saturated corpora
    // overshoot it by orders of magnitude: ×10³ at the 3000× probe).
    // SIZE-ADAPTIVE gram pinning (r15, same policy as MinHashLSH's
    // signature cache): when the optimizer's estimate of the corpus is
    // small, checkpoint the gram stream BEFORE the guard so the happy
    // path tokenizes ONCE (freq and the exact path share it); above the
    // cap keep the r13 shape — guard verdict first, zero corpus-sized
    // materialization before "no" (the fourth-decade regime where the
    // pre-pin would itself be the disk hazard).
    // gate on the EXPLODED size (estimate × ~2·gramSize — r16, verdict
    // item 4: the pinned stream is the gram explosion, a multiple of the
    // raw corpus the old gate measured), and pin LAZILY so a missing or
    // under-estimated stat degrades to guard-first ordering instead of
    // materializing a corpus-gram-sized checkpoint before the verdict
    val pinGrams = graft.util.Pin.fits(docs, 6L, "prefixJoin.gramPin")
    val toksPre =
      if (pinGrams) Some(GramStage.explodeGrams(docs, 3, distinctPerDoc = true)
        .localCheckpoint(eager = false))
      else None
    val g0 = toksPre.getOrElse(GramStage.explodeGrams(docs, 3, distinctPerDoc = true))
    val freq = g0.groupBy($"g").agg(count(lit(1)).as("df"))
      .localCheckpoint() // vocabulary-sized; both the bound and `ranked` read it
    val fRow = freq.agg(count(lit(1)), coalesce(sum($"df"), lit(0L))).head()
    val vocab = math.max(1L, fRow.getLong(0))
    val gTotal = fRow.getLong(1)
    val pLower = gTotal.toDouble * (PrefixThetaDen - PrefixThetaNum) / PrefixThetaDen
    val uniform = pLower / vocab
    val lowerBound = vocab.toDouble * (uniform * (uniform - 1.0) / 2.0)
    require(lowerBound <= maxCandidates.toDouble,
      f"prefix-join candidate estimate lower bound $lowerBound%.0f " +
        f"(convexity bound from $pLower%.0f prefix rows over $vocab shingles) " +
        s"exceeds $maxCandidates — the shingle space has saturated " +
        "(qualifying pairs are inherently quadratic here); use " +
        "MinHashLSH.nearDuplicates with its bucket cap")
    // (doc_id, g): doc-distinct word 3-grams; read thrice (rank join,
    // both candidate sides, verify arrays) → checkpoint so the regex
    // split runs once more at most (reused from the pre-pin when small).
    val toks = toksPre.getOrElse(
      GramStage.explodeGrams(docs, 3, distinctPerDoc = true).localCheckpoint())
    val byDoc = Window.partitionBy($"doc_id")
    val ranked = toks.join(freq, "g")
      .select($"doc_id", $"g",
        row_number().over(byDoc.orderBy($"df", $"g")).as("rn"),
        count(lit(1)).over(byDoc).as("sz"))
    // prefix length = sz − ceil(θ·sz) + 1, ceil in exact integer DIV
    // (Column./ is DOUBLE division — a fractional bound here would
    // shorten the prefix below the lossless length)
    val prefix = ranked.filter($"rn" <= expr(
      s"sz - (sz * $PrefixThetaNum + ${PrefixThetaDen - 1}) DIV $PrefixThetaDen + 1"))
      .localCheckpoint() // guard estimate + both join sides read it
    val estimated = prefix.groupBy($"g").agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(expr("df * (df - 1) DIV 2")), lit(0L))).head().getLong(0)
    require(estimated <= maxCandidates,
      s"prefix-join candidate estimate $estimated exceeds $maxCandidates — " +
        "the shingle space has saturated (qualifying pairs are inherently " +
        "quadratic here); use MinHashLSH.nearDuplicates with its bucket cap")
    val cand = prefix.as("a").join(prefix.as("b"),
        $"a.g" === $"b.g" && $"a.doc_id" < $"b.doc_id" &&
          // size-compatibility: min ≥ θ·max, exact in integers
          least($"a.sz", $"b.sz") * PrefixThetaDen >=
            greatest($"a.sz", $"b.sz") * PrefixThetaNum)
      .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"),
        $"a.sz".as("sa"), $"b.sz".as("sb"))
      .distinct()
    val arrs = toks.groupBy($"doc_id")
      .agg(array_sort(collect_list(xxhash64($"g"))).as("hs"))
    cand
      .join(arrs.select($"doc_id".as("a_id"), $"hs".as("a_hs")), "a_id")
      .join(arrs.select($"doc_id".as("b_id"), $"hs".as("b_hs")), "b_id")
      .withColumn("inter", sorted_intersect_size($"a_hs", $"b_hs"))
      .withColumn("jaccard",
        $"inter".cast("double") / ($"sa" + $"sb" - $"inter"))
      .filter($"jaccard" * PrefixThetaDen >= PrefixThetaNum)
      .select($"a_id", $"b_id", $"inter", $"jaccard")
      .orderBy($"a_id", $"b_id")
  }

  /** The oracle computes the exact answer directly (shingle equi-join →
    * intersection counts → threshold), no prefix machinery — matching it
    * IS the losslessness proof at the driver's scale factors.
    */
  private val prefixJoinSql =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, list_distinct(
      |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
      |  FROM w WHERE len(ws) >= 3),
      |t AS (SELECT doc_id, unnest(sh) AS tok FROM g),
      |s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM t GROUP BY 1),
      |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS inter
      |      FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)
      |SELECT a_id, b_id, inter,
      |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
      |FROM p JOIN s sa ON p.a_id = sa.doc_id JOIN s sb ON p.b_id = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) * 2 >= 1
      |ORDER BY a_id, b_id""".stripMargin

  /** Duplicate-GAP histogram — the measurement that sizes a streaming
    * dedup window: for every exact-duplicate pair adjacent in doc_id
    * order, the gap between occurrences, bucketed by bit length
    * (`length(bin(gap))` = ⌊log2⌋+1, integer-exact in both engines). A
    * mass at small buckets says `dropDuplicatesWithinWatermark` with a
    * short horizon catches nearly everything; a long tail quantifies
    * what a bounded window forfeits vs the batch pass.
    *
    * Scale: one fingerprint shuffle + a lag window per fingerprint
    * (state = one row), then a histogram-width aggregate.
    *
    * The fingerprint is the BAG-OF-WORDS canonical form (sorted distinct
    * tokens) — the standard order/whitespace-insensitive dedup key,
    * which also gives the histogram mass at every scale factor (byte-
    * exact duplicates only appear at sf0.1+ in this corpus).
    */
  private def gapHist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"fp").orderBy($"doc_id")
    Tables.documents(s, dir)
      .select($"doc_id", md5(concat_ws(" ",
        array_sort(array_distinct(split(lower(trim($"text")), "\\s+"))))).as("fp"))
      .withColumn("prev", lag($"doc_id", 1).over(w))
      .filter($"prev".isNotNull)
      .select(length(bin($"doc_id" - $"prev")).cast("long").as("bucket_bits"))
      .groupBy($"bucket_bits").agg(count(lit(1)).as("n_gaps"))
      .orderBy($"bucket_bits")
  }

  private val gapHistSql =
    """WITH f AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
      |    string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fp
      |  FROM documents),
      |g AS (SELECT doc_id - LAG(doc_id) OVER (PARTITION BY fp ORDER BY doc_id) AS gp
      |      FROM f)
      |SELECT CAST(length(bin(gp)) AS BIGINT) AS bucket_bits,
      |  CAST(COUNT(*) AS BIGINT) AS n_gaps
      |FROM g WHERE gp IS NOT NULL GROUP BY 1 ORDER BY bucket_bits""".stripMargin

  /** LSH QUALITY EVAL through the driver gate — recall of the production
    * MinHash+LSH config against the operator's DUAL-METRIC ground truth
    * on the bounded slice (the number LlmOpsSpec asserts a ≥0.8 floor
    * on, here hash-pinned as a measurement): truth = pairs near-dup
    * under BOTH similarities the pipeline composes — word-set Jaccard
    * (what verification filters on) AND shingle-set Jaccard (what the
    * signatures estimate); word-order-scrambled rewrites are out of
    * contract by design. `n_lsh` and `n_truth_word_only` are emitted
    * alongside so the contract boundary itself is visible in the row.
    *
    * Scale: the exact side is the loudly BOUNDED brute verifier
    * ([[BruteForceMaxDocs]]); production corpora get this number from
    * sampled slices exactly like this one.
    */
  private def lshEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.GraftFunctions.sorted_intersect_size
    val theta = 0.35
    val docs = Tables.documents(s, dir).filter($"doc_id" < 1200)
    val n = docs.limit((BruteForceMaxDocs + 1).toInt).count()
    require(n <= BruteForceMaxDocs, s"eval slice exceeds $BruteForceMaxDocs docs")
    val lsh = MinHashLSH.nearDuplicates(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = theta)
      .select($"a_id", $"b_id")
    val t = docs
      .select($"doc_id", split(lower(trim($"text")), "\\s+").as("tk"))
      .select($"doc_id",
        array_sort(array_distinct(transform($"tk", x => xxhash64(x)))).as("toks"),
        array_sort(array_distinct(transform(
          when(size($"tk") >= 3,
            transform(sequence(lit(0), size($"tk") - 3),
              i => concat_ws(" ", slice($"tk", i + 1, lit(3)))))
            .otherwise(array(concat_ws(" ", $"tk"))),
          x => xxhash64(x)))).as("shin"))
    val a = t.repartition($"doc_id").select(
      $"doc_id".as("a_id"), $"toks".as("a_toks"), $"shin".as("a_shin"))
    val b = broadcast(t.select(
      $"doc_id".as("b_id"), $"toks".as("b_toks"), $"shin".as("b_shin")))
    def jacc(i: org.apache.spark.sql.Column,
             x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      i.cast("double") / (size(x) + size(y) - i.cast("double"))
    val scored = a.join(b, $"a_id" < $"b_id")
      .withColumn("jw", jacc(sorted_intersect_size($"a_toks", $"b_toks"), $"a_toks", $"b_toks"))
      .withColumn("js", jacc(sorted_intersect_size($"a_shin", $"b_shin"), $"a_shin", $"b_shin"))
    // ONE pass over the brute-force O(n²) join (r15: the previous
    // truth/wordOnly/common trio of aggregates re-ran `scored` — the
    // single most expensive subtree here — THREE times): LSH membership
    // rides in as a broadcast left-join flag (pairs are distinct by
    // construction, so the join cannot duplicate rows), and all three
    // truth-side counters fold into one conditional aggregate. Counts
    // and recall are identical to the three-pass formulation.
    // dropDuplicates pins the one-pass rewrite's correctness invariant
    // (r16, verdict item 6): n_truth/n_common count SCORED rows, so a
    // duplicate (a_id, b_id) in the candidate set would inflate them
    // through this join. nearDuplicates returns distinct pairs by
    // construction today — this is a bounded-eval-scale no-op that keeps
    // the eval row correct if that construction ever changes.
    val flagged = scored.join(
      broadcast(lsh.dropDuplicates("a_id", "b_id").withColumn("in_lsh", lit(1L))),
      Seq("a_id", "b_id"), "left")
    flagged.agg(
        coalesce(sum(when($"jw" >= theta && $"js" >= theta, 1L)), lit(0L)).as("n_truth"),
        coalesce(sum(when($"jw" >= theta && $"js" < theta, 1L)), lit(0L)).as("n_truth_word_only"),
        coalesce(sum(when($"jw" >= theta && $"js" >= theta && $"in_lsh".isNotNull, 1L)),
          lit(0L)).as("n_common"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .select($"n_truth", $"n_truth_word_only", $"n_lsh", $"n_common",
        when($"n_truth" > 0, $"n_common".cast("double") / $"n_truth")
          .otherwise(lit(0.0)).as("recall"))
  }

  private val lshEvalSql = {
    val ctes = MinHashLSH.oraclePairsCtes("doc_id < 1200", 64, 16, 0.35)
    s"""WITH $ctes,
       |shs AS (SELECT doc_id, list(DISTINCT s) AS ss FROM sh GROUP BY doc_id),
       |scored AS (
       |  SELECT sa.doc_id AS a_id, sb.doc_id AS b_id,
       |    CAST(len(list_intersect(sa.ts, sb.ts)) AS DOUBLE) /
       |      (len(sa.ts) + len(sb.ts) - CAST(len(list_intersect(sa.ts, sb.ts)) AS DOUBLE)) AS jw,
       |    CAST(len(list_intersect(ha.ss, hb.ss)) AS DOUBLE) /
       |      (len(ha.ss) + len(hb.ss) - CAST(len(list_intersect(ha.ss, hb.ss)) AS DOUBLE)) AS js
       |  FROM sets sa JOIN sets sb ON sa.doc_id < sb.doc_id
       |  JOIN shs ha ON ha.doc_id = sa.doc_id
       |  JOIN shs hb ON hb.doc_id = sb.doc_id),
       |truth AS (SELECT a_id, b_id FROM scored WHERE jw >= 0.35 AND js >= 0.35),
       |wo AS (SELECT a_id, b_id FROM scored WHERE jw >= 0.35 AND js < 0.35),
       |lsh AS (SELECT a_id, b_id FROM pairs),
       |common AS (SELECT a_id, b_id FROM truth INTERSECT SELECT a_id, b_id FROM lsh),
       |c AS (SELECT
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM wo) AS n_truth_word_only,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lsh) AS n_lsh,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM common) AS n_common)
       |SELECT n_truth, n_truth_word_only, n_lsh, n_common,
       |  CASE WHEN n_truth > 0 THEN CAST(n_common AS DOUBLE) / n_truth
       |       ELSE CAST(0 AS DOUBLE) END AS recall
       |FROM c""".stripMargin
  }

  val defs: Seq[(String, Qf, Option[String])] = Seq(
    ("dedup_lsh_eval",       lshEval _,       Some(lshEvalSql)),
    ("dedup_gap_hist",       gapHist _,       Some(gapHistSql)),
    ("dedup_prefix_join",    prefixJoin _,    Some(prefixJoinSql)),
    ("dedup_sketch_union",   dedupSketchUnion _, Some(dedupSketchUnionSql)),
    ("dedup_index_lookup",   dedupIndexLookup _, Some(dedupIndexLookupSql)),
    ("dedup_exact",          exact _,         Some(exactSql)),
    ("dedup_containment",    containment _,   Some(containmentSql)),
    ("dedup_ngram_jaccard",  ngramJaccard _,  Some(ngramJaccardSql)),
    ("dedup_simhash",        simhash _,       Some(SimHash.oracleSignatureSql(200))),
    ("dedup_minhash_lsh",    minhashLsh _,    Some(minhashLshSql)),
    ("dedup_minhash_oracle", minhashOracle _, Some(MinHashLSH.oracleNearDuplicatesSql(400))),
    ("dedup_clusters",       dedupClusters _, Some(dedupClustersSql)),
    ("dedup_keep_best",      keepBest _,      Some(keepBestSql)),
    ("dedup_span_removal",   spanRemoval _,   Some(spanRemovalSql)),
  )
}
