package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Pin

/** MinHash + banded LSH near-duplicate detection, entirely in codegen'd
  * array expressions and native kernels (no UDFs, no driver-side state):
  *
  *   tokens → k-token shingles → shingle hash → `numHashes` affine
  *   min-hashes → `bands` band signatures → shuffle on (band, signature)
  *   → candidate pairs → exact Jaccard verification.
  *
  * The production path [[nearDuplicates]] uses a CROSS-ENGINE-REPRODUCIBLE
  * hash family (md5-derived shingle ids + modular affine permutations), so
  * the DuckDB oracle can replay the FULL pipeline — shingling, signatures,
  * banding, candidate generation and verification are all hash-checked,
  * not just sampled for recall.
  *
  * At 100 TB the only shuffles are the band-bucket exchange (width =
  * numHashes longs per doc, not the text) and the pair verification join;
  * identical-document floods land in one bucket but are bounded by
  * per-bucket pair expansion, which AQE skew-split handles.
  */
object MinHashLSH {

  // ---------------------------------------------------------------- hash family

  /** Cross-engine-reproducible hash family: shingle identity = first 15
    * hex chars of md5 (exists identically in DuckDB), permutations
    * h_j(x) = (x·A_j + B_j) mod P — modular affine arithmetic that stays
    * under 2^62, so DuckDB's overflow-checking BIGINT math computes the
    * exact same values Spark's wrapping longs do.
    */
  val OracleP: Long = 2147483647L
  def oracleA(j: Int): Long = (2654435761L * (j + 1)) % OracleP
  def oracleB(j: Int): Long = (40503L * (j.toLong * j + 1) + 17) % OracleP

  /** Kernel for the `md5_shingle_hashes` expression: for every k-token
    * shingle (tokens joined by a single space, the whole document when
    * shorter), the first 15 hex chars of its md5 as a bigint mod P —
    * byte-for-byte the value of DuckDB/Spark SQL's
    * `CAST(concat('0x', substring(md5(s),1,15)) AS BIGINT) % P`, computed
    * in one pass without per-shingle string/expression overhead.
    */
  def md5ShingleHashes(tokens: org.apache.spark.sql.catalyst.util.ArrayData,
                       shingleSize: Int): Array[Long] = {
    val n = tokens.numElements()
    if (n == 0) return Array.empty
    val k = math.min(shingleSize, n)
    val out = new Array[Long](n - k + 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val space = ' '.toByte
    var i = 0
    while (i < out.length) {
      md.reset()
      var t = 0
      while (t < k) {
        if (t > 0) md.update(space)
        md.update(tokens.getUTF8String(i + t).getBytes)
        t += 1
      }
      val d = md.digest()
      // value of the first 15 hex digits = first 8 bytes big-endian >>> 4
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      out(i) = (v >>> 4) % OracleP
      i += 1
    }
    out
  }

  /** Kernel for the `affine_minhash` expression: n minima of
    * (x·A_j + B_j) mod P over the input hashes (all values < P, products
    * < P² < 2^62 — the same arithmetic the generated oracle SQL inlines).
    */
  def affineMins(hashes: org.apache.spark.sql.catalyst.util.ArrayData,
                 numHashes: Int): Array[Long] = {
    val as = new Array[Long](numHashes)
    val bs = new Array[Long](numHashes)
    var j0 = 0
    while (j0 < numHashes) { as(j0) = oracleA(j0); bs(j0) = oracleB(j0); j0 += 1 }
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val x = hashes.getLong(i)
      var j = 0
      while (j < numHashes) {
        val v = (x * as(j) + bs(j)) % OracleP
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    mins
  }

  // ------------------------------------------------------------ production path

  /** Candidate near-duplicate pairs with exact-Jaccard verification, on
    * the reproducible hash family (so a SQL oracle can replay every
    * stage — see [[oraclePairsCtes]]). Input needs `idCol` (long) and
    * `textCol` (string); output: (a_id, b_id, jaccard) for verified pairs
    * ≥ threshold. Only 3-token shingles are supported (the SQL generator
    * inlines that width).
    *
    * One map-side pass computes BOTH the verification token set (sorted
    * 64-bit interned hashes → zero-allocation merge intersection; the
    * Jaccard VALUE equals raw-token Jaccard, collisions ~1e-10) and the
    * MinHash signature via the native md5+affine kernels — no shuffle, no
    * interpreted higher-order functions in the hot loop. Band signatures
    * are md5 over the '|'-joined row minima, identical to the oracle's
    * `md5(concat_ws('|', …))`.
    *
    * The verified pairs are materialized EAGERLY (`Pin.scope`) so the
    * intermediate pins can be unpersisted before returning — a
    * long-lived session invoking this repeatedly must not accumulate
    * leaked cached partitions (the round-8 scale bench measured exactly
    * that: cache-eviction churn, not the plan, dominating repeat runs).
    *
    * `maxBucketSize` drops band buckets larger than the cap from
    * candidate generation — the hot-bucket guard: a boilerplate flood
    * sharing one band signature otherwise costs C(n,2) verification
    * pairs (quadratic in the flood — the one term AQE skew-split can
    * parallelize but not shrink). A capped bucket's members still pair
    * through any of their other bands, so only docs similar ONLY via the
    * flooded band lose recall; all-band floods are exact duplicates,
    * which exact dedup upstream removes. The oracle SQL replays the same
    * cap.
    */
  /** Per-document reproducible band signatures `(id, band, bsig)` — the
    * LSH index entries, one row per (doc, band). Pure codegen'd
    * expressions on the oracle-replayable hash family: no shuffle, no
    * state — so it runs identically on batch AND STREAMING DataFrames
    * (the index-at-ingest path keys streaming state by (band, bsig)).
    */
  def bandSignatures(docs: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 64, bands: Int = 16): DataFrame = {
    import graft.functions.GraftFunctions.{affine_minhash, md5_shingle_hashes}
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    docs
      .select(col(idCol).as("id"), split(lower(trim(col(textCol))), "\\s+").as("tk"))
      .select(col("id"), affine_minhash(md5_shingle_hashes(col("tk"), 3), numHashes).as("sig"))
      .select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            md5(array_join(
              transform(slice(col("sig"), b * rows + 1, lit(rows)), v => v.cast("string")),
              "|")).as("bsig"))))
          .as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bsig").as("bsig"))
  }

  /** DETERMINISTIC-INPUT REQUIREMENT:
    * since r14 the input is scanned THREE times (bucket counts, self-join
    * feed, verification semi-join) with no persisted snapshot — the price
    * of never materializing anything corpus-sized. A non-deterministic
    * `docs` (sample/limit without a seed-stable plan, ids minted by
    * `monotonically_increasing_id`, a table mutating under the read) can
    * present different rows per scan, silently dropping or corrupting
    * pairs. Feed a deterministic source (parquet snapshot, stable ids);
    * when in doubt, `docs.select(id, text).localCheckpoint()` first —
    * that narrow projection is the ONE intermediate worth pinning.
    */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
                     threshold: Double = 0.35,
                     maxBucketSize: Int = DefaultMaxBucketSize,
                     maxCandidates: Long = AutoMaxCandidates): DataFrame = {
    import graft.functions.GraftFunctions.{affine_minhash, md5_shingle_hashes, sorted_intersect_size}
    require(numHashes % bands == 0, "numHashes must divide into bands")
    require(shingleSize == 3, "the oracle-reproducible path fixes shingleSize = 3")
    val rows = numHashes / bands

    // NOTHING corpus-sized is ever materialized (r14: the fifth-decade
    // probe filled a 90 GB disk at 5×10⁷ docs — twice — before this
    // shape. First the old `base` cache, carrying every doc's full
    // distinct-token-hash array: an intermediate the candidate BUDGET
    // does not bound, ~corpus-sized on disk. Then the banded cache plus
    // BOTH self-join shuffle legs, each O(corpus × bands) bytes). What
    // persists now, and why each is bounded:
    //  - `dup` collision buckets (inside boundedBuckets): O(buckets
    //    with ≥ 2 members) — proportional to true near-dup density, not
    //    corpus size; singleton buckets (the overwhelming majority on a
    //    healthy corpus) never leave the map-combined aggregate.
    //  - `candidates` (a_id, b_id): O(maxCandidates) rows by the
    //    adaptive-cap construction — the budget knob IS its bound.
    //  - `verif` token arrays: built by SEMI-JOINING the corpus to the
    //    candidate id set and re-tokenizing only the survivors —
    //    O(candidate ids) ≤ 2×budget docs, NOT O(corpus).
    // The minhash kernel consequently runs twice (once for the bucket
    // counts, once feeding the self-join) — a deliberate CPU-for-disk
    // trade: recompute is a scan-side pass that scales with executors,
    // while a corpus-sized cache is storage pressure every executor
    // pays at exactly the scale where it hurts. The self-join's
    // exchange carries only collision-bucket rows (the semi-join drops
    // singletons — identical candidates, since singletons cannot pair),
    // and bsig is unhex(md5): equality-identical buckets, ~3× narrower
    // rows than the hex string in every exchange.
    // Raw text is repartitioned FIRST so tokenization and hashing
    // spread across all cores even when the corpus arrives as one file.
    val narrow = docs.select(col(idCol).as("id"), col(textCol).as("txt"))
    val banded = narrow
      .repartition(col("id"))
      .select(col("id"), split(lower(trim(col("txt"))), "\\s+").as("tk"))
      .select(col("id"),
        affine_minhash(md5_shingle_hashes(col("tk"), shingleSize), numHashes).as("sig"))
      .select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            unhex(md5(array_join(
              transform(slice(col("sig"), b * rows + 1, lit(rows)), v => v.cast("string")),
              "|"))).as("bsig"))))
          .as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bsig").as("bsig"))

    // Pins ride in one Pin.scope, released in its finally: the
    // saturation guard and any failed job after a pin would otherwise
    // leave it cached — and a session that hits the designed fail-loud
    // path, raises the budget knob, and retries would accumulate leaked
    // cached partitions, largest exactly in the saturated regime where
    // memory is already the problem (r14 ADVICE).
    // The banded rows are pinned only when the narrow (id, text)
    // estimate passes the heap-relative gate: then the bucket counts and
    // the self-join feed share one kernel pass; otherwise (or with no
    // estimate) the kernel runs twice, as above. Results are identical.
    Pin.scope { pin =>
      if (Pin.fits(narrow, 1L, "lsh.bandedRows")) pin(banded, "lsh.bandedRows")
      val sized = boundedBuckets(banded, maxBucketSize,
        resolvedMaxCandidates(docs.sparkSession, maxCandidates), pin)
      val candidates = pin(sized.as("x").join(sized.as("y"),
          col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
        .distinct(), "lsh.candidates")

      val candIds = candidates.select(col("a_id").as("id"))
        .union(candidates.select(col("b_id").as("id"))).distinct()
      val verif = pin(docs.select(col(idCol).as("id"), col(textCol).as("txt"))
        .join(candIds, Seq("id"), "left_semi")
        .select(col("id"),
          array_sort(array_distinct(
            transform(split(lower(trim(col("txt"))), "\\s+"), x => xxhash64(x)))).as("toks")),
        "lsh.verifyTokens")

      val a = verif.select(col("id").as("a_id"), col("toks").as("a_toks"))
      val b = verif.select(col("id").as("b_id"), col("toks").as("b_toks"))
      candidates.join(a, "a_id").join(b, "b_id")
        .withColumn("inter", sorted_intersect_size(col("a_toks"), col("b_toks")).cast("double"))
        .withColumn("jaccard",
          col("inter") / (size(col("a_toks")) + size(col("b_toks")) - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("a_id"), col("b_id"), col("jaccard"))
    }
  }

  /** Hot-bucket guard + CANDIDATE-VOLUME budget. The per-bucket cap alone
    * bounds each bucket's pairs at C(cap, 2) but not their SUM: on a
    * corpus whose signature space saturates (shingle vocabulary fixed
    * while the corpus grows — the regime the prefix join's guard detects
    * on the exact path), bucket sizes grow WITH the corpus, so candidate
    * volume Σ C(n_b, 2) goes quadratic while every bucket still sits
    * under the cap. The fourth-decade probe measured exactly that:
    * 5×10⁵ docs verified fine, 1.5×10⁷ docs filled an 80 GB disk with
    * one candidate shuffle (r12).
    *
    * So the cap is chosen ADAPTIVELY: from the exact bucket-size
    * histogram (one map-combined aggregate over the banded rows — tiny:
    * one row per distinct size), pick the largest cap ≤ `maxBucketSize`
    * whose kept-bucket pair sum fits `maxCandidates`, which makes the
    * candidate shuffle O(budget) BY CONSTRUCTION at any corpus size. At
    * every tested scale factor the estimate sits far under the default
    * budget, so the effective cap equals `maxBucketSize` and results —
    * and the SQL oracle, which replays that cap — are unchanged;
    * shrinking only engages in the saturated regime, where over-cap
    * buckets are signature floods by construction (a bucket's members
    * still pair through their other bands). A corpus so saturated that
    * even size-2 buckets blow the budget fails loudly like the prefix
    * guard, naming the knob.
    *
    * Both paths unify into ONE shape (r14): candidates can only form
    * inside buckets with ≥ 2 members, so the self-join input is the
    * banded rows SEMI-joined to the kept COLLISION-bucket set
    * (2 ≤ bn ≤ cap). That is exactly the old anti-join against over-cap
    * buckets minus the singleton rows — which produce no pairs, so the
    * candidate set is identical — and it is the scale-correct shape
    * twice over: the collision-bucket set is O(true near-dup density),
    * tiny on healthy corpora (AQE broadcasts it, so the semi-join
    * re-shuffles NOTHING), and the self-join's exchange then carries
    * only collision rows instead of the whole corpus × bands.
    * The collision-bucket set is pinned in the caller's scope: the
    * histogram and the semi-join both read it, and the saturation failure
    * is designed to throw right after it is computed.
    */
  private def boundedBuckets(banded: DataFrame, maxBucketSize: Int,
                             maxCandidates: Long, pin: Pin.Scope): DataFrame = {
    val dup = pin(banded.groupBy(col("band"), col("bsig"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") >= 2), "lsh.collisionBuckets")
    val hist = dup.groupBy(col("bn"))
      .agg(count(lit(1)).as("nbuckets"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val effCap = chooseBucketCap(hist, maxBucketSize, maxCandidates)
    val keep = dup.filter(col("bn") <= effCap).select(col("band"), col("bsig"))
    banded.join(keep, Seq("band", "bsig"), "left_semi")
  }

  /** Largest bucket cap ≤ `maxBucketSize` with Σ_{2 ≤ n_b ≤ cap}
    * C(n_b, 2) ≤ `maxCandidates`, from an exact (bucketSize, numBuckets)
    * histogram. Deterministic in the data. Throws when no cap ≥ 2 fits —
    * the saturation failure mode, loud by contract.
    */
  private[graft] def chooseBucketCap(hist: Seq[(Long, Long)], maxBucketSize: Int,
                                     maxCandidates: Long): Int = {
    var cum = 0L
    var lastFit = -1L // largest histogram size whose cumulative sum fits
    var overflowed = false
    for ((sz, nb) <- hist.sortBy(_._1) if sz <= maxBucketSize && !overflowed) {
      val add = nb * (sz * (sz - 1) / 2)
      if (cum + add <= maxCandidates) { cum += add; lastFit = sz }
      else overflowed = true
    }
    if (!overflowed) maxBucketSize // every under-base-cap size fits
    else if (lastFit >= 2) lastFit.toInt
    else throw new IllegalArgumentException(
      s"minhash-lsh candidate estimate exceeds $maxCandidates at every " +
        "bucket cap - the signature space has saturated (bucket sizes " +
        "grow with the corpus, so qualifying candidates are inherently " +
        s"quadratic); raise maxCandidates (session conf $MaxCandidatesConf," +
        " or the explicit argument) to the cluster's shuffle capacity or " +
        "shard the corpus")
  }

  /** Hot-bucket cap shared by the Scala paths and the oracle generator —
    * far above any bucket at the tested scale factors (results identical
    * with or without it there), a hard quadratic bound PER BUCKET at
    * corpus scale; [[boundedBuckets]] bounds the sum.
    */
  val DefaultMaxBucketSize: Int = 4096

  /** Single-node floor of the candidate-volume budget. The budget bounds
    * the candidate shuffle at O(maxCandidates) ROWS, but the binding
    * constraint is the VERIFICATION join, whose intermediate carries both
    * token arrays per candidate (~2 × avg array bytes per row — the
    * a-side join's output is the b-side join's shuffle input), so bytes
    * ≈ budget × array width: 10⁸ × ~300 B ≈ 30 GB, sized to fit a single
    * node's shuffle spill. Measured estimate (round 12, from the exact
    * bucket-size histogram): 3.9×10⁷ at 5×10⁵ docs on the saturating
    * sandbox corpus — this floor keeps the effective cap at
    * `maxBucketSize` (results byte-identical with or without the budget)
    * at every tested scale factor, and engages only in the fourth-decade
    * saturated regime.
    */
  val DefaultMaxCandidates: Long = 100_000_000L

  /** Sentinel default for `maxCandidates`: resolve the budget from the
    * session — [[MaxCandidatesConf]] if set, else the CLUSTER-AWARE
    * derivation in [[resolvedMaxCandidates]]. A node-sized constant is
    * the wrong default on a 1000-executor cluster (it would throttle the
    * candidate shuffle to one node's spill capacity); an explicit
    * argument always wins.
    */
  val AutoMaxCandidates: Long = -1L

  /** Session conf overriding the candidate-volume budget — the knob the
    * saturation error names.
    */
  val MaxCandidatesConf = "spark.graft.lsh.maxCandidates"

  /** Per-CORE slice of the derived budget, calibrated so the measured
    * 32-thread single-node budget is exactly the floor: 32 cores ×
    * 3.125M candidates × ~300 B of verification-join intermediate ≈ the
    * ~30 GB single-node spill budget [[DefaultMaxCandidates]] encodes —
    * ~0.94 GB of intermediate per concurrently-running task. Derived
    * from `defaultParallelism` (actual aggregate executor cores), NOT
    * `spark.sql.shuffle.partitions`: that knob's DEFAULT (200) states
    * nothing about capacity — an untuned single-node session would get
    * 12.5× its measured spill budget and the saturation fail-fast would
    * effectively never trip on exactly the deployments it protects
    * (r13 ADVICE). On a real cluster defaultParallelism is the
    * deployment's own statement of width (1000 executors × 8 cores →
    * 8000 → 2.5×10¹⁰ candidates ≈ 7.5 GB of spill per executor).
    */
  val PerCoreCandidates: Long = 3_125_000L

  /** Effective candidate budget: an explicit non-negative request wins;
    * otherwise `spark.graft.lsh.maxCandidates` if set; otherwise
    * max(DefaultMaxCandidates, defaultParallelism × PerCoreCandidates).
    */
  def resolvedMaxCandidates(s: SparkSession, requested: Long): Long =
    if (requested >= 0L) requested
    else s.conf.getOption(MaxCandidatesConf).map(_.trim.toLong).getOrElse {
      val cores = s.sparkContext.defaultParallelism.toLong
      math.max(DefaultMaxCandidates, cores * PerCoreCandidates)
    }

  /** Back-compat alias: [[nearDuplicates]] with the bounded-slice default
    * parameters the oracle twin query has always used.
    */
  def oracleNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                           numHashes: Int = 32, bands: Int = 8,
                           threshold: Double = 0.5): DataFrame =
    nearDuplicates(docs, idCol, textCol, shingleSize = 3,
      numHashes = numHashes, bands = bands, threshold = threshold)

  // -------------------------------------------------------------- oracle SQL

  /** CTE definitions replaying [[nearDuplicates]] end to end in DuckDB
    * with the same A_j/B_j constants; the final relation is
    * `pairs(a_id, b_id, jaccard)`. `docWhere` filters the `documents`
    * scan ("" = whole table). Compose into a full query or feed the pair
    * graph into a recursive-CTE clustering fixpoint.
    */
  /** The CTE prefix up to per-doc band signatures (`bands(doc_id, band,
    * bsig)`) — the replayable core shared by the pair oracle and the
    * streaming LSH-index oracle.
    */
  def oracleBandsCtes(docWhere: String, numHashes: Int, bands: Int): String = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val p = OracleP
    val whereClause = if (docWhere.isEmpty) "" else s" WHERE $docWhere"
    val minCols = (0 until numHashes).map(j =>
      s"MIN((hm * ${oracleA(j)} + ${oracleB(j)}) % $p) AS m$j").mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val parts = (0 until rows).map(r => s"CAST(m${b * rows + r} AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('|', $parts)) AS bsig FROM m"
    }.mkString("\n  UNION ALL\n  ")
    s"""t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents$whereClause),
       |sh AS (
       |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
       |    THEN list_transform(range(1, len(toks) - 1),
       |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
       |    ELSE [concat_ws(' ', toks)] END) AS s
       |  FROM t),
       |h AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % $p AS hm
       |  FROM sh),
       |m AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM h GROUP BY doc_id),
       |bands AS (
       |  $bandSelects)""".stripMargin
  }

  def oraclePairsCtes(docWhere: String, numHashes: Int, bands: Int,
                      threshold: Double,
                      maxBucketSize: Int = DefaultMaxBucketSize): String = {
    s"""${oracleBandsCtes(docWhere, numHashes, bands)},
       |bandsc AS (
       |  SELECT doc_id, band, bsig FROM (
       |    SELECT doc_id, band, bsig,
       |      COUNT(*) OVER (PARTITION BY band, bsig) AS bn FROM bands) v
       |  WHERE bn <= $maxBucketSize),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bandsc x JOIN bandsc y
       |    ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
       |sets AS (SELECT doc_id, list_distinct(toks) AS ts FROM t),
       |pairs AS (
       |  SELECT a_id, b_id, jaccard FROM (
       |    SELECT a_id, b_id,
       |      CAST(len(list_intersect(sa.ts, sb.ts)) AS DOUBLE) /
       |        (len(sa.ts) + len(sb.ts) - CAST(len(list_intersect(sa.ts, sb.ts)) AS DOUBLE)) AS jaccard
       |    FROM cand JOIN sets sa ON a_id = sa.doc_id JOIN sets sb ON b_id = sb.doc_id) v
       |  WHERE jaccard >= $threshold)""".stripMargin
  }

  /** Full query replaying [[nearDuplicates]] over `documents` rows
    * matching `docWhere` ("" = all).
    */
  def nearDuplicatesOracleSql(docWhere: String, numHashes: Int = 64,
                              bands: Int = 16, threshold: Double = 0.35): String =
    s"""WITH ${oraclePairsCtes(docWhere, numHashes, bands, threshold)}
       |SELECT a_id, b_id, jaccard FROM pairs
       |ORDER BY a_id, b_id""".stripMargin

  /** DuckDB SQL replaying the bounded oracle twin (doc_id < maxDocId,
    * 32 hashes / 8 bands / 0.5 — the query's historical parameters).
    */
  def oracleNearDuplicatesSql(maxDocId: Int, numHashes: Int = 32, bands: Int = 8,
                              threshold: Double = 0.5): String =
    nearDuplicatesOracleSql(s"doc_id < $maxDocId", numHashes, bands, threshold)
}
