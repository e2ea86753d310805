package graft.queries

import graft.Tables
import graft.QueryRegistry.Qf
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — the per-document scalar
  * stage of a training-data pipeline. Everything is built from codegen'd
  * `functions._` (no UDFs), so at 100 TB these run as a single
  * partition-parallel projection with no shuffle at all; only the final
  * demo aggregations group.
  *
  * Oracle parity: every derived value is either integer, or double
  * arithmetic on identical inputs (IEEE ops are bit-deterministic given
  * the same expression shape on both engines).
  */
object TextOps {

  private val STOP = "\\b(the|and|of|to|is)\\b"

  /** Token counting: whitespace tokens + a BPE-ish lexer split (letters /
    * digits / single punctuation marks).
    */
  private def tokenCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        size(split(trim($"text"), "\\s+")).as("n_ws"),
        size(regexp_extract_all($"text", lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0))).as("n_bpe"),
        length($"text").as("len"))
      .orderBy($"doc_id")
  }

  private val tokenCountSql =
    """SELECT doc_id,
      |  len(string_split_regex(trim(text), '\s+')) AS n_ws,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS n_bpe,
      |  length(text) AS len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality scoring: stopword ratio, punctuation density, length band —
    * the usual cheap pre-filter features before expensive model scoring.
    */
  private def qualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"text",
        size(split(trim($"text"), "\\s+")).as("n_tok"),
        size(regexp_extract_all($"text", lit("[.!?,;]"), lit(0))).as("n_punct"),
        size(regexp_extract_all(lower($"text"), lit(STOP), lit(0))).as("n_stop"))
      .select($"doc_id", $"n_tok", $"n_punct", $"n_stop",
        ($"n_stop".cast("double") / $"n_tok".cast("double")).as("stop_ratio"),
        ($"n_punct".cast("double") / length($"text").cast("double")).as("punct_ratio"))
      .withColumn("quality",
        lit(0.5) * $"stop_ratio"
          + lit(0.3) * when($"n_tok".between(20, 400), 1.0).otherwise(0.0)
          + lit(0.2) * (lit(1.0) - $"punct_ratio"))
      .orderBy($"doc_id")
  }

  private val qualityScoreSql =
    s"""SELECT doc_id, n_tok, n_punct, n_stop,
       |  CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) AS stop_ratio,
       |  CAST(n_punct AS DOUBLE) / CAST(len AS DOUBLE) AS punct_ratio,
       |  0.5 * (CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE))
       |    + 0.3 * (CASE WHEN n_tok BETWEEN 20 AND 400 THEN 1.0 ELSE 0.0 END)
       |    + 0.2 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(len AS DOUBLE)) AS quality
       |FROM (
       |  SELECT doc_id, length(text) AS len,
       |    len(string_split_regex(trim(text), '\\s+')) AS n_tok,
       |    len(regexp_extract_all(text, '[.!?,;]')) AS n_punct,
       |    len(regexp_extract_all(lower(text), '$STOP')) AS n_stop
       |  FROM documents) t
       |ORDER BY doc_id""".stripMargin

  /** Rule-based filter ATTRITION report (the Gopher/C4 filter-stack
    * shape): five named quality rules, and per source the count of docs
    * failing each rule plus the count surviving all of them — the
    * "which rule killed my data" accounting every curation run needs
    * before committing to a filter stack. Thresholds compare
    * cross-multiplied INTEGERS (3·n_tok ≤ Σ|tok| ≤ 10·n_tok instead of
    * a mean-word-length division, 20·max_tok ≤ 3·n_tok for the 0.15
    * repetition share, 10·n_sym ≤ n_chars for the 0.1 symbol ratio), so
    * both engines evaluate bit-identical arithmetic.
    *
    * Scale: the per-doc flags are one narrow projection; the dominant-
    * token share needs a (doc, token) count — two map-combined keyed
    * aggregations; the final per-source rollup is a third. No windows,
    * no joins wider than the doc table itself.
    */
  private def filterAttrition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
    val maxTok = d
      .select($"doc_id", explode(split(lower(trim($"text")), "\\s+")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("max_tok"))
    val flags = d.select($"doc_id", $"source",
        size(split(trim($"text"), "\\s+")).cast("long").as("n_tok"),
        length(regexp_replace(trim($"text"), "\\s+", "")).cast("long").as("sum_len"),
        length($"text").cast("long").as("n_ch"),
        size(regexp_extract_all(lower($"text"), lit("[^a-z0-9 ]"), lit(0)))
          .cast("long").as("n_sym"),
        size(regexp_extract_all(lower($"text"), lit(STOP), lit(0)))
          .cast("long").as("n_stop"))
      .join(maxTok, Seq("doc_id"))
      .select($"source",
        ($"n_tok" >= 30 && $"n_tok" <= 1000).as("r_len"),
        (lit(3L) * $"n_tok" <= $"sum_len" && $"sum_len" <= lit(10L) * $"n_tok").as("r_wordlen"),
        ($"n_stop" >= 2L).as("r_stop"),
        (lit(20L) * $"max_tok" <= lit(3L) * $"n_tok").as("r_rep"),
        (lit(10L) * $"n_sym" <= $"n_ch").as("r_sym"))
    flags.groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(!$"r_len", 1L).otherwise(0L)).as("fail_len"),
        sum(when(!$"r_wordlen", 1L).otherwise(0L)).as("fail_wordlen"),
        sum(when(!$"r_stop", 1L).otherwise(0L)).as("fail_stop"),
        sum(when(!$"r_rep", 1L).otherwise(0L)).as("fail_rep"),
        sum(when(!$"r_sym", 1L).otherwise(0L)).as("fail_sym"),
        sum(when($"r_len" && $"r_wordlen" && $"r_stop" && $"r_rep" && $"r_sym",
          1L).otherwise(0L)).as("n_pass"))
      .orderBy($"source")
  }

  private val filterAttritionSql =
    s"""WITH mt AS (
       |  SELECT doc_id, MAX(c) AS max_tok FROM (
       |    SELECT doc_id, tok, COUNT(*) AS c FROM (
       |      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |      FROM documents) t GROUP BY doc_id, tok) u GROUP BY doc_id),
       |f AS (
       |  SELECT source,
       |    n_tok BETWEEN 30 AND 1000 AS r_len,
       |    3 * n_tok <= sum_len AND sum_len <= 10 * n_tok AS r_wordlen,
       |    n_stop >= 2 AS r_stop,
       |    20 * max_tok <= 3 * n_tok AS r_rep,
       |    10 * n_sym <= n_ch AS r_sym
       |  FROM (
       |    SELECT doc_id, source,
       |      CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok,
       |      CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS BIGINT) AS sum_len,
       |      CAST(length(text) AS BIGINT) AS n_ch,
       |      CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS BIGINT) AS n_sym,
       |      CAST(len(regexp_extract_all(lower(text), '$STOP')) AS BIGINT) AS n_stop
       |    FROM documents) b JOIN mt USING (doc_id))
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN NOT r_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_len,
       |  CAST(SUM(CASE WHEN NOT r_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS fail_wordlen,
       |  CAST(SUM(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
       |  CAST(SUM(CASE WHEN NOT r_rep THEN 1 ELSE 0 END) AS BIGINT) AS fail_rep,
       |  CAST(SUM(CASE WHEN NOT r_sym THEN 1 ELSE 0 END) AS BIGINT) AS fail_sym,
       |  CAST(SUM(CASE WHEN r_len AND r_wordlen AND r_stop AND r_rep AND r_sym
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
       |FROM f GROUP BY source ORDER BY source""".stripMargin

  /** Language ID: n-gram/marker-word heuristic scored per language, CJK
    * characters short-circuit to zh. Output is the confusion matrix
    * against the table's `lang` label.
    */
  private def langId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = Map(
      "en" -> "\\b(the|and|of|to|is)\\b",
      "de" -> "\\b(der|die|das|und|ist)\\b",
      "fr" -> "\\b(le|la|les|et|est)\\b",
      "es" -> "\\b(el|los|las|y|es)\\b")
    val scored = Tables.documents(s, dir).select($"doc_id", $"lang",
      size(regexp_extract_all(lower($"text"), lit(m("en")), lit(0))).as("s_en"),
      size(regexp_extract_all(lower($"text"), lit(m("de")), lit(0))).as("s_de"),
      size(regexp_extract_all(lower($"text"), lit(m("fr")), lit(0))).as("s_fr"),
      size(regexp_extract_all(lower($"text"), lit(m("es")), lit(0))).as("s_es"),
      size(regexp_extract_all($"text", lit("[\\x{4e00}-\\x{9fff}]"), lit(0))).as("s_zh"))
    scored
      .withColumn("pred",
        when($"s_zh" > 0, "zh")
          .when($"s_en" >= $"s_de" && $"s_en" >= $"s_fr" && $"s_en" >= $"s_es", "en")
          .when($"s_de" >= $"s_fr" && $"s_de" >= $"s_es", "de")
          .when($"s_fr" >= $"s_es", "fr")
          .otherwise("es"))
      .groupBy($"lang", $"pred").agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"pred")
  }

  private val langIdSql =
    """SELECT lang, pred, COUNT(*) AS n FROM (
      |  SELECT lang,
      |    CASE WHEN s_zh > 0 THEN 'zh'
      |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
      |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
      |         WHEN s_fr >= s_es THEN 'fr'
      |         ELSE 'es' END AS pred
      |  FROM (
      |    SELECT doc_id, lang,
      |      len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS s_en,
      |      len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS s_de,
      |      len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS s_fr,
      |      len(regexp_extract_all(lower(text), '\b(el|los|las|y|es)\b')) AS s_es,
      |      len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh
      |    FROM documents) a) b
      |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin

  /** Document fingerprinting: md5 of normalized text (the cheap content
    * hash backing exact dedup), summarized per leading-byte bucket.
    */
  private def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(md5(lower(trim($"text"))).as("fp"))
      .groupBy(substring($"fp", 1, 2).as("bucket"))
      .agg(count(lit(1)).as("n"), countDistinct($"fp").as("n_distinct"))
      .orderBy($"bucket")
  }

  private val fingerprintSql =
    """SELECT substring(fp, 1, 2) AS bucket, COUNT(*) AS n,
      |  COUNT(DISTINCT fp) AS n_distinct
      |FROM (SELECT md5(lower(trim(text))) AS fp FROM documents) t
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Vocabulary analysis: corpus-wide top tokens — the explode+count shape
    * every token-frequency / BPE-training pipeline starts with (map-side
    * combine keeps the shuffle at vocabulary width, not corpus width).
    */
  private def topTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(split(lower(trim($"text")), "\\s+")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"tok")
      .limit(25)
  }

  private val topTokensSql =
    """SELECT tok, COUNT(*) AS n
      |FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |      FROM documents) t
      |GROUP BY tok ORDER BY n DESC, tok LIMIT 25""".stripMargin

  /** Winnowed rolling-hash fingerprints (Rabin-Karp k-grams + w-window
    * minima): the near-dup fingerprint set, summarized per doc. The
    * native kernel runs one map-side pass; the oracle replays the exact
    * modular arithmetic (ASCII: ord == byte).
    */
  private def rollingFp(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.winnowed_fingerprints
    import s.implicits._
    Tables.documents(s, dir)
      // sub-k documents have no k-gram and no row — the same contract as
      // the oracle's length(text) >= k predicate (the kernel returns an
      // empty array for them, which would otherwise surface as a
      // zero-fingerprint row the oracle never emits)
      .filter(length($"text") >= 8)
      .select($"doc_id", winnowed_fingerprints($"text", 8, 16).as("fps"))
      .select($"doc_id",
        size(array_distinct($"fps")).cast("long").as("n_fp"),
        array_min($"fps").as("min_fp"), array_max($"fps").as("max_fp"))
      .orderBy($"doc_id")
  }

  private val rollingFpSql: String = {
    val k = 8; val w = 16
    val pows = graft.core.RollingHashCore.powers(k)
    val p = graft.core.RollingHashCore.P
    val terms = (0 until k).map(j =>
      s"CAST(ord(substring(text, i + $j, 1)) AS BIGINT) * ${pows(j)}").mkString(" + ")
    s"""WITH g AS (
       |  SELECT doc_id,
       |    list_transform(range(1, length(text) - $k + 2), i -> ($terms) % $p) AS hs
       |  FROM documents WHERE length(text) >= $k),
       |f AS (
       |  SELECT doc_id, CASE WHEN len(hs) > $w
       |    THEN list_transform(range(1, len(hs) - $w + 2), i -> list_min(hs[i : i + $w - 1]))
       |    ELSE [list_min(hs)] END AS fps
       |  FROM g)
       |SELECT doc_id, CAST(len(list_distinct(fps)) AS BIGINT) AS n_fp,
       |  list_min(fps) AS min_fp, list_max(fps) AS max_fp
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** Out-of-vocabulary ratio against the corpus top-100 token vocabulary —
    * the tokenizer-coverage estimate run before committing to a vocab.
    *
    * Scale: token counts are one map-combined shuffle; the top-k is
    * `orderBy(...).limit(k)` which Spark plans as TakeOrderedAndProject
    * (per-partition top-k, merged on the driver — NEVER a single-task
    * global sort window); the k-row vocab then broadcasts to a map-side
    * join against the exploded corpus. Counts are integers, the ratio is
    * one double division — oracle-exact.
    */
  private def oovRatio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"doc_id", explode(split(lower(trim($"text")), "\\s+")).as("tok"))
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"tok").limit(100)
      .select($"tok", lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_toks"),
           sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ratio", $"n_oov".cast("double") / $"n_toks".cast("double"))
      .orderBy($"doc_id")
  }

  private val oovRatioSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |vocab AS (
      |  SELECT tok AS vtok FROM (
      |    SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
      |    ORDER BY cnt DESC, tok LIMIT 100) t)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
      |  CAST(SUM(CASE WHEN vtok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(SUM(CASE WHEN vtok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS oov_ratio
      |FROM toks LEFT JOIN vocab ON tok = vtok
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Zipf-law exponent of the corpus token distribution: least-squares
    * slope of log(freq) against log(rank) over the top 200 tokens — the
    * vocabulary-shape diagnostic behind tokenizer sizing.
    *
    * Scale: the top-k is TakeOrderedAndProject (per-partition top-k, no
    * global sort); the rank window and regression run over 200 rows.
    * Oracle parity: log values quantize to floor(ln·10⁴) BIGINT before
    * the regression sums, so the slope is integer sums + one double
    * division. (ln itself is libm-dependent in the last ulp; at 10⁻⁴
    * granularity a boundary hit needs agreement to ~10⁻¹² — negligible,
    * and the driver gate would surface it.)
    */
  private def zipfSlope(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val freq = Tables.documents(s, dir)
      .select(explode(split(lower(trim($"text")), "\\s+")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"tok").limit(200)
    // the window ranks only the 200 surviving rows — single partition by
    // construction, not a scale hazard
    val pts = freq
      .withColumn("rk", row_number().over(Window.orderBy($"cnt".desc, $"tok")))
      .select(floor(log($"rk".cast("double")) * lit(10000.0)).cast("long").as("lx"),
        floor(log($"cnt".cast("double")) * lit(10000.0)).cast("long").as("ly"))
    pts.agg(count(lit(1)).as("n"), sum($"lx").as("sx"), sum($"ly").as("sy"),
        sum($"lx" * $"ly").as("sxy"), sum($"lx" * $"lx").as("sxx"))
      .select($"n",
        (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"n" * $"sxx" - $"sx" * $"sx").cast("double")).as("zipf_slope"))
  }

  private val zipfSlopeSql =
    """WITH freq AS (
      |  SELECT tok, COUNT(*) AS cnt
      |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |        FROM documents) t
      |  GROUP BY tok ORDER BY cnt DESC, tok LIMIT 200),
      |pts AS (
      |  SELECT
      |    CAST(floor(ln(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS DOUBLE)) * 10000.0) AS BIGINT) AS lx,
      |    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 10000.0) AS BIGINT) AS ly
      |  FROM freq)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(*) * SUM(lx * ly) - SUM(lx) * SUM(ly) AS DOUBLE)
      |    / CAST(COUNT(*) * SUM(lx * lx) - SUM(lx) * SUM(lx) AS DOUBLE) AS zipf_slope
      |FROM pts""".stripMargin

  /** Winnowing-based document-overlap candidates (the MOSS shape): docs
    * sharing ≥ 3 winnowed rolling-hash fingerprints, with ubiquitous
    * fingerprints (doc frequency > 50) dropped as stop-fingerprints.
    * This is the THIRD near-dup candidate family next to MinHash-LSH and
    * SimHash — it keys on raw character k-grams, so it survives token
    * boundary shifts that word-shingle methods miss.
    *
    * Scale: one map-side kernel pass per doc, an equi-join on the
    * fingerprint (shuffle = fingerprint postings), and the stop-
    * fingerprint cap bounds the worst posting list — the same
    * hot-bucket guard banded LSH uses. Never an all-pairs product.
    */
  private def winnowOverlap(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.winnowed_fingerprints
    import s.implicits._
    val fps = Tables.documents(s, dir)
      .select($"doc_id",
        explode(array_distinct(winnowed_fingerprints($"text", 8, 16))).as("fp"))
    val keep = fps.groupBy($"fp").agg(count(lit(1)).as("df"))
      .filter($"df" <= 50)
    val pruned = fps.join(keep.select($"fp"), Seq("fp"))
    pruned.as("a").join(pruned.as("b"), Seq("fp"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter($"shared_fps" >= 3)
      .orderBy($"a_id", $"b_id")
  }

  private val winnowOverlapSql: String = {
    val k = 8; val w = 16
    val pows = graft.core.RollingHashCore.powers(k)
    val p = graft.core.RollingHashCore.P
    val terms = (0 until k).map(j =>
      s"CAST(ord(substring(text, i + $j, 1)) AS BIGINT) * ${pows(j)}").mkString(" + ")
    s"""WITH g AS (
       |  SELECT doc_id,
       |    list_transform(range(1, length(text) - $k + 2), i -> ($terms) % $p) AS hs
       |  FROM documents WHERE length(text) >= $k),
       |f AS (
       |  SELECT doc_id, CASE WHEN len(hs) > $w
       |    THEN list_transform(range(1, len(hs) - $w + 2), i -> list_min(hs[i : i + $w - 1]))
       |    ELSE [list_min(hs)] END AS fps
       |  FROM g),
       |e AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM f),
       |keep AS (SELECT fp FROM (SELECT fp, COUNT(*) AS df FROM e GROUP BY fp)
       |         WHERE df <= 50),
       |pr AS (SELECT doc_id, e.fp FROM e JOIN keep ON e.fp = keep.fp)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(COUNT(*) AS BIGINT) AS shared_fps
       |FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= 3
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** BPE-style adjacent-character-pair statistics: the counts behind the
    * FIRST merge of byte-pair-encoding tokenizer training (corpus-
    * weighted, per word occurrence). Top-20 merge candidates by count.
    * The pair lambda reads the exploded `tok` attribute (cheap substring
    * per element — no re-evaluated regex; see GramStage's HOF notes).
    */
  private def bpePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(split(lower(trim($"text")), "\\s+")).as("tok"))
      .filter(length($"tok") >= 2)
      .select(explode(transform(sequence(lit(1), length($"tok") - 1),
        i => $"tok".substr(i, lit(2)))).as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"pair")
      .limit(20)
  }

  private val bpePairsSql =
    """SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      |  SELECT unnest(list_transform(range(1, length(tok)),
      |    i -> substring(tok, i, 2))) AS pair
      |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |        FROM documents) t
      |  WHERE length(tok) >= 2) p
      |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin

  /** Character-distribution Shannon entropy per document (nats) — the
    * gibberish / encoded-blob detector in a quality-filter stack.
    * H = Σ (cnt/len)·ln(len/cnt) over the per-doc character histogram;
    * each histogram term quantizes to floor(ln·10⁴)·cnt BIGINT before
    * the per-doc sum (associative; ln's last ulp sits ~10⁻¹¹ from any
    * floor boundary). The window runs over the HISTOGRAM (≤ charset
    * width per doc), never the raw characters.
    */
  private def charEntropy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val hist = Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", "")).as("c"))
      .filter($"c" =!= "")
      .groupBy($"doc_id", $"c").agg(count(lit(1)).as("cnt"))
    hist
      .withColumn("len", sum($"cnt").over(Window.partitionBy($"doc_id")))
      .withColumn("term",
        $"cnt" * floor(log($"len".cast("double") / $"cnt".cast("double")) * lit(10000.0)).cast("long"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_distinct_chars"), first($"len").as("len"),
        sum($"term").as("h_fp"))
      .select($"doc_id", $"n_distinct_chars", $"len",
        ($"h_fp".cast("double") / ($"len".cast("double") * lit(10000.0))).as("entropy_nats"))
      .orderBy($"doc_id")
  }

  private val charEntropySql =
    """WITH ch AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
      |hist AS (
      |  SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM ch WHERE c <> '' GROUP BY doc_id, c),
      |h AS (
      |  SELECT doc_id, c, cnt,
      |    CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS len
      |  FROM hist)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
      |  CAST(MAX(len) AS BIGINT) AS len,
      |  CAST(SUM(cnt * CAST(floor(ln(CAST(len AS DOUBLE) / CAST(cnt AS DOUBLE)) * 10000.0) AS BIGINT)) AS DOUBLE)
      |    / (CAST(MAX(len) AS BIGINT) * 10000.0) AS entropy_nats
      |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // PII patterns kept RE2-safe (char classes, \b, bounded repeats — no
  // lookaround), so Java regex (Spark) and RE2 (DuckDB) match identically.
  private val PiiEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PiiIp    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PiiPhone = "\\b555-\\d{4}\\b"

  /** PII detection + redaction — the scrub pass every training-data
    * pipeline runs before anything ships: count emails / IPv4s / phone
    * numbers per document, then replace each with a typed placeholder and
    * fingerprint the redacted text. The synthetic corpus carries no PII,
    * so each doc first gets a deterministic doc_id-derived contact line
    * appended (both engines build the identical line) — the redactor is
    * then verified against text that actually contains every pattern
    * class, not vacuously against zero matches.
    *
    * Scale: one narrow projection per doc — three regex counts + three
    * chained regexp_replace, all codegen'd, no shuffle at all until the
    * final presentation sort.
    */
  private def piiRedact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withPii = Tables.documents(s, dir).select($"doc_id",
      concat(lower($"text"),
        lit(" contact doc"), $"doc_id".cast("string"), lit("@example.com from 10."),
        ($"doc_id" % 200).cast("string"), lit(".0."),
        ($"doc_id" % 250 + 1).cast("string"),
        lit(" phone 555-"),
        lpad(($"doc_id" * 7 % 10000).cast("string"), 4, "0")).as("txt"))
    withPii.select($"doc_id",
      size(regexp_extract_all($"txt", lit(PiiEmail), lit(0))).cast("long").as("n_email"),
      size(regexp_extract_all($"txt", lit(PiiIp), lit(0))).cast("long").as("n_ip"),
      size(regexp_extract_all($"txt", lit(PiiPhone), lit(0))).cast("long").as("n_phone"),
      md5(regexp_replace(regexp_replace(regexp_replace($"txt",
        PiiEmail, "<EMAIL>"), PiiIp, "<IP>"), PiiPhone, "<PHONE>"))
        .as("redacted_md5"))
      .orderBy($"doc_id")
  }

  private val piiRedactSql =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(txt, '$PiiEmail')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(txt, '$PiiIp')) AS BIGINT) AS n_ip,
       |  CAST(len(regexp_extract_all(txt, '$PiiPhone')) AS BIGINT) AS n_phone,
       |  md5(regexp_replace(regexp_replace(regexp_replace(txt,
       |    '$PiiEmail', '<EMAIL>', 'g'), '$PiiIp', '<IP>', 'g'),
       |    '$PiiPhone', '<PHONE>', 'g')) AS redacted_md5
       |FROM (
       |  SELECT doc_id, lower(text)
       |    || ' contact doc' || CAST(doc_id AS VARCHAR) || '@example.com from 10.'
       |    || CAST(doc_id % 200 AS VARCHAR) || '.0.'
       |    || CAST(doc_id % 250 + 1 AS VARCHAR)
       |    || ' phone 555-' || lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0') AS txt
       |  FROM documents) t
       |ORDER BY doc_id""".stripMargin

  // URL grammar kept RE2-safe and anchored to the scheme so Java regex
  // (Spark) and RE2 (DuckDB) tokenize the same spans.
  private val UrlRe  = "https?://[a-z0-9.-]+(/[a-z0-9/._-]*)?"
  private val HostRe = "https?://([a-z0-9.-]+)"

  /** URL / domain extraction + blocklist attrition — the C4/RefinedWeb
    * provenance-filter pass: pull every URL out of each document, key by
    * host, and flag hosts matching the ad-tracker blocklist prefix. The
    * synthetic corpus carries no URLs, so each doc gets a deterministic
    * doc_id-derived citation line appended (identical construction in
    * both engines); docs where doc_id % 5 = 0 also gain a tracker URL so
    * the blocklist path is exercised against real matches, not zero.
    *
    * Scale: regex extraction is a narrow codegen'd projection, the
    * explode fans out ≤ 2 rows/doc, and the rollup is one map-combined
    * keyed aggregation on host — a blocklist at real scale joins in as
    * a broadcast.
    */
  private def urlExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withUrls = Tables.documents(s, dir).select($"doc_id",
      concat(lower($"text"),
        lit(" see https://www.site"), ($"doc_id" % 13).cast("string"),
        element_at(array(lit(".com"), lit(".org"), lit(".net")),
          ($"doc_id" % 3 + 1).cast("int")),
        lit("/p/"), $"doc_id".cast("string"),
        when($"doc_id" % 5 === 0,
          concat(lit(" via http://ads.track"), ($"doc_id" % 7).cast("string"),
            lit(".example.com/x"))).otherwise(lit(""))).as("txt"))
    withUrls
      .select($"doc_id", explode(
        expr(s"regexp_extract_all(txt, '$UrlRe', 0)")).as("url"))
      .select($"doc_id", regexp_extract($"url", HostRe, 1).as("host"))
      .groupBy($"host")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct($"doc_id").as("n_docs"))
      .withColumn("blocked",
        when($"host".startsWith("ads."), lit(1L)).otherwise(lit(0L)))
      .orderBy($"host")
  }

  /** The deterministic URL injection + host extraction shared by
    * `txt_url_extract` and `txt_host_pagerank`: (doc_id, host) pairs.
    */
  private def docHosts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withUrls = Tables.documents(s, dir).select($"doc_id",
      concat(lower($"text"),
        lit(" see https://www.site"), ($"doc_id" % 13).cast("string"),
        element_at(array(lit(".com"), lit(".org"), lit(".net")),
          ($"doc_id" % 3 + 1).cast("int")),
        lit("/p/"), $"doc_id".cast("string"),
        when($"doc_id" % 5 === 0,
          concat(lit(" via http://ads.track"), ($"doc_id" % 7).cast("string"),
            lit(".example.com/x"))).otherwise(lit(""))).as("txt"))
    withUrls
      .select($"doc_id", explode(
        expr(s"regexp_extract_all(txt, '$UrlRe', 0)")).as("url"))
      .select($"doc_id", regexp_extract($"url", HostRe, 1).as("host"))
      .distinct()
  }

  /** The matching DuckDB CTE block ending in `h(doc_id, host)`. */
  private val docHostsCtes =
    s"""t AS (
       |  SELECT doc_id, lower(text) || ' see https://www.site'
       |    || CAST(doc_id % 13 AS VARCHAR)
       |    || ['.com', '.org', '.net'][CAST(doc_id % 3 + 1 AS INT)]
       |    || '/p/' || CAST(doc_id AS VARCHAR)
       |    || CASE WHEN doc_id % 5 = 0 THEN ' via http://ads.track'
       |         || CAST(doc_id % 7 AS VARCHAR) || '.example.com/x'
       |       ELSE '' END AS txt
       |  FROM documents),
       |u AS (
       |  SELECT doc_id, unnest(regexp_extract_all(txt, '$UrlRe')) AS url FROM t),
       |h AS (
       |  SELECT DISTINCT doc_id, regexp_extract(url, '$HostRe', 1) AS host FROM u)""".stripMargin

  /** Iterative GRAPH analytics — damped PageRank over the host
    * co-occurrence graph (hosts linked when they appear in the same
    * document), the link-quality signal web-scale curation pipelines
    * attach to URLs. Entirely integer arithmetic in millionths:
    * r₀ = 10⁶, rᵢ₊₁(v) = 150000 + (85 · Σ_{u→v} (rᵢ(u) DIV outdeg(u)))
    * DIV 100 — every engine computes identical BIGINTs (all values
    * non-negative, so truncating and flooring division agree), and the
    * oracle replays each of the $PageRankIters rounds as a chained CTE.
    * Dangling hosts keep the teleport mass only (the standard
    * leaked-mass simplification, identical on both sides).
    *
    * Scale: each round is one equi-join (edges × ranks, rank side is
    * O(hosts) — broadcastable) + one keyed aggregate; rounds are
    * sequential jobs like `emb_kmeans_iter`. Edge multiplicity is
    * collapsed (DISTINCT src→dst) so the iteration cost is bounded by
    * the distinct graph, not the corpus.
    */
  private val PageRankIters = 3

  private def hostPageRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = docHosts(s, dir).localCheckpoint() // edges + nodes both read it
    val edges = h.as("a").join(h.as("b"), Seq("doc_id"))
      .filter($"a.host" =!= $"b.host")
      .select($"a.host".as("src"), $"b.host".as("dst"))
      .distinct()
      .localCheckpoint() // every round reads the edge list
    val outdeg = edges.groupBy($"src").agg(count(lit(1)).as("od"))
    val nodes = h.select($"host").distinct()
    var r = nodes.select($"host", lit(1000000L).as("r"))
    for (_ <- 1 to PageRankIters) {
      val contrib = edges
        .join(r.withColumnRenamed("host", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .select($"dst".as("host"), expr("r DIV od").as("c"))
        .groupBy($"host").agg(sum($"c").as("s"))
      r = nodes.join(contrib, Seq("host"), "left")
        .select($"host",
          (lit(150000L) + expr("85 * coalesce(s, 0L) DIV 100")).as("r"))
    }
    r.select($"host", $"r".as("rank_ppm"))
      .orderBy($"rank_ppm".desc, $"host")
  }

  private val hostPageRankSql = {
    val rounds = (1 to PageRankIters).map { i =>
      s""",
         |r$i AS (
         |  SELECT n.host, CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS host, SUM(r${i - 1}.r // od.od) AS s
         |    FROM e JOIN r${i - 1} ON e.src = r${i - 1}.host
         |    JOIN od ON e.src = od.src GROUP BY 1) c ON n.host = c.host)""".stripMargin
    }.mkString
    // concatenated AFTER stripMargin: docHostsCtes contains '||'
    // continuation lines that a second stripMargin would mangle
    "WITH " + docHostsCtes + ",\n" +
      s"""e AS (SELECT DISTINCT a.host AS src, b.host AS dst
         |  FROM h a JOIN h b ON a.doc_id = b.doc_id AND a.host <> b.host),
         |od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM e GROUP BY 1),
         |n AS (SELECT DISTINCT host FROM h),
         |r0 AS (SELECT host, CAST(1000000 AS BIGINT) AS r FROM n)$rounds
         |SELECT host, r AS rank_ppm FROM r$PageRankIters
         |ORDER BY rank_ppm DESC, host""".stripMargin
  }

  /** Triangle counting over the host co-occurrence graph with DEGREE
    * ORIENTATION — the second iterative-graph analytic next to
    * [[hostPageRank]], and the standard local-clustering signal link
    * analysis attaches to hosts. Each undirected edge is directed from
    * its endpoint with the smaller (degree, host) to the larger — a
    * strict total order, so every edge appears exactly once and every
    * triangle has exactly one "rooted" orientation a→b, a→c, b→c and is
    * counted exactly once. Output: per-host triangle participation.
    *
    * Scale: the classic bound — wedge enumeration (e1⋈e2 on the shared
    * middle vertex) fans out by ORIENTED out-degree, which degree
    * orientation caps at O(√m) per vertex regardless of skew (a celebrity
    * host receives its edges instead of emitting them), so the join
    * output is O(m^1.5) worst-case instead of Σdeg² — the
    * Suri–Vassilvitskii MapReduce triangle scheme expressed as two
    * self-equi-joins Catalyst plans as ordinary shuffled hash joins.
    */
  private def hostTriangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Co-occurrence at CRAWL-BATCH granularity (20 consecutive docs):
    // per-document the synthetic corpus injects ≤2 hosts, which makes the
    // doc-level graph bipartite (zero triangles by construction); batches
    // hold ~20 distinct hosts, giving overlapping cliques — and the batch
    // scope is also what bounds the pair fan-out: C(hosts-in-batch, 2),
    // never corpus-wide.
    val h = docHosts(s, dir)
      .select(expr("doc_id DIV 20").as("grp"), $"host")
      .distinct()
      .localCheckpoint() // read twice below
    val und = h.as("a").join(h.as("b"), Seq("grp"))
      .filter($"a.host" < $"b.host")
      .select($"a.host".as("u"), $"b.host".as("v"))
      .distinct()
    val deg = und.select($"u".as("host"))
      .union(und.select($"v".as("host")))
      .groupBy($"host").agg(count(lit(1)).as("deg"))
    // orient low-(deg, host) → high; u < v already, so ties keep u→v
    val e = und
      .join(deg.select($"host".as("u"), $"deg".as("du")), Seq("u"))
      .join(deg.select($"host".as("v"), $"deg".as("dv")), Seq("v"))
      .select(
        when($"du" <= $"dv", $"u").otherwise($"v").as("src"),
        when($"du" <= $"dv", $"v").otherwise($"u").as("dst"))
      .localCheckpoint() // wedge join reads it three times
    val tri = e.as("e1").join(e.as("e2"), $"e1.dst" === $"e2.src")
      .join(e.as("e3"),
        $"e3.src" === $"e1.src" && $"e3.dst" === $"e2.dst")
      .select($"e1.src".as("h1"), $"e1.dst".as("h2"), $"e2.dst".as("h3"))
    tri.select(explode(array($"h1", $"h2", $"h3")).as("host"))
      .groupBy($"host").agg(count(lit(1)).as("n_triangles"))
      .orderBy($"host")
  }

  private val hostTrianglesSql =
    "WITH " + docHostsCtes + ",\n" +
      s"""hg AS (SELECT DISTINCT doc_id // 20 AS grp, host FROM h),
         |e0 AS (SELECT DISTINCT a.host AS u, b.host AS v
         |  FROM hg a JOIN hg b ON a.grp = b.grp AND a.host < b.host),
         |dg AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |  SELECT u AS host FROM e0 UNION ALL SELECT v AS host FROM e0) x
         |  GROUP BY host),
         |e AS (SELECT
         |    CASE WHEN du.deg <= dv.deg THEN u ELSE v END AS src,
         |    CASE WHEN du.deg <= dv.deg THEN v ELSE u END AS dst
         |  FROM e0 JOIN dg du ON e0.u = du.host JOIN dg dv ON e0.v = dv.host),
         |tr AS (SELECT e1.src AS h1, e1.dst AS h2, e2.dst AS h3
         |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
         |  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst)
         |SELECT host, CAST(COUNT(*) AS BIGINT) AS n_triangles
         |FROM (SELECT h1 AS host FROM tr UNION ALL SELECT h2 AS host FROM tr
         |      UNION ALL SELECT h3 AS host FROM tr) x
         |GROUP BY host ORDER BY host""".stripMargin

  private val urlExtractSql =
    s"""WITH t AS (
       |  SELECT doc_id, lower(text) || ' see https://www.site'
       |    || CAST(doc_id % 13 AS VARCHAR)
       |    || ['.com', '.org', '.net'][CAST(doc_id % 3 + 1 AS INT)]
       |    || '/p/' || CAST(doc_id AS VARCHAR)
       |    || CASE WHEN doc_id % 5 = 0 THEN ' via http://ads.track'
       |         || CAST(doc_id % 7 AS VARCHAR) || '.example.com/x'
       |       ELSE '' END AS txt
       |  FROM documents),
       |u AS (
       |  SELECT doc_id, unnest(regexp_extract_all(txt, '$UrlRe')) AS url FROM t),
       |h AS (
       |  SELECT doc_id, regexp_extract(url, '$HostRe', 1) AS host FROM u)
       |SELECT host, CAST(COUNT(*) AS BIGINT) AS n_urls,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CASE WHEN host LIKE 'ads.%' THEN CAST(1 AS BIGINT)
       |       ELSE CAST(0 AS BIGINT) END AS blocked
       |FROM h GROUP BY host ORDER BY host""".stripMargin

  /** Hashed-feature linear classifier INFERENCE (the fasttext-style
    * quality gate every pretraining pipeline runs): each token hashes
    * into a 1024-bucket feature space (first 4 hex digits of md5 — the
    * hashing trick, no vocabulary broadcast), buckets carry integer
    * weights from a closed-form Knuth-multiplicative table (in
    * production this is the trained weight array, broadcast once), and
    * a document's score is the exact integer sum over its token bag.
    * The oracle replays the hex fold and weight table digit by digit.
    *
    * Scale: one codegen'd projection + explode, map-side combined
    * groupBy(doc_id) — shuffle width is docs × one long, never tokens;
    * the weight table is O(buckets), broadcast-trivial at any corpus
    * size.
    */
  private def hashClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", explode(split(lower(trim($"text")), "\\s+")).as("t"))
      .select($"doc_id",
        (conv(substring(md5($"t"), 1, 4), 16, 10).cast("long") % 1024L).as("b"))
      .select($"doc_id", (($"b" * 2654435761L) % 2001L - 1000L).as("w"))
      .groupBy($"doc_id")
      .agg(sum($"w").as("score"), count(lit(1)).as("n_tok"))
      .select(when($"score" > 0, lit("keep")).otherwise(lit("drop")).as("label"),
        $"score", $"n_tok")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_docs"), sum($"score").as("sum_score"),
        sum($"n_tok").as("sum_tokens"))
      .orderBy($"label")
  }

  private val hashClassifierSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
      |  FROM documents),
      |h AS (SELECT doc_id, substring(md5(t), 1, 4) AS h4 FROM tok),
      |b AS (SELECT doc_id,
      |  ((strpos('0123456789abcdef', substring(h4,1,1))-1)*4096 +
      |   (strpos('0123456789abcdef', substring(h4,2,1))-1)*256 +
      |   (strpos('0123456789abcdef', substring(h4,3,1))-1)*16 +
      |   (strpos('0123456789abcdef', substring(h4,4,1))-1)) % 1024 AS b FROM h),
      |w AS (SELECT doc_id, (b*2654435761) % 2001 - 1000 AS w FROM b),
      |d AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score,
      |  CAST(COUNT(*) AS BIGINT) AS n_tok FROM w GROUP BY doc_id)
      |SELECT CASE WHEN score > 0 THEN 'keep' ELSE 'drop' END AS label,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(score) AS BIGINT) AS sum_score,
      |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
      |FROM d GROUP BY 1 ORDER BY label""".stripMargin

  /** HTML/BOILERPLATE STRIPPING — the markup-removal stage every
    * web-crawl corpus passes through before any text analysis: each doc
    * is wrapped in deterministic HTML (head/style/nav/script/footer with
    * entities), then the strip chain runs — script/style block removal,
    * tag removal, entity decode (AFTER tags, so decoded '<' can't form
    * fake tags), whitespace collapse — all chained codegen'd
    * regexp_replace, zero shuffle until the per-source rollup. The
    * oracle replays injection AND the full chain, and the per-source
    * md5 over the ordered cleaned texts pins every byte of the output,
    * not just the lengths.
    */
  private def htmlStrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val html = concat(
      lit("<html><head><title>Doc "), $"doc_id".cast("string"),
      lit("</title><style>.x{color:red}</style></head><body>"),
      lit("<nav>home &amp; about</nav><div class=\"main\"><p>"), $"text",
      lit("</p></div><script>var x = 1 &lt; 2;</script><footer>&quot;site"),
      ($"doc_id" % 13).cast("string"), lit("&quot;</footer></body></html>"))
    val noScript = regexp_replace(regexp_replace(html,
      "<script[^>]*>.*?</script>", " "), "<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noScript, "<[^>]+>", " ")
    val decoded = regexp_replace(regexp_replace(regexp_replace(noTags,
      "&amp;", "&"), "&lt;", "<"), "&quot;", "\"")
    val clean = trim(regexp_replace(decoded, "\\s+", " "))
    Tables.documents(s, dir)
      .select($"source", $"doc_id", length(html).as("raw_len"),
        length(clean).as("clean_len"), clean.as("clean"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"raw_len").as("sum_raw"), sum($"clean_len").as("sum_clean"),
        expr("SUM(raw_len - clean_len) * 1000000 DIV SUM(raw_len)").as("markup_ppm"),
        md5(concat_ws("", transform(
          array_sort(collect_list(struct($"doc_id", $"clean"))),
          x => x.getField("clean")))).as("content_md5"))
      .orderBy($"source")
  }

  private val htmlStripSql =
    """WITH w AS (
      |  SELECT source, doc_id,
      |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
      |    || '</title><style>.x{color:red}</style></head><body>'
      |    || '<nav>home &amp; about</nav><div class="main"><p>' || text
      |    || '</p></div><script>var x = 1 &lt; 2;</script><footer>&quot;site'
      |    || CAST(doc_id % 13 AS VARCHAR) || '&quot;</footer></body></html>' AS html
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id, length(html) AS raw_len,
      |    trim(regexp_replace(
      |      regexp_replace(regexp_replace(regexp_replace(
      |        regexp_replace(
      |          regexp_replace(regexp_replace(html,
      |            '<script[^>]*>.*?</script>', ' ', 'g'),
      |          '<style[^>]*>.*?</style>', ' ', 'g'),
      |        '<[^>]+>', ' ', 'g'),
      |      '&amp;', '&', 'g'), '&lt;', '<', 'g'), '&quot;', '"', 'g'),
      |    '\s+', ' ', 'g')) AS clean
      |  FROM w)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(raw_len) AS BIGINT) AS sum_raw,
      |  CAST(SUM(length(clean)) AS BIGINT) AS sum_clean,
      |  CAST(SUM(raw_len - length(clean)) * 1000000 // SUM(raw_len) AS BIGINT) AS markup_ppm,
      |  md5(string_agg(clean, '' ORDER BY doc_id)) AS content_md5
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** CALIBRATION CURVE (reliability diagram) for the hashed linear
    * classifier against the language ground truth — the model-eval step
    * that turns a raw score into a usable keep/drop THRESHOLD: per
    * fixed-width score bin (5000-wide, clamped to ±6), document count,
    * positives (lang = 'en') and exact precision. Monotone-ish precision
    * over bins = a calibratable score; the fixed bins (not quantiles)
    * keep the curve comparable across corpus versions.
    *
    * Scale: rides the classifier's one explode + keyed-sum pass, then a
    * ≤13-bin aggregate; the ground-truth join is by doc_id.
    */
  private def calibrationCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val scores = docs
      .select($"doc_id", explode(split(lower(trim($"text")), "\\s+")).as("t"))
      .select($"doc_id",
        (conv(substring(md5($"t"), 1, 4), 16, 10).cast("long") % 1024L).as("b"))
      .select($"doc_id", (($"b" * 2654435761L) % 2001L - 1000L).as("w"))
      .groupBy($"doc_id").agg(sum($"w").as("score"))
    // clamp BEFORE dividing and shift non-negative: Spark's DIV truncates
    // toward zero while DuckDB's // floors — they only agree on ≥ 0
    scores.join(docs.select($"doc_id", ($"lang" === "en").cast("long").as("pos")), "doc_id")
      .select(expr("(greatest(-30000L, least(34999L, score)) + 30000L) DIV 5000").as("bin"),
        $"pos")
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"pos").as("n_pos"))
      .withColumn("precision", $"n_pos".cast("double") / $"n_docs")
      .orderBy($"bin")
  }

  private val calibrationCurveSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
      |  FROM documents),
      |h AS (SELECT doc_id, substring(md5(t), 1, 4) AS h4 FROM tok),
      |b AS (SELECT doc_id,
      |  ((strpos('0123456789abcdef', substring(h4,1,1))-1)*4096 +
      |   (strpos('0123456789abcdef', substring(h4,2,1))-1)*256 +
      |   (strpos('0123456789abcdef', substring(h4,3,1))-1)*16 +
      |   (strpos('0123456789abcdef', substring(h4,4,1))-1)) % 1024 AS b FROM h),
      |w AS (SELECT doc_id, (b*2654435761) % 2001 - 1000 AS w FROM b),
      |d AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score FROM w GROUP BY doc_id),
      |j AS (SELECT (greatest(-30000, least(34999, score)) + 30000) // 5000 AS bin,
      |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      |      FROM d JOIN documents USING (doc_id))
      |SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(pos) AS BIGINT) AS n_pos,
      |  CAST(SUM(pos) AS DOUBLE) / COUNT(*) AS precision
      |FROM j GROUP BY bin ORDER BY bin""".stripMargin

  /** DISTRIBUTED TRAINING of a linear quality classifier — the batch
    * perceptron over hashed token features, integer-exact end to end
    * (the training-side complement of `txt_hash_classifier`'s fixed-table
    * inference; kmeans/PCA cover unsupervised training, this covers
    * supervised). Features: 256 hashed buckets (the same md5 hex-fold the
    * inference query uses), x = per-doc bucket counts; labels from the
    * lang column (en vs rest). Each pass is one broadcast weight join +
    * one shuffle aggregate over (doc, bucket) features — pass 1 from w=0
    * updates on every doc, pass 2 updates only the docs the pass-1
    * weights still misclassify (margin·label ≤ 0). Integer weights make
    * every pass bit-reproducible, so the oracle replays BOTH passes as
    * chained CTEs — a hash match proves the full training loop, not a
    * sampled metric. At scale: weights stay a broadcastable D-vector
    * (grow D, not the plan); passes are sequential jobs like
    * `emb_kmeans_iter`'s rounds.
    */
  private def trainPerceptron(s: SparkSession, dir: String): DataFrame =
    trainPerceptronOn(perceptronFeats(s, dir))

  /** The shared hashed-bucket feature pass `(doc_id, y, b, x)`, pinned
    * once — `txt_model_registry` reuses it for the inference leg instead
    * of re-tokenizing the corpus (r15).
    */
  private def perceptronFeats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        when($"lang" === "en", 1L).otherwise(-1L).as("y"),
        explode(split(lower(trim($"text")), "\\s+")).as("t"))
      .select($"doc_id", $"y",
        (conv(substring(md5($"t"), 1, 4), 16, 10).cast("long") % 256L).as("b"))
      .groupBy($"doc_id", $"y", $"b")
      .agg(count(lit(1)).as("x"))
      .localCheckpoint() // both passes read the features; cut the lineage once
  }

  private def trainPerceptronOn(feats: DataFrame): DataFrame = {
    val s = feats.sparkSession
    import s.implicits._
    // pass 1: w = 0 ⇒ every margin is 0 ⇒ every doc updates
    val w1 = feats.groupBy($"b").agg(sum($"y" * $"x").as("w"))
    // pass 2: update only the docs w1 still misclassifies
    val margins = feats.join(broadcast(w1), "b")
      .groupBy($"doc_id", $"y").agg(sum($"x" * $"w").as("m"))
    val upd = margins.filter($"y" * $"m" <= 0).select($"doc_id")
    val delta = feats.join(broadcast(upd), "doc_id")
      .groupBy($"b").agg(sum($"y" * $"x").as("d"))
    w1.as("w").join(delta.as("dl"), Seq("b"), "left")
      .select($"b".as("bucket"),
        ($"w" + coalesce($"d", lit(0L))).as("w"))
      .filter($"w" =!= 0)
      .orderBy($"bucket")
  }

  /** N-PASS batch perceptron with a convergence stop — the
    * generalization of `txt_train_perceptron`'s bounded 2-pass form
    * (which stays the oracle row; this is the production training loop).
    * `feats` rows are (doc_id, y ∈ {-1,1}, b, x): per-doc hashed-bucket
    * counts. Each pass is ONE broadcast weight join + ONE shuffle
    * aggregate — the weights stay a broadcastable D-vector; the only
    * driver-side value per pass is the misclassified COUNT (the
    * convergence probe, like `clusterLabels`' label-sum). Stops at zero
    * misclassified (a separable set converges by the perceptron theorem)
    * or after `maxPasses`. Returns (weights(bucket, w), passes run,
    * misclassified docs after the last pass).
    */
  def trainPerceptronLoop(feats0: DataFrame, maxPasses: Int): (DataFrame, Int, Long) = {
    val feats = feats0.select(col("doc_id"), col("y"), col("b"), col("x"))
      .localCheckpoint()
    // pass 1 from w=0: every margin is 0, every doc updates
    var w = feats.groupBy(col("b")).agg(sum(col("y") * col("x")).as("w"))
      .localCheckpoint()
    var passes = 1
    var wrong = -1L
    while (wrong != 0L && passes < maxPasses) {
      val margins = feats.join(broadcast(w), Seq("b"), "left")
        .groupBy(col("doc_id"), col("y"))
        .agg(sum(col("x") * coalesce(col("w"), lit(0L))).as("m"))
      val upd = margins.filter(col("y") * col("m") <= 0).select(col("doc_id"))
      wrong = upd.count()
      if (wrong != 0L) {
        val delta = feats.join(broadcast(upd), Seq("doc_id"), "left_semi")
          .groupBy(col("b")).agg(sum(col("y") * col("x")).as("d"))
        w = w.join(delta, Seq("b"), "full_outer")
          .select(col("b"),
            (coalesce(col("w"), lit(0L)) + coalesce(col("d"), lit(0L))).as("w"))
          .localCheckpoint() // keep pass N's plan free of passes 0..N-1
        passes += 1
      }
    }
    if (wrong != 0L) { // report the count under the FINAL weights
      wrong = feats.join(broadcast(w), Seq("b"), "left")
        .groupBy(col("doc_id"), col("y"))
        .agg(sum(col("x") * coalesce(col("w"), lit(0L))).as("m"))
        .filter(col("y") * col("m") <= 0).count()
    }
    (w.filter(col("w") =!= 0), passes, wrong)
  }

  private val trainPerceptronSql =
    """WITH tok AS (
      |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
      |  FROM documents),
      |bk AS (SELECT doc_id, y,
      |  ((strpos('0123456789abcdef', substring(md5(t),1,1))-1)*4096 +
      |   (strpos('0123456789abcdef', substring(md5(t),2,1))-1)*256 +
      |   (strpos('0123456789abcdef', substring(md5(t),3,1))-1)*16 +
      |   (strpos('0123456789abcdef', substring(md5(t),4,1))-1)) % 256 AS b
      |  FROM tok),
      |feats AS (SELECT doc_id, y, b, CAST(COUNT(*) AS BIGINT) AS x
      |  FROM bk GROUP BY 1, 2, 3),
      |w1 AS (SELECT b, CAST(SUM(y*x) AS BIGINT) AS w FROM feats GROUP BY b),
      |m2 AS (SELECT f.doc_id, f.y, SUM(f.x * w1.w) AS m
      |  FROM feats f JOIN w1 ON f.b = w1.b GROUP BY 1, 2),
      |upd AS (SELECT doc_id FROM m2 WHERE y * m <= 0),
      |delta AS (SELECT f.b, CAST(SUM(f.y * f.x) AS BIGINT) AS d
      |  FROM feats f JOIN upd u ON f.doc_id = u.doc_id GROUP BY f.b)
      |SELECT w1.b AS bucket, CAST(w1.w + COALESCE(delta.d, 0) AS BIGINT) AS w
      |FROM w1 LEFT JOIN delta ON w1.b = delta.b
      |WHERE w1.w + COALESCE(delta.d, 0) != 0
      |ORDER BY bucket""".stripMargin

  /** MODEL REGISTRY through the storage plane — the third artifact kind
    * next to the ANN index and the postings index: the trained
    * perceptron's weight vector is PERSISTED into a KeyValueTable
    * (pk = model name, sk = bucket, value = integer weight), then a
    * separate inference pass LOADS the model back from the store and
    * scores the corpus with the loaded weights — train → register →
    * load → serve, the lifecycle every production quality-gate
    * deployment runs (training jobs and inference jobs never share a
    * process). The oracle chains the full training replay with the
    * inference block directly, so a hash match proves the weight
    * serialization round trip is exact — and because models live in a
    * KVT, they inherit versioned history (`entriesAt` = model
    * rollback) and compaction for free (ModelRegistrySpec).
    * Scale: the model is O(buckets) — broadcast-trivial; inference is
    * the hashClassifier shape (map-side projection + one keyed agg).
    */
  private def modelRegistry(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // training job: the 2-pass batch perceptron (the oracle-replayed form)
    val feats0 = perceptronFeats(s, dir)
    val w = trainPerceptronOn(feats0)
    // register the model
    val work = graft.util.WorkDirs.temp("graft-modelkv")
    val reg = new graft.kv.KeyValueTable(s, work, "models", partitionCount = 4)
    reg.put(w.select(lit("quality_v1").as("pk"),
      format_string("%05d", $"bucket").as("sk"),
      encode($"w".cast("string"), "UTF-8").as("value")))
    // inference job: load the model from the store, score the corpus.
    // The per-doc bucket counts are exactly the training features minus
    // the label column (x is y-independent), so the pinned feature pass
    // is REUSED instead of re-tokenizing the corpus (r15).
    val loaded = reg.entries().filter($"pk" === "quality_v1")
      .select($"sk".cast("long").as("b"),
        decode($"value", "UTF-8").cast("long").as("w"))
    val feats = feats0.select($"doc_id", $"b", $"x")
    feats.join(broadcast(loaded), Seq("b"), "left")
      .groupBy($"doc_id")
      .agg(sum($"x" * coalesce($"w", lit(0L))).as("margin"))
      .join(Tables.documents(s, dir).select($"doc_id", $"lang"), Seq("doc_id"))
      .select(when($"margin" > 0, lit("en")).otherwise(lit("other")).as("pred"),
        $"lang", $"margin")
      .groupBy($"pred", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"margin").as("sum_margin"))
      .orderBy($"pred", $"lang")
  }

  private val modelRegistrySql =
    """WITH tok AS (
      |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
      |  FROM documents),
      |bk AS (SELECT doc_id, y,
      |  ((strpos('0123456789abcdef', substring(md5(t),1,1))-1)*4096 +
      |   (strpos('0123456789abcdef', substring(md5(t),2,1))-1)*256 +
      |   (strpos('0123456789abcdef', substring(md5(t),3,1))-1)*16 +
      |   (strpos('0123456789abcdef', substring(md5(t),4,1))-1)) % 256 AS b
      |  FROM tok),
      |feats AS (SELECT doc_id, y, b, CAST(COUNT(*) AS BIGINT) AS x
      |  FROM bk GROUP BY 1, 2, 3),
      |w1 AS (SELECT b, CAST(SUM(y*x) AS BIGINT) AS w FROM feats GROUP BY b),
      |m2 AS (SELECT f.doc_id, f.y, SUM(f.x * w1.w) AS m
      |  FROM feats f JOIN w1 ON f.b = w1.b GROUP BY 1, 2),
      |upd AS (SELECT doc_id FROM m2 WHERE y * m <= 0),
      |delta AS (SELECT f.b, CAST(SUM(f.y * f.x) AS BIGINT) AS d
      |  FROM feats f JOIN upd u ON f.doc_id = u.doc_id GROUP BY f.b),
      |wfin AS (SELECT w1.b AS b, CAST(w1.w + COALESCE(delta.d, 0) AS BIGINT) AS w
      |  FROM w1 LEFT JOIN delta ON w1.b = delta.b
      |  WHERE w1.w + COALESCE(delta.d, 0) != 0),
      |inf AS (SELECT f.doc_id, CAST(SUM(f.x * COALESCE(wfin.w, 0)) AS BIGINT) AS margin
      |  FROM feats f LEFT JOIN wfin ON f.b = wfin.b GROUP BY 1)
      |SELECT CASE WHEN margin > 0 THEN 'en' ELSE 'other' END AS pred, d.lang AS lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(margin) AS BIGINT) AS sum_margin
      |FROM inf JOIN documents d ON inf.doc_id = d.doc_id
      |GROUP BY 1, 2 ORDER BY pred, lang""".stripMargin

  /** N-pass perceptron ORACLE row (`txt_perceptron_n`): the production
    * loop [[trainPerceptronLoop]] at maxPasses = 3 over the same hashed
    * features as `txt_train_perceptron`. The oracle replays a FIXED
    * 3-pass chained-CTE — which equals the convergence-stop loop
    * unconditionally, because a pass with zero misclassified docs
    * contributes an empty delta (w_{r+1} = w_r): stopping early and
    * applying zero deltas are the same function. So the hash gate
    * covers the loop's real update rule at every pass, not just the
    * bounded 2-pass form.
    */
  private val PerceptronPasses = 3

  private def trainPerceptronN(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feats = Tables.documents(s, dir)
      .select($"doc_id",
        when($"lang" === "en", 1L).otherwise(-1L).as("y"),
        explode(split(lower(trim($"text")), "\\s+")).as("t"))
      .select($"doc_id", $"y",
        (conv(substring(md5($"t"), 1, 4), 16, 10).cast("long") % 256L).as("b"))
      .groupBy($"doc_id", $"y", $"b")
      .agg(count(lit(1)).as("x"))
    val (w, _, _) = trainPerceptronLoop(feats, maxPasses = PerceptronPasses)
    w.select($"b".as("bucket"), $"w").orderBy($"bucket")
  }

  private val trainPerceptronNSql = {
    val rounds = (2 to PerceptronPasses).map { r =>
      val prev = s"w${r - 1}"
      s""",
         |m$r AS (SELECT f.doc_id, f.y, SUM(f.x * $prev.w) AS m
         |  FROM feats f JOIN $prev ON f.b = $prev.b GROUP BY 1, 2),
         |upd$r AS (SELECT doc_id FROM m$r WHERE y * m <= 0),
         |delta$r AS (SELECT f.b, CAST(SUM(f.y * f.x) AS BIGINT) AS d
         |  FROM feats f JOIN upd$r u ON f.doc_id = u.doc_id GROUP BY f.b),
         |w$r AS (SELECT $prev.b, CAST($prev.w + COALESCE(delta$r.d, 0) AS BIGINT) AS w
         |  FROM $prev LEFT JOIN delta$r ON $prev.b = delta$r.b)""".stripMargin
    }.mkString
    s"""WITH tok AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
       |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
       |  FROM documents),
       |bk AS (SELECT doc_id, y,
       |  ((strpos('0123456789abcdef', substring(md5(t),1,1))-1)*4096 +
       |   (strpos('0123456789abcdef', substring(md5(t),2,1))-1)*256 +
       |   (strpos('0123456789abcdef', substring(md5(t),3,1))-1)*16 +
       |   (strpos('0123456789abcdef', substring(md5(t),4,1))-1)) % 256 AS b
       |  FROM tok),
       |feats AS (SELECT doc_id, y, b, CAST(COUNT(*) AS BIGINT) AS x
       |  FROM bk GROUP BY 1, 2, 3),
       |w1 AS (SELECT b, CAST(SUM(y*x) AS BIGINT) AS w FROM feats GROUP BY b)$rounds
       |SELECT b AS bucket, w FROM w$PerceptronPasses WHERE w != 0
       |ORDER BY bucket""".stripMargin
  }

  /** The fixed "pretrained" merge table applied by `txt_bpe_encode`, in
    * priority order (the `txt_bpe_pairs` LEARNING step produces such a
    * table; applying a pretrained tokenizer to a new corpus is the
    * canonical training-data op).
    */
  private val bpeMerges: Seq[(String, String)] = Seq(
    "t h" -> "th", "th e" -> "the", "i n" -> "in", "a n" -> "an",
    "an d" -> "and", "e r" -> "er", "o n" -> "on", "r e" -> "re")

  /** BPE tokenizer APPLY at scale: words char-split into space-joined
    * symbols, then the merge table applied in priority order — each
    * merge is one literal replace-all over the symbol string, so the
    * whole encoder is a chain of codegen'd string expressions (no UDF,
    * no driver state; the merge table would broadcast if learned).
    * Replace-all on the space-padded symbol string is symbol-aligned by
    * construction (symbols are space-separated; patterns carry their
    * boundary spaces) and left-to-right non-overlapping in both
    * engines, so the oracle replays the exact chain — every emitted
    * subword token count is hash-gated. Complements `txt_bpe_pairs`
    * (the pair-counting LEARNING step) with the APPLY step.
    */
  private def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, dir)
      .select(explode(split(lower(trim($"text")), "\\s+")).as("w"))
      .filter($"w".rlike("^[a-z]+$"))
    val symbols = concat(lit(" "),
      trim(regexp_replace($"w", "(.)", "$1 ")), lit(" "))
    val encoded = bpeMerges.foldLeft(symbols) { case (c, (from, to)) =>
      org.apache.spark.sql.functions.replace(c, lit(s" $from "), lit(s" $to "))
    }
    words.select(explode(split(trim(encoded), " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"tok").limit(20)
  }

  private val bpeEncodeSql = {
    val chain = bpeMerges.foldLeft("concat(' ', trim(regexp_replace(w, '(.)', '\\1 ', 'g')), ' ')") {
      case (c, (from, to)) => s"replace($c, ' $from ', ' $to ')"
    }
    s"""WITH w AS (
       |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |  FROM documents),
       |f AS (SELECT w FROM w WHERE regexp_full_match(w, '[a-z]+')),
       |e AS (SELECT unnest(string_split(trim($chain), ' ')) AS tok FROM f)
       |SELECT tok, COUNT(*) AS n FROM e GROUP BY tok
       |ORDER BY n DESC, tok LIMIT 20""".stripMargin
  }

  /** Learned BPE END TO END — closes the `txt_bpe_encode` seam (that
    * query applies a FIXED merge table; this one LEARNS the table first
    * with the real iterative BPE training loop, then applies it):
    *
    *   round i: count adjacent SYMBOL pairs over the current encoding of
    *   the train slice → argmax (count desc, pair asc) → merge that pair
    *   corpus-wide in the slice; repeat K times. Then encode the FULL
    *   corpus with the K learned merges and emit the top subword tokens.
    *
    * Training runs on a bounded, sf-invariant slice (`doc_id < 50` —
    * present at every scale factor, the sample-based regime real
    * tokenizer training uses); each round is ONE distributed aggregate
    * whose single argmax row is the only driver-side state (the merge
    * string itself). The apply stage is the same codegen'd replace chain
    * as `txt_bpe_encode` — the learned merges become plan literals, the
    * broadcast-table shape at scale. The oracle replays BOTH stages: the
    * learning rounds as chained CTEs whose argmax feeds the next round
    * via scalar subqueries, and the apply chain referencing those same
    * subqueries — a single mis-learned merge in either engine breaks the
    * hash.
    */
  private val BpeLearnRounds = 4
  private val bpeTrainWhere = "doc_id < 50"

  /** Adjacent-symbol pairs of a space-joined symbol string column. */
  private def symbolPairs(enc: Column): Column = {
    val syms = split(trim(enc), " ")
    when(size(syms) >= 2,
      transform(sequence(lit(0), size(syms) - 2),
        i => concat_ws(" ", element_at(syms, i + 1), element_at(syms, i + 2))))
      .otherwise(array().cast("array<string>"))
  }

  private def bpeLearned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def words(where: Column): DataFrame = Tables.documents(s, dir)
      .filter(where)
      .select(explode(split(lower(trim($"text")), "\\s+")).as("w"))
      .filter($"w".rlike("^[a-z]+$"))
    val charSplit = concat(lit(" "),
      trim(regexp_replace($"w", "(.)", "$1 ")), lit(" "))
    val train = words($"doc_id" < 50)
    var merges = Vector.empty[String]
    def encoded: Column = merges.foldLeft(charSplit) { (c, pair) =>
      org.apache.spark.sql.functions.replace(
        c, lit(s" $pair "), lit(s" ${pair.replace(" ", "")} "))
    }
    for (_ <- 1 to BpeLearnRounds) {
      // one distributed agg per round; the 1-row argmax IS the state
      val top = train.select(explode(symbolPairs(encoded)).as("pair"))
        .groupBy($"pair").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"pair").limit(1)
        .collect()
      merges = merges ++ top.map(_.getString(0))
    }
    words(lit(true))
      .select(explode(split(trim(encoded), " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"tok").limit(20)
  }

  private val bpeLearnedSql = {
    val base = "concat(' ', trim(regexp_replace(w, '(.)', '\\1 ', 'g')), ' ')"
    // wtrain_i = train slice encoded with merges 1..i; p_i = round-i argmax
    def mergeStep(prev: String, round: Int): String =
      s"replace($prev, concat(' ', (SELECT pair FROM p$round), ' '), " +
        s"concat(' ', replace((SELECT pair FROM p$round), ' ', ''), ' '))"
    val learnCtes = new StringBuilder(
      s"""wt0 AS (
         |  SELECT $base AS s
         |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
         |        FROM documents WHERE $bpeTrainWhere) t
         |  WHERE regexp_full_match(w, '[a-z]+'))""".stripMargin)
    for (r <- 1 to BpeLearnRounds) {
      learnCtes.append(s""",
         |p$r AS (
         |  SELECT pair FROM (
         |    SELECT unnest(list_transform(range(1, len(sy)),
         |      i -> sy[i] || ' ' || sy[i+1])) AS pair
         |    FROM (SELECT string_split(trim(${if (r == 1) "s" else "s" + (r - 1)}), ' ') AS sy
         |          FROM wt${r - 1})) q
         |  GROUP BY pair ORDER BY COUNT(*) DESC, pair LIMIT 1),
         |wt$r AS (SELECT ${mergeStep(if (r == 1) "s" else "s" + (r - 1), r)} AS s$r
         |  FROM wt${r - 1})""".stripMargin)
    }
    val applyChain = (1 to BpeLearnRounds).foldLeft(base)(mergeStep)
    s"""WITH $learnCtes,
       |corpus AS (
       |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |  FROM documents),
       |enc AS (
       |  SELECT unnest(string_split(trim($applyChain), ' ')) AS tok
       |  FROM corpus WHERE regexp_full_match(w, '[a-z]+'))
       |SELECT tok, COUNT(*) AS n FROM enc GROUP BY tok
       |ORDER BY n DESC, tok LIMIT 20""".stripMargin
  }

  // ------------------------------------------------------------- BM25 top-k

  /** Fixed query for the BM25 row — terms present in the synthetic corpus
    * vocabulary at every sf (ScaleGen permutes words, never invents them).
    */
  private val Bm25Terms = Seq("spark", "stream", "hash", "window")

  /** BM25 top-k retrieval scoring — the lexical ranking primitive a
    * training pipeline uses for retrieval-based decontamination and
    * hard-negative mining. Standard Okapi BM25 with k1 = 1.2, b = 0.75,
    * computed in EXACT integer arithmetic so the oracle replays it
    * bit-for-bit: with k1 = 6/5 and b = 3/4, per-term
    *   tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *     = 22·tf·T / (10·tf·T + 3·T + 9·dl·N)     (avgdl = T/N exact)
    * which is quantized by a single BIGINT `DIV` after a 10⁴ fixed-point
    * scale; idf = ln((N−df+½)/(df+½)+1) = ln((2N+2)/(2df+1)) follows the
    * repo's quantized-ln pattern (floor(ln·10⁴), identical double inputs
    * on both engines). Scale shape: df/tf aggregate only rows matching
    * the (tiny, constant) query term set, dl is a projection, N and T are
    * two broadcast scalars, and the final top-k is a TakeOrdered — no
    * corpus-wide shuffle anywhere.
    */
  /** Per-doc BM25 aggregate `(doc_id, n_terms, score_fp)` over the fixed
    * query — shared by `txt_bm25_topk` and the hybrid-RRF fusion row.
    */
  private[queries] def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val dl = docs.select($"doc_id", size(split(lower(trim($"text")), "\\s+")).cast("long").as("dl"))
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("t_toks"))
    val qtf = docs
      .select($"doc_id", explode(split(lower(trim($"text")), "\\s+")).as("tok"))
      .filter($"tok".isin(Bm25Terms: _*))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val dfreq = qtf.groupBy($"tok").agg(count(lit(1)).as("df"))
    qtf.join(broadcast(dfreq), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("idf_q",
        floor(log(($"n_docs" * 2 + lit(2L)).cast("double") / ($"df" * 2 + lit(1L)).cast("double"))
          * lit(10000.0)).cast("long"))
      .withColumn("term_fp",
        $"idf_q" * expr("(22L * tf * t_toks * 10000L) DIV (10L * tf * t_toks + 3L * t_toks + 9L * dl * n_docs)"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"), sum($"term_fp").as("score_fp"))
  }

  private def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bm25Scored(s, dir)
      .orderBy($"score_fp".desc, $"doc_id")
      .limit(20)
      .select($"doc_id", $"n_terms", $"score_fp")
  }

  /** The BM25 CTE chain through the per-doc aggregate `bm(doc_id,
    * n_terms, score_fp)` — shared by the top-k row's oracle and the
    * hybrid-RRF oracle.
    */
  private[queries] val bm25ScoredCtes = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""dl AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS dl
       |  FROM documents),
       |totals AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS t_toks
       |  FROM dl),
       |qtf AS (
       |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |    FROM documents) u
       |  WHERE tok IN ($terms)
       |  GROUP BY doc_id, tok),
       |dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM qtf GROUP BY tok),
       |scored AS (
       |  SELECT qtf.doc_id AS doc_id,
       |    CAST(floor(ln(CAST(n_docs * 2 + 2 AS DOUBLE) / CAST(df * 2 + 1 AS DOUBLE))
       |      * 10000.0) AS BIGINT)
       |      * ((22 * tf * t_toks * 10000)
       |         // (10 * tf * t_toks + 3 * t_toks + 9 * dl.dl * n_docs)) AS term_fp
       |  FROM qtf
       |  JOIN dfreq USING (tok)
       |  JOIN dl ON qtf.doc_id = dl.doc_id
       |  CROSS JOIN totals),
       |bm AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
       |    CAST(SUM(term_fp) AS BIGINT) AS score_fp
       |  FROM scored GROUP BY doc_id)""".stripMargin
  }

  private val bm25TopKSql =
    s"""WITH $bm25ScoredCtes
       |SELECT doc_id, n_terms, score_fp
       |FROM bm ORDER BY score_fp DESC, doc_id LIMIT 20""".stripMargin

  /** Lexical SEARCH SERVING through the storage plane — the text-side
    * sibling of `sim_index_lookup`: an indexing job persists the full
    * inverted index into a KeyValueTable (pk = term, sk = doc id,
    * value = "tf:dl", plus one corpus-totals meta row under a pk no
    * token can collide with — tokens come from a \\s+ split, so they
    * cannot contain a tab), then a separate serving pass answers the
    * query by reading ONLY the query terms' buckets (literal pk
    * pushdown → pruned files) and replaying the exact integer BM25
    * arithmetic on what it read: df per term is the bucket's own row
    * count, tf/dl ride in the posting, N/T in the meta row — the
    * corpus is never rescanned at serve time. The oracle is the BATCH
    * path's SQL: the served top-k must reproduce `txt_bm25_topk` bit
    * for bit through the build → store → read → score round trip.
    * Scale: serve-side cost is Σ df over the query terms (inherent to
    * any inverted index — idf is what makes the big stop-word buckets
    * score low, not cheap to read).
    */
  private val MetaPk = "\tmeta"

  /** Indexing job half of `txt_search_lookup`: full inverted index +
    * one corpus-totals meta row, persisted to a fresh KeyValueTable.
    * Exposed so specs can exercise storage lifecycle (compaction)
    * between build and serve.
    */
  private[queries] def buildSearchIndex(s: SparkSession, dir: String): graft.kv.KeyValueTable = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val work = graft.util.WorkDirs.temp("graft-searchkv")
    // Index bucket count SCALES WITH THE CORPUS: a put of a distributed
    // frame is shuffled into one write task per part index
    // (`repartition(partitionCount, bucket)`), so the fixed 8 buckets
    // that are perfect at 5×10^4 docs serialize ~75M posting rows per
    // task at 1.5×10^7 docs — the r13 sf300 probe measured
    // txt_search_lookup 39× wall at 30× data, all of it in the
    // 8-way postings write. One bucket per ~250k docs (≈10M postings),
    // floor 8 (the oracle-scale fixtures keep their old layout), cap 256
    // (serve-side bucket pruning stays one-bucket-per-term effective at
    // any corpus). docs.count() rides parquet row-group stats — no scan.
    val parts = math.max(8L, math.min(256L, docs.count() / 250000L)).toInt
    val ix = new graft.kv.KeyValueTable(s, work, "postings", partitionCount = parts)
    val dl = docs.select($"doc_id",
      size(split(lower(trim($"text")), "\\s+")).cast("long").as("dl"))
    val tf = docs
      .select($"doc_id", explode(split(lower(trim($"text")), "\\s+")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    ix.put(tf.join(dl, Seq("doc_id"))
      .select($"tok".as("pk"), format_string("%020d", $"doc_id").as("sk"),
        encode(format_string("%d:%d", $"tf", $"dl"), "UTF-8").as("value")))
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("t_toks"))
      .select(format_string("%d:%d", $"n_docs", $"t_toks")).as[String].head()
    ix.put(Seq((MetaPk, "", totals)).toDF("pk", "sk", "v")
      .select($"pk", $"sk", encode($"v", "UTF-8").as("value")))
    ix
  }

  /** Serving half of `txt_search_lookup`: query-term buckets + the meta
    * row, nothing else; exact integer BM25 on what was read.
    */
  private[queries] def serveSearch(s: SparkSession, ix: graft.kv.KeyValueTable): DataFrame = {
    import s.implicits._
    val read = ix.entries().filter($"pk".isin(Bm25Terms :+ MetaPk: _*))
      .select($"pk", $"sk", decode($"value", "UTF-8").as("v"))
    val meta = read.filter($"pk" === MetaPk).select(
      split($"v", ":").getItem(0).cast("long").as("n_docs"),
      split($"v", ":").getItem(1).cast("long").as("t_toks"))
    val posts = read.filter($"pk" =!= MetaPk).select(
      $"pk".as("tok"), $"sk".cast("long").as("doc_id"),
      split($"v", ":").getItem(0).cast("long").as("tf"),
      split($"v", ":").getItem(1).cast("long").as("dl"))
    val dfreq = posts.groupBy($"tok").agg(count(lit(1)).as("df"))
    posts.join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(meta))
      .withColumn("idf_q",
        floor(log(($"n_docs" * 2 + lit(2L)).cast("double") / ($"df" * 2 + lit(1L)).cast("double"))
          * lit(10000.0)).cast("long"))
      .withColumn("term_fp",
        $"idf_q" * expr("(22L * tf * t_toks * 10000L) DIV (10L * tf * t_toks + 3L * t_toks + 9L * dl * n_docs)"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"), sum($"term_fp").as("score_fp"))
      .orderBy($"score_fp".desc, $"doc_id")
      .limit(20)
      .select($"doc_id", $"n_terms", $"score_fp")
  }

  private def searchLookup(s: SparkSession, dir: String): DataFrame =
    serveSearch(s, buildSearchIndex(s, dir))

  val defs: Seq[(String, Qf, Option[String])] = Seq(
    ("txt_search_lookup",  searchLookup _,  Some(bm25TopKSql)),
    ("txt_bm25_topk",      bm25TopK _,      Some(bm25TopKSql)),
    ("txt_bpe_encode",     bpeEncode _,     Some(bpeEncodeSql)),
    ("txt_bpe_learned",    bpeLearned _,    Some(bpeLearnedSql)),
    ("txt_train_perceptron", trainPerceptron _, Some(trainPerceptronSql)),
    ("txt_model_registry", modelRegistry _, Some(modelRegistrySql)),
    ("txt_perceptron_n",   trainPerceptronN _, Some(trainPerceptronNSql)),
    ("txt_hash_classifier", hashClassifier _, Some(hashClassifierSql)),
    ("txt_calibration_curve", calibrationCurve _, Some(calibrationCurveSql)),
    ("txt_html_strip",    htmlStrip _,     Some(htmlStripSql)),
    ("txt_filter_attrition", filterAttrition _, Some(filterAttritionSql)),
    ("txt_pii_redact",    piiRedact _,     Some(piiRedactSql)),
    ("txt_url_extract",   urlExtract _,    Some(urlExtractSql)),
    ("txt_host_pagerank", hostPageRank _,  Some(hostPageRankSql)),
    ("txt_host_triangles", hostTriangles _, Some(hostTrianglesSql)),
    ("txt_token_count",   tokenCount _,    Some(tokenCountSql)),
    ("txt_top_tokens",    topTokens _,     Some(topTokensSql)),
    ("txt_quality_score", qualityScore _,  Some(qualityScoreSql)),
    ("txt_lang_id",       langId _,        Some(langIdSql)),
    ("txt_fingerprint",   fingerprint _,   Some(fingerprintSql)),
    ("txt_rolling_fp",    rollingFp _,     Some(rollingFpSql)),
    ("txt_oov_ratio",     oovRatio _,      Some(oovRatioSql)),
    ("txt_zipf_slope",    zipfSlope _,     Some(zipfSlopeSql)),
    ("txt_winnow_overlap", winnowOverlap _, Some(winnowOverlapSql)),
    ("txt_bpe_pairs",     bpePairs _,      Some(bpePairsSql)),
    ("txt_char_entropy",  charEntropy _,   Some(charEntropySql)),
  )
}
