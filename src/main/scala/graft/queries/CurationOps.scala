package graft.queries

import graft.Tables
import graft.QueryRegistry.Qf
import graft.operators.BloomPrefilter
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the selection/shaping stages between raw
  * documents and training batches: per-domain caps, greedy sequence
  * packing, weighted sampling, TF-IDF salient terms, and Bloom-gated
  * decontamination.
  *
  * Scale notes common to the group: every operator is keyed
  * aggregations + rank-limited windows — no all-pairs joins, no driver
  * loops. The two rank windows (`ds_domain_cap`, `txt_tfidf_top`)
  * filter on `row_number() <= k` directly above the window, which
  * Catalyst rewrites into WindowGroupLimit: each map task keeps only
  * its per-group top-k BEFORE the exchange, so a skewed domain ships
  * k rows per task, not its whole partition.
  */
object CurationOps {

  private def toks(c: Column): Column = split(lower(trim(c)), "\\s+")

  // ----------------------------------------------------------- domain cap

  /** Per-domain document cap: keep the k=10 largest docs per `source` —
    * the CommonCrawl-style guard against one domain dominating the mix.
    * Deterministic order (n_chars desc, doc_id asc).
    */
  private def domainCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"n_chars".desc, $"doc_id")
    Tables.documents(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 10)
      .select($"source", $"rk".cast("long").as("rk"), $"doc_id", $"n_chars")
      .orderBy($"source", $"rk")
  }

  private val domainCapSql =
    """SELECT source, rk, doc_id, n_chars FROM (
      |  SELECT source, doc_id, n_chars,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
      |  FROM documents) t
      |WHERE rk <= 10
      |ORDER BY source, rk""".stripMargin

  // ------------------------------------------------------ sequence packing

  /** Greedy sequential packing (concat-and-chunk): documents in
    * deterministic order are laid end-to-end per shard and cut into
    * 512-token context windows; a doc's bin is where its first token
    * lands. Output: per-(shard, bin) occupancy. This is the standard
    * pre-training batch-shaping pass.
    *
    * Scale: packing is embarrassingly parallel across shards (at 100 TB
    * the shard count is the parallelism knob); within a shard it is one
    * running-sum window — a single hash shuffle plus sort, no state on
    * the driver.
    */
  private def packSequences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select($"doc_id", ($"doc_id" % 8).as("shard"),
        size(split(trim($"text"), "\\s+")).cast("long").as("n_tok"))
      .withColumn("cum", sum($"n_tok").over(w))
      .withColumn("bin", (($"cum" - $"n_tok") / lit(512L)).cast("long"))
      .groupBy($"shard", $"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"shard", $"bin")
  }

  private val packSequencesSql =
    """WITH t AS (
      |  SELECT doc_id, doc_id % 8 AS shard,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT shard, doc_id, n_tok,
      |    CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM t)
      |SELECT shard, CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM c GROUP BY shard, bin ORDER BY shard, bin""".stripMargin

  // ---------------------------------------------------- chunk windowing

  /** Overlapping fixed-size context windows (the RAG/pre-training
    * chunking pass, sibling of `ds_pack_sequences`): each document's
    * whitespace tokens are cut into 50-token windows at stride 40 (10
    * tokens of overlap), one window per stride step whose start lies
    * inside the doc, trailing partial window kept. Output: per chunk,
    * its size, first token and content fingerprint.
    *
    * Scale: tokens materialize ONCE per doc in a projection (the
    * GramStage lesson — never re-split under an exploded column), then
    * one generator explode per doc and zero shuffles before the final
    * order; chunk count ≈ n_tok/stride keeps output linear in corpus
    * tokens.
    */
  private def chunkWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", split(trim($"text"), "\\s+").as("toks"))
      .withColumn("n", size($"toks").cast("long"))
      .filter($"n" > 0)
      .withColumn("chunk_idx", explode(sequence(lit(0L), expr("(n - 1) div 40"))))
      .withColumn("chunk", slice($"toks", ($"chunk_idx" * 40L + 1L).cast("int"), lit(50)))
      .select($"doc_id", $"chunk_idx",
        size($"chunk").cast("long").as("n_tok"),
        element_at($"chunk", 1).as("first_tok"),
        md5(concat_ws(" ", $"chunk")).as("fp"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  private val chunkWindowsSql =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
      |      FROM t WHERE len(toks) > 0),
      |i AS (SELECT doc_id, toks, n, unnest(range((n - 1) // 40 + 1)) AS idx FROM n),
      |c AS (SELECT doc_id, CAST(idx AS BIGINT) AS chunk_idx,
      |        list_slice(toks, idx * 40 + 1, least(idx * 40 + 50, n)) AS chunk
      |      FROM i)
      |SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS n_tok,
      |  chunk[1] AS first_tok, md5(array_to_string(chunk, ' ')) AS fp
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // ------------------------------------------------------ weighted sample

  /** Deterministic weighted Bernoulli sampling: doc kept iff
    * u(doc_id) < weight, with u a content-independent md5 hash mapped to
    * [0,1) (the [[SamplingOps]] family) and weight proportional to
    * document length (capped at 1). No RNG state — reproducible across
    * engines, runs and cluster sizes; one map-side projection plus the
    * per-source demo aggregation.
    */
  private def weightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("u",
        conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
          .cast("long").cast("double") / lit(4294967296.0))
      .withColumn("w", least(lit(1.0), $"n_chars".cast("double") / lit(400.0)))
      .filter($"u" < $"w")
      .groupBy($"source")
      .agg(count(lit(1)).as("kept_n"), sum($"n_chars").as("kept_chars"))
      .orderBy($"source")
  }

  private val weightedSampleSql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS kept_n,
      |  CAST(SUM(n_chars) AS BIGINT) AS kept_chars
      |FROM (
      |  SELECT source, n_chars,
      |    CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) AS DOUBLE) / 4294967296.0 AS u,
      |    least(1.0, CAST(n_chars AS DOUBLE) / 400.0) AS w
      |  FROM documents) t
      |WHERE u < w
      |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------- tf-idf

  /** Per-document top-3 salient terms by TF-IDF. The idf uses the ratio
    * form (N+1)/(df+1) instead of its logarithm: the score is then two
    * exact integer products and ONE double division — bit-identical
    * across engines, where `ln` would not be (libm-dependent). Ranking
    * is unaffected (log is monotone).
    *
    * Scale: two keyed aggregations (gram by (doc,tok), df by tok), one
    * equi-join on tok, and a rank-limited window on doc — WindowGroupLimit
    * keeps the per-doc top-3 map-side. N rides a 1-row broadcast.
    */
  private def tfidfTop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = Tables.documents(s, dir)
      .select($"doc_id", explode(toks($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("cnt"))
      .withColumn("n_toks", sum($"cnt").over(Window.partitionBy($"doc_id")))
    val dfreq = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(n))
      .withColumn("tf_idf",
        ($"cnt" * ($"n_docs" + lit(1L))).cast("double") /
          ($"n_toks" * ($"df" + lit(1L))).cast("double"))
    val w = Window.partitionBy($"doc_id").orderBy($"tf_idf".desc, $"tok")
    scored.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"doc_id", $"rk".cast("long").as("rk"), $"tok", $"cnt", $"df", $"tf_idf")
      .orderBy($"doc_id", $"rk")
  }

  private val tfidfTopSql =
    """WITH tf AS (
      |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |    FROM documents) u
      |  GROUP BY doc_id, tok),
      |tl AS (SELECT doc_id, tok, cnt,
      |         CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_toks
      |       FROM tf),
      |dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, tl.tok AS tok, cnt, df,
      |    CAST(cnt * (n_docs + 1) AS DOUBLE)
      |      / CAST(n_toks * (df + 1) AS DOUBLE) AS tf_idf
      |  FROM tl, dfreq, n WHERE tl.tok = dfreq.tok)
      |SELECT doc_id, rk, tok, cnt, df, tf_idf FROM (
      |  SELECT doc_id, tok, cnt, df, tf_idf,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY tf_idf DESC, tok) AS BIGINT) AS rk
      |  FROM scored) t
      |WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  // -------------------------------------------------- bloom contamination

  /** Bloom-gated decontamination: which eval documents share any word
    * 6-gram with the train split. Three stages — (1) build ONE Bloom
    * sketch over the distinct train grams (distributed aggregation,
    * map-side partial sketches, one ~1 MiB binary collected — the same
    * driver-side value `df.stat.bloomFilter` pulls); (2) probe every
    * eval gram against the sketch as a task-local predicate (no
    * shuffle); (3) exact-verify only the survivors with a semi-join.
    * No false negatives ⇒ the output is EXACT — the sketch only shrinks
    * the verify join's probe side, which is the entire point at 100 TB:
    * the expensive gram-keyed shuffle sees survivors, not the corpus.
    */
  private def bloomContamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // localCheckpoint(eager = false): the distinct train-gram set is
    // consumed TWICE (bloom build collect + verify semi-join);
    // materializing it once beats re-running tokenize→explode→distinct
    // per consumer. Lazy, so plan-only audits that never run an action
    // don't pay the tokenize job; the blocks pin on first action only.
    // At 100 TB the same holds — the checkpoint spills to executor
    // disk and is still one pass over the corpus instead of two.
    // SIZE-ADAPTIVE single gram pass (r15, same 2 GiB policy as the LSH
    // signature cache): on small corpora ONE per-doc-distinct explosion
    // feeds both splits (the train side's GLOBAL distinct is unchanged
    // by the per-doc pre-distinct; the eval side needs it anyway). On
    // large corpora the pin would itself be a corpus-sized
    // materialization — exactly the r14 disk hazard — so each split
    // keeps its own unmaterialized pass, as before.
    // gate on the EXPLODED size (estimate × ~2·gramSize — r16, verdict
    // item 4): what pins is the 6-gram stream, ~12× the raw corpus bytes
    // the old gate measured
    val pinGrams = graft.util.Pin.fits(docs, 12L, "bloomContamination.gramPin")
    val grams =
      if (pinGrams)
        Some(GramStage.explodeGrams(docs, 6, distinctPerDoc = true)
          .localCheckpoint(eager = false))
      else None
    val train = grams.getOrElse(GramStage.explodeGrams(docs, 6))
      .filter($"doc_id" % 10 < 8).select($"g").distinct()
      .localCheckpoint(eager = false)
    val evalGrams = grams
      .getOrElse(GramStage.explodeGrams(docs, 6, distinctPerDoc = true))
      .filter($"doc_id" % 10 >= 8)
    // the sketch is sized from the ACTUAL train cardinality (the count
    // materializes the checkpoint the bloom build reads anyway), capped
    // at 8 MiB — Spark's own runtime-filter ceiling — so it stays
    // shippable as a plan literal: a fixed 1 MiB sketch saturates once
    // the train set outgrows ~2^20 grams (FP → 1, the prefilter passes
    // everything — the round-9 sf10 sweep measured exactly that) while
    // ~10 bits/item keeps FP ~1% up to ~6M grams and degrades
    // gracefully past the cap
    val nTrain = train.count()
    val bloom = BloomPrefilter.build(train, $"g",
      estimatedItems = math.max(1L << 20, nTrain),
      numBits = math.min(1L << 26, math.max(1L << 23, 10L * nTrain)))
    evalGrams.filter(BloomPrefilter.mightContain(bloom, $"g"))
      .join(train, Seq("g"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy($"doc_id")
  }

  private val bloomContaminationSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 6
      |      THEN list_transform(range(1, len(toks) - 4),
      |                          i -> array_to_string(toks[i:i+5], ' '))
      |      ELSE [] END AS gs
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      |        FROM documents)),
      |train AS (SELECT DISTINCT unnest(gs) AS g FROM t WHERE doc_id % 10 < 8),
      |ev AS (SELECT doc_id, unnest(list_distinct(gs)) AS g FROM t
      |       WHERE doc_id % 10 >= 8)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |FROM ev JOIN train USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-source token budget: documents, tokens, corpus share, and the
    * cumulative share in descending-token order — the mixing-weight
    * table a data-budget pass produces before sampling. One keyed
    * aggregation; the running share is a window over the SOURCE list
    * (20 rows), not the corpus, and the corpus total rides a 1-row
    * broadcast.
    */
  private def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = Tables.documents(s, dir)
      .select($"source", size(split(trim($"text"), "\\s+")).cast("long").as("n_tok"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
    val tot = per.agg(sum($"n_tokens").as("total"))
    val w = Window.orderBy($"n_tokens".desc, $"source")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per.crossJoin(broadcast(tot))
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .select($"source", $"n_docs", $"n_tokens",
        ($"n_tokens".cast("double") / $"total".cast("double")).as("share"),
        ($"cum_tokens".cast("double") / $"total".cast("double")).as("cum_share"))
      .orderBy($"n_tokens".desc, $"source")
  }

  private val tokenBudgetSql =
    """WITH per AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM per)
      |SELECT source, n_docs, n_tokens,
      |  CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS share,
      |  CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, source
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
      |FROM per, tot
      |ORDER BY n_tokens DESC, source""".stripMargin

  /** Source-vs-corpus distribution drift: KL(source ‖ corpus) over the
    * corpus top-200 token vocabulary — the domain-shift readout behind
    * mixing-weight and dedup decisions. Terms quantize to
    * ca·floor(ln(ca·Tq/(cq·Ta))·10⁴) BIGINT (the ln argument is one
    * double built from four exact integers, so both engines evaluate
    * the identical value) and the per-source sum is associative;
    * absent tokens contribute 0 (the 0·ln 0 limit). Vocab and corpus
    * totals broadcast; everything else is keyed aggregation.
    */
  private def sourceKl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tokRows = Tables.documents(s, dir)
      .select($"source", explode(toks($"text")).as("tok"))
    val corpus = tokRows.groupBy($"tok").agg(count(lit(1)).as("cq"))
    val vocab = corpus.orderBy($"cq".desc, $"tok").limit(200)
    val tq = vocab.agg(sum($"cq").as("tq"))
    val src = tokRows.join(broadcast(vocab.select($"tok")), Seq("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("ca"))
    val ta = src.groupBy($"source").agg(sum($"ca").as("ta"))
    src.join(broadcast(vocab), Seq("tok"))
      .join(broadcast(ta), Seq("source"))
      .crossJoin(broadcast(tq))
      .withColumn("term", $"ca" *
        floor(log(($"ca" * $"tq").cast("double") / ($"cq" * $"ta").cast("double"))
          * lit(10000.0)).cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_vocab_toks"), first($"ta").as("ta"),
        sum($"term").as("kl_fp"))
      .select($"source", $"n_vocab_toks",
        ($"kl_fp".cast("double") / ($"ta".cast("double") * lit(10000.0))).as("kl_nats"))
      .orderBy($"source")
  }

  private val sourceKlSql =
    """WITH t AS (
      |  SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |corpus AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cq FROM t GROUP BY tok),
      |vocab AS (SELECT tok, cq FROM corpus ORDER BY cq DESC, tok LIMIT 200),
      |tq AS (SELECT CAST(SUM(cq) AS BIGINT) AS tq FROM vocab),
      |src AS (
      |  SELECT source, t.tok AS tok, CAST(COUNT(*) AS BIGINT) AS ca
      |  FROM t JOIN vocab v ON t.tok = v.tok GROUP BY 1, 2),
      |ta AS (SELECT source, CAST(SUM(ca) AS BIGINT) AS ta FROM src GROUP BY 1)
      |SELECT src.source AS source, CAST(COUNT(*) AS BIGINT) AS n_vocab_toks,
      |  CAST(SUM(ca * CAST(floor(ln(CAST(ca * tq AS DOUBLE) / CAST(cq * ta AS DOUBLE))
      |    * 10000.0) AS BIGINT)) AS DOUBLE)
      |    / (CAST(MAX(ta) AS BIGINT) * 10000.0) AS kl_nats
      |FROM src JOIN vocab v ON src.tok = v.tok
      |  JOIN ta ON src.source = ta.source
      |  CROSS JOIN tq
      |GROUP BY 1 ORDER BY source""".stripMargin

  /** End-to-end curation pipeline as ONE declarative plan: exact dedup
    * (keep the smallest doc_id per content fingerprint) → token-count
    * quality band → deterministic hash split → per-split yield report.
    * The composition query: every stage is an operator from this
    * inventory, chained without materialization, so Catalyst optimizes
    * across stage boundaries (the dedup shuffle is the only wide
    * exchange; filter and split are map-side).
    */
  private def pipelineSurvivors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .select($"doc_id", $"source",
        md5(lower(trim($"text"))).as("fp"),
        size(split(trim($"text"), "\\s+")).cast("long").as("n_tok"))
    val keep = d.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
    d.join(keep, Seq("fp", "doc_id"), "left_semi")
      .filter($"n_tok".between(30L, 100L))
      .withColumn("bucket",
        conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10).cast("long") % 100)
      .withColumn("split",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val").otherwise("test"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
        countDistinct($"source").as("n_sources"))
      .orderBy($"split")
  }

  private val pipelineSurvivorsSql =
    """WITH d AS (
      |  SELECT doc_id, source, md5(lower(trim(text))) AS fp,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |keep AS (SELECT fp, MIN(doc_id) AS doc_id FROM d GROUP BY fp),
      |surv AS (
      |  SELECT d.doc_id, d.source, d.n_tok FROM d
      |  JOIN keep ON d.fp = keep.fp AND d.doc_id = keep.doc_id
      |  WHERE d.n_tok BETWEEN 30 AND 100)
      |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
      |            ELSE 'test' END AS split,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      |FROM (
      |  SELECT source, n_tok,
      |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
      |  FROM surv) t
      |GROUP BY 1 ORDER BY split""".stripMargin

  // ---------------------------------------------------------- dataset card

  /** Per-source "dataset card" rollup — the summary table every corpus
    * release ships (docs, token/char volume, language mix, dominant
    * language, exact-duplicate count). All-integer output so the hash
    * compare is division-free.
    *
    * Scale: one keyed aggregation per level — a (source) rollup and a
    * (source, lang) count whose argmax is a rank-1 window (rewritten to
    * WindowGroupLimit: map tasks ship one row per (source, lang), the
    * exchange carries per-group winners only) — then a join of two
    * source-keyed frames, both at most |sources| rows, so AQE broadcasts
    * it. The distinct-fingerprint count is Spark's standard two-phase
    * partial distinct on the md5, never a driver-side set.
    */
  private def datasetCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir).select($"source", $"lang", $"n_chars",
      size(split(trim($"text"), "\\s+")).cast("long").as("n_tok"),
      md5(lower(trim($"text"))).as("fp"))
    val roll = d.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      sum($"n_tok").as("n_tokens"),
      sum($"n_chars").as("n_chars"),
      countDistinct($"lang").as("n_langs"),
      (count(lit(1)) - countDistinct($"fp")).as("n_exact_dups"))
    val wTop = Window.partitionBy($"source").orderBy($"cnt".desc, $"lang")
    val top = d.groupBy($"source", $"lang").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(wTop)).filter($"rk" === 1)
      .select($"source", $"lang".as("top_lang"), $"cnt".as("top_lang_docs"))
    roll.join(top, Seq("source")).orderBy($"source")
  }

  private val datasetCardSql =
    """WITH d AS (
      |  SELECT source, lang, n_chars,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
      |    md5(lower(trim(text))) AS fp
      |  FROM documents),
      |roll AS (
      |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |    CAST(SUM(n_chars) AS BIGINT) AS n_chars, COUNT(DISTINCT lang) AS n_langs,
      |    COUNT(*) - COUNT(DISTINCT fp) AS n_exact_dups
      |  FROM d GROUP BY source),
      |top AS (
      |  SELECT source, lang AS top_lang, cnt AS top_lang_docs FROM (
      |    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt,
      |      row_number() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, lang) AS rk
      |    FROM d GROUP BY source, lang) t
      |  WHERE rk = 1)
      |SELECT roll.source, n_docs, n_tokens, n_chars, n_langs, n_exact_dups,
      |  top_lang, top_lang_docs
      |FROM roll JOIN top ON roll.source = top.source
      |ORDER BY roll.source""".stripMargin

  /** Temperature-scaled domain mixing (the multilingual / DoReMi-style
    * α-sampling pass): per-source weights ∝ mass^α for α = ½ against the
    * proportional α = 1 baseline, plus the per-source epoch count a
    * 1M-token budget implies — upsampling small domains means re-reading
    * them. Everything stays in exact integers: isqrt(mass) is a
    * floor-sqrt with a ±1 Newton correction (so no engine's sqrt
    * rounding can leak in), weights are parts-per-million via integer
    * division, and epochs_ppm = w_ppm·10^6 // mass.
    *
    * Scale: one map-combined rollup to #sources rows, then a 1-row
    * scalar broadcast for the two denominators — no window over the
    * unpartitioned table, no shuffle after the rollup.
    */
  private def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val isqrtCol = {
      val x0 = "CAST(floor(sqrt(CAST(c_chars AS DOUBLE))) AS BIGINT)"
      expr(s"""CASE WHEN ($x0 + 1) * ($x0 + 1) <= c_chars THEN $x0 + 1
               WHEN $x0 * $x0 > c_chars THEN $x0 - 1 ELSE $x0 END""")
    }
    val per = Tables.documents(s, dir)
      .groupBy($"source").agg(sum($"n_chars").as("c_chars"))
      .withColumn("isq", isqrtCol)
    val tot = per.agg(sum($"c_chars").as("tot_chars"), sum($"isq").as("tot_isq"))
    per.crossJoin(broadcast(tot))
      .select($"source", $"c_chars",
        expr("(c_chars * 1000000) DIV tot_chars").as("w_flat_ppm"),
        expr("(isq * 1000000) DIV tot_isq").as("w_half_ppm"),
        expr("(((isq * 1000000) DIV tot_isq) * 1000000) DIV c_chars").as("epochs_ppm"))
      .orderBy($"source")
  }

  private val mixTemperatureSql =
    """WITH per AS (
      |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS c_chars
      |  FROM documents GROUP BY source),
      |iq AS (
      |  SELECT source, c_chars,
      |    CASE WHEN (x0 + 1) * (x0 + 1) <= c_chars THEN x0 + 1
      |         WHEN x0 * x0 > c_chars THEN x0 - 1 ELSE x0 END AS isq
      |  FROM (SELECT source, c_chars,
      |          CAST(floor(sqrt(CAST(c_chars AS DOUBLE))) AS BIGINT) AS x0
      |        FROM per) t),
      |tot AS (
      |  SELECT CAST(SUM(c_chars) AS BIGINT) AS tot_chars,
      |    CAST(SUM(isq) AS BIGINT) AS tot_isq FROM iq)
      |SELECT source, c_chars,
      |  (c_chars * 1000000) // tot_chars AS w_flat_ppm,
      |  (isq * 1000000) // tot_isq AS w_half_ppm,
      |  (((isq * 1000000) // tot_isq) * 1000000) // c_chars AS epochs_ppm
      |FROM iq, tot ORDER BY source""".stripMargin

  /** Cross-source contamination matrix: for every pair of sources, how
    * many distinct 5-token shingles they share, plus the shingle-set
    * Jaccard in exact ppm — the corpus-level leakage diagnostic run
    * before mixing (is src A secretly a crawl of src B?). Doc-level
    * twins are dedup_*'s job; this is the source-pair rollup.
    *
    * Scale: sources map to BITS of one long, so the whole reduction is
    * codegen'd fixed-width hash aggregation — no per-group object
    * buffers anywhere:
    *
    *   (source-bit, shingle) → groupBy(shingle) BIT_OR → a LongType
    *   membership mask per distinct shingle (map-side partial OR) →
    *   groupBy(mask) COUNT → at most 2^S but in practice a few dozen
    *   rows → per-mask pair/singleton explode over literal arrays.
    *
    * ONE wide shuffle of fixed 16-byte rows over the corpus; everything
    * after the mask count is constant-size. The round-9 sf10 sweep paid
    * for this design twice over: the original distinct + self-join
    * computed the shingle pipeline once per join side and sort-merged
    * the full relation (452 s at 100×), and the first rewrite's
    * `collect_set(source)` put 60 M groups through ObjectHashAggregate's
    * per-group object buffers (thread dumps showed every executor in
    * createNewAggregationBuffer) — a bit-or over longs does the same
    * job inside whole-stage codegen.
    */
  private def crossSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // the corpus-level source list is tiny by definition (it is the
    // UNIT of this analysis); one small distinct+collect pins the
    // source→bit map as plan literals
    val sources = docs.select($"source").distinct()
      .orderBy($"source").as[String].collect()
    require(sources.length <= 63,
      s"cross-source overlap bitmask supports <= 63 sources, got ${sources.length}")
    val srcBit = typedLit(sources.zipWithIndex.map { case (n, i) => n -> (1L << i) }.toMap)
    // shingles are COMPRESSED to 60-bit md5 prefixes: the one wide
    // shuffle carries (8-byte shingle, 8-byte mask) rows. The oracle
    // replays the same fold, so the (astronomically rare) collision is
    // computed identically on both engines.
    val maskCounts = docs
      .select($"source", toks($"text").as("w"))
      .filter(size($"w") >= 5)
      .select($"source", explode(expr(
        "transform(sequence(1, size(w) - 4), i -> array_join(slice(w, i, 5), ' '))")).as("shs"))
      .select(element_at(srcBit, $"source").as("bit"),
        conv(substring(md5($"shs"), 1, 15), 16, 10).cast("long").as("sh"))
      .groupBy($"sh").agg(expr("bit_or(bit)").as("m"))
      .groupBy($"m").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // few dozen rows; consumed twice below
    val pairLit = array((for {
      i <- sources.indices; j <- i + 1 until sources.length
    } yield struct(lit(sources(i)).as("src_a"), lit(sources(j)).as("src_b"),
        lit((1L << i) | (1L << j)).as("bits"))): _*)
    val singleLit = array(sources.zipWithIndex.map { case (n, i) =>
      struct(lit(n).as("source"), lit(1L << i).as("bit"))
    }: _*)
    val dsz = maskCounts
      .select(explode(filter(singleLit,
        p => p.getField("bit").bitwiseAND($"m") === p.getField("bit"))).as("p"), $"cnt")
      .groupBy($"p.source".as("source")).agg(sum($"cnt").as("ds"))
    maskCounts
      .select(explode(filter(pairLit,
        p => p.getField("bits").bitwiseAND($"m") === p.getField("bits"))).as("p"), $"cnt")
      .groupBy($"p.src_a".as("src_a"), $"p.src_b".as("src_b"))
      .agg(sum($"cnt").as("shared"))
      .join(broadcast(dsz.select($"source".as("src_a"), $"ds".as("da"))), Seq("src_a"))
      .join(broadcast(dsz.select($"source".as("src_b"), $"ds".as("db"))), Seq("src_b"))
      .select($"src_a", $"src_b", $"shared",
        expr("(shared * 1000000) DIV (da + db - shared)").as("jaccard_ppm"))
      .orderBy($"src_a", $"src_b")
  }

  private val crossSourceOverlapSql =
    """WITH w AS (
      |  SELECT source, string_split_regex(lower(trim(text)), '\s+') AS w
      |  FROM documents),
      |shs AS (
      |  SELECT source,
      |    unnest(list_transform(range(1, len(w) - 3),
      |      i -> array_to_string(w[i : i + 4], ' '))) AS shs
      |  FROM w WHERE len(w) >= 5),
      |sh AS (
      |  SELECT DISTINCT source,
      |    CAST(concat('0x', substring(md5(shs), 1, 15)) AS BIGINT) AS sh
      |  FROM shs),
      |d AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ds FROM sh GROUP BY source),
      |p AS (
      |  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS shared
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, shared,
      |  (shared * 1000000) // (da.ds + db.ds - shared) AS jaccard_ppm
      |FROM p JOIN d da ON p.src_a = da.source JOIN d db ON p.src_b = db.source
      |ORDER BY src_a, src_b""".stripMargin

  /** Z-ORDER layout audit over the events table: the Morton value of two
    * fixed-domain 8-bit dimensions — time-of-day (minutes DIV 6 ∈ [0,240))
    * and price (cents DIV 256, clamped) — bucketed by the curve's top 4
    * bits into 16 slices, with each slice's min/max of BOTH source
    * dimensions. The row hash-pins the interleave arithmetic
    * ([[graft.operators.ZOrderLayout.zExprText]] replayed by DuckDB with
    * `//`) and the property that sells the layout: every curve slice is a
    * bounded rectangle in (x, y) — exactly the file-footer min/max stats
    * a z-clustered write hands the scan planner for two-sided pruning
    * (ZOrderSpec measures the actual file-skip rate on a clustered
    * write; this row pins the curve itself cross-engine).
    */
  private def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val xE = "(hour(ts) * 60 + minute(ts)) DIV 6"
    val yE = "least(CAST(floor(value * 100 + 0.5) AS BIGINT) DIV 256, 255)"
    val z = graft.operators.ZOrderLayout.zExprText(xE, yE, 8, "DIV")
    Tables.events(s, dir)
      .select(expr(xE).cast("long").as("x"), expr(yE).cast("long").as("y"),
        expr(z).cast("long").as("z"))
      .groupBy(expr("z DIV 4096").as("zbin"))
      .agg(count(lit(1)).as("n"),
        min($"x").as("min_x"), max($"x").as("max_x"),
        min($"y").as("min_y"), max($"y").as("max_y"))
      .orderBy($"zbin")
  }

  private val zorderLayoutSql = {
    val xE = "(date_part('hour', ts) * 60 + date_part('minute', ts)) // 6"
    val yE = "least(CAST(floor(value * 100 + 0.5) AS BIGINT) // 256, 255)"
    val z = graft.operators.ZOrderLayout.zExprText(xE, yE, 8, "//")
    s"""WITH p AS (
       |  SELECT CAST($xE AS BIGINT) AS x, CAST($yE AS BIGINT) AS y,
       |    CAST($z AS BIGINT) AS z
       |  FROM events)
       |SELECT z // 4096 AS zbin, CAST(COUNT(*) AS BIGINT) AS n,
       |  MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
       |FROM p GROUP BY 1 ORDER BY zbin""".stripMargin
  }

  /** Declarative DATA-QUALITY constraint report (the Deequ-style
    * validation gate a pipeline runs before accepting a data drop): five
    * row-level constraints compile into ONE aggregate over events
    * ([[graft.operators.DataQuality.report]]), plus the two set-level
    * rows (event_id uniqueness; user_id referential integrity against
    * customer) that need their own aggregate/anti-join by nature. The
    * check mix is deliberately half-failing (`value ≤ 400` and the
    * accepted-type list excluding 'error' have real violations) so both
    * report branches are hash-pinned. All counts exact BIGINTs.
    *
    * Scale: N row-level checks = one scan + a 1-row shuffle; uniqueness
    * = one count-distinct; referential = one distinct-build + left join
    * (broadcastable dim). Nothing is table-quadratic or sampled.
    */
  private def dqReport(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DataQuality
    import graft.operators.DataQuality.Check
    import s.implicits._
    val ev = Tables.events(s, dir)
    val rowChecks = DataQuality.report(ev, Seq(
      Check("completeness_props", $"props".isNull || $"props" === ""),
      Check("value_positive", $"value" <= 0.0),
      Check("value_le_400", $"value" > 400.0),
      Check("accepted_types_no_error",
        !$"event_type".isin("click", "purchase", "signup", "view")),
      Check("props_json_shape", !$"props".rlike("^\\{\"k\": [0-9]+\\}$"))))
    val uniq = DataQuality.uniquenessRow(ev, "unique_event_id", $"event_id")
    val ref = DataQuality.referentialRow(ev, "ref_user_in_customer",
      $"user_id", Tables.customer(s, dir), $"c_custkey")
    rowChecks.unionAll(uniq).unionAll(ref).orderBy($"check_name")
  }

  private val dqReportSql =
    """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM events),
      |r AS (
      |  SELECT 'completeness_props' AS check_name,
      |    CAST(SUM(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      |  FROM events
      |  UNION ALL
      |  SELECT 'value_positive',
      |    CAST(SUM(CASE WHEN value <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) FROM events
      |  UNION ALL
      |  SELECT 'value_le_400',
      |    CAST(SUM(CASE WHEN value > 400.0 THEN 1 ELSE 0 END) AS BIGINT) FROM events
      |  UNION ALL
      |  SELECT 'accepted_types_no_error',
      |    CAST(SUM(CASE WHEN event_type NOT IN ('click','purchase','signup','view')
      |      THEN 1 ELSE 0 END) AS BIGINT) FROM events
      |  UNION ALL
      |  SELECT 'props_json_shape',
      |    CAST(SUM(CASE WHEN NOT regexp_matches(props, '^\{"k": [0-9]+\}$')
      |      THEN 1 ELSE 0 END) AS BIGINT) FROM events
      |  UNION ALL
      |  SELECT 'unique_event_id',
      |    CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) FROM events
      |  UNION ALL
      |  SELECT 'ref_user_in_customer',
      |    CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM customer c
      |      WHERE c.c_custkey = e.user_id) THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM events e)
      |SELECT check_name, n_violations, n_rows, n_violations = 0 AS pass
      |FROM r CROSS JOIN n ORDER BY check_name""".stripMargin

  /** Shuffle-BALANCE audit — the pre-flight skew measurement that decides
    * whether a key needs salting before the big join/agg: rows per
    * md5-derived hash bucket (32 buckets, the reducer shape a shuffle on
    * this key would take) with each bucket's exact ppm share. A flat
    * profile clears the key; a spiked one is the `ev_salted_enrich`
    * trigger. Integer-exact (`n·10⁶ DIV total`) so the oracle hash-pins
    * the whole profile.
    *
    * Scale: one map-combined groupBy over 32 buckets + a broadcast
    * 1-row total — O(buckets) shuffle at any corpus size.
    */
  private def partitionStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = Tables.events(s, dir)
      .select((conv(substring(md5($"user_id".cast("string")), 1, 8), 16, 10)
        .cast("long") % 32L).as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n_rows"))
    b.crossJoin(broadcast(b.agg(sum($"n_rows").as("total"))))
      .select($"bucket", $"n_rows", expr("n_rows * 1000000 DIV total").as("ppm"))
      .orderBy($"bucket")
  }

  private val partitionStatsSql =
    """WITH b AS (
      |  SELECT CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |    % 32 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows
      |  FROM events GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM b)
      |SELECT bucket, n_rows, n_rows * 1000000 // total AS ppm
      |FROM b CROSS JOIN t ORDER BY bucket""".stripMargin

  // ------------------------------------------------- composed pipeline DAG

  /** The COMPOSED curation DAG as one registered row (the full path a
    * 100-TB user actually runs, not the per-operator slices): ingest
    * through the ENGINE write path → exact dedup → MinHash-LSH near-dup
    * (production banded path, keep-first policy) → token-band quality
    * gate → exact-fingerprint decontamination against a benchmark set →
    * per-source cap + deterministic hash split → stage-attrition yield
    * report. The oracle replays EVERY stage in DuckDB, including the
    * full LSH pipeline (`MinHashLSH.oraclePairsCtes` over the
    * exact-dedup survivors), so a drift anywhere in the composition
    * hash-mismatches.
    *
    * Plan shape (the stage-boundary decisions that only show up
    * composed): the parsed corpus is cached ONCE after the engine read
    * — every downstream stage (keep-set, LSH, flags, eval set) reuses
    * it instead of re-scanning the stream; attrition is computed as
    * cumulative alive-flags in ONE pass over the corpus (never one
    * count-job per stage); the near-dup drop set and eval fingerprints
    * are broadcast (both tiny relative to the corpus); the only wide
    * exchanges are the fingerprint groupBy, LSH's banded bucket join
    * and the per-source pack window.
    */
  private def pipelineFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val work = graft.util.WorkDirs.temp("graft-pipefull")
    val g = new graft.storage.GraftStreams(s, work)
    g.catalog.createScope("q")
    g.catalog.createStream("q", "docs", graft.core.StreamConfig(initialSegments = 8))
    g.writeEvents("q", "docs", Tables.documents(s, dir).select(
      $"source".as("routingKey"), $"doc_id".as("eventTime"),
      encode($"text", "UTF-8").as("payload")))
    // The report is materialized eagerly (Pin.scope) so the corpus pin
    // is RELEASED before returning — this query used to leak one cached
    // corpus copy per invocation into the session (the bench invokes it
    // twice), storage pressure every later query paid (r15). The release
    // also covers the LSH saturation guard, which is designed to throw.
    graft.util.Pin.scope { pin =>
      val d = pin(g.readEvents("q", "docs")
        .select($"eventTime".as("doc_id"), $"routingKey".as("source"),
          decode($"payload", "UTF-8").as("text"))
        .select($"doc_id", $"source", $"text",
          md5(lower(trim($"text"))).as("fp"),
          size(split(trim($"text"), "\\s+")).cast("long").as("n_tok")),
        "pipelineFull.corpus")
      val keepFp = d.groupBy($"fp").agg(min($"doc_id").as("keep_id"))
      val exactKept = d.join(
        keepFp.select($"fp", $"keep_id".as("doc_id")), Seq("fp", "doc_id"), "left_semi")
      val nearDrop = graft.operators.MinHashLSH
        .nearDuplicates(exactKept, "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.35)
        .select($"b_id".as("doc_id")).distinct()
      val evalFp = d.filter($"doc_id" % 97 === 0).select($"fp").distinct()
      val flagged = d
        .join(keepFp, Seq("fp"))
        .join(broadcast(nearDrop.withColumn("nd", lit(1L))), Seq("doc_id"), "left")
        .join(broadcast(evalFp.withColumn("ev", lit(1L))), Seq("fp"), "left")
        .withColumn("alive2", $"doc_id" === $"keep_id")
        .withColumn("alive3", $"alive2" && $"nd".isNull)
        .withColumn("alive4", $"alive3" && $"n_tok".between(20L, 200L))
        .withColumn("alive5", $"alive4" && $"ev".isNull)
      val packed = flagged.filter($"alive5")
        .withColumn("rk", row_number().over(
          Window.partitionBy($"source").orderBy($"doc_id")))
        .filter($"rk" <= 400)
        .withColumn("bucket",
          conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10).cast("long") % 100)
        .withColumn("split",
          when($"bucket" < 80, "train").when($"bucket" < 90, "val").otherwise("test"))
      val stages = flagged.agg(
          count(lit(1)).as("c1"), sum($"n_tok").as("t1"),
          sum(when($"alive2", 1L).otherwise(0L)).as("c2"),
          sum(when($"alive2", $"n_tok").otherwise(0L)).as("t2"),
          sum(when($"alive3", 1L).otherwise(0L)).as("c3"),
          sum(when($"alive3", $"n_tok").otherwise(0L)).as("t3"),
          sum(when($"alive4", 1L).otherwise(0L)).as("c4"),
          sum(when($"alive4", $"n_tok").otherwise(0L)).as("t4"),
          sum(when($"alive5", 1L).otherwise(0L)).as("c5"),
          sum(when($"alive5", $"n_tok").otherwise(0L)).as("t5"))
        .select(expr("""stack(5,
          '1_ingested',    c1, t1,
          '2_exact_dedup', c2, t2,
          '3_near_dedup',  c3, t3,
          '4_quality',     c4, t4,
          '5_decontam',    c5, t5) AS (stage, n_docs, n_tokens)"""))
      val packRows = packed
        .groupBy(concat(lit("6_pack_"), $"split").as("stage"))
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      stages.unionByName(packRows).orderBy($"stage")
    }
  }

  private val pipelineFullSql = {
    val lsh = graft.operators.MinHashLSH.oraclePairsCtes(
      "doc_id IN (SELECT keep_id FROM keep)", numHashes = 64, bands = 16,
      threshold = 0.35)
    s"""WITH d AS (
       |  SELECT doc_id, source, md5(lower(trim(text))) AS fp,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
       |  FROM documents),
       |keep AS (SELECT fp, MIN(doc_id) AS keep_id FROM d GROUP BY fp),
       |$lsh,
       |neardrop AS (SELECT DISTINCT b_id AS doc_id FROM pairs),
       |evalfp AS (SELECT DISTINCT fp FROM d WHERE doc_id % 97 = 0),
       |flags AS (
       |  SELECT d.doc_id, d.source, d.n_tok,
       |    (d.doc_id = k.keep_id) AS alive2,
       |    (d.doc_id = k.keep_id AND nd.doc_id IS NULL) AS alive3,
       |    (d.doc_id = k.keep_id AND nd.doc_id IS NULL
       |      AND d.n_tok BETWEEN 20 AND 200) AS alive4,
       |    (d.doc_id = k.keep_id AND nd.doc_id IS NULL
       |      AND d.n_tok BETWEEN 20 AND 200 AND e.fp IS NULL) AS alive5
       |  FROM d JOIN keep k ON d.fp = k.fp
       |  LEFT JOIN neardrop nd ON d.doc_id = nd.doc_id
       |  LEFT JOIN evalfp e ON d.fp = e.fp),
       |packed AS (
       |  SELECT source, n_tok,
       |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |      % 100 AS bucket
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rk
       |        FROM flags WHERE alive5) x
       |  WHERE rk <= 400),
       |stages AS (
       |  SELECT '1_ingested' AS stage, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens FROM flags
       |  UNION ALL SELECT '2_exact_dedup', COUNT(*), SUM(n_tok) FROM flags WHERE alive2
       |  UNION ALL SELECT '3_near_dedup', COUNT(*), SUM(n_tok) FROM flags WHERE alive3
       |  UNION ALL SELECT '4_quality', COUNT(*), SUM(n_tok) FROM flags WHERE alive4
       |  UNION ALL SELECT '5_decontam', COUNT(*), SUM(n_tok) FROM flags WHERE alive5
       |  UNION ALL SELECT concat('6_pack_',
       |      CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
       |           ELSE 'test' END),
       |    COUNT(*), SUM(n_tok) FROM packed GROUP BY 1)
       |SELECT stage, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_tokens AS BIGINT) AS n_tokens
       |FROM stages ORDER BY stage""".stripMargin
  }

  val defs: Seq[(String, Qf, Option[String])] = Seq(
    ("ds_pipeline_full",        pipelineFull _,       Some(pipelineFullSql)),
    ("ds_partition_stats",      partitionStats _,     Some(partitionStatsSql)),
    ("ds_dq_report",            dqReport _,           Some(dqReportSql)),
    ("ds_zorder_layout",        zorderLayout _,       Some(zorderLayoutSql)),
    ("ds_mix_temperature",      mixTemperature _,     Some(mixTemperatureSql)),
    ("ds_cross_source_overlap", crossSourceOverlap _, Some(crossSourceOverlapSql)),
    ("ds_dataset_card",         datasetCard _,        Some(datasetCardSql)),
    ("ds_pipeline_yield",       pipelineSurvivors _,  Some(pipelineSurvivorsSql)),
    ("txt_source_kl",           sourceKl _,           Some(sourceKlSql)),
    ("ds_token_budget",         tokenBudget _,        Some(tokenBudgetSql)),
    ("ds_domain_cap",           domainCap _,          Some(domainCapSql)),
    ("ds_pack_sequences",       packSequences _,      Some(packSequencesSql)),
    ("ds_chunk_windows",        chunkWindows _,       Some(chunkWindowsSql)),
    ("ds_weighted_sample",      weightedSample _,     Some(weightedSampleSql)),
    ("txt_tfidf_top",           tfidfTop _,           Some(tfidfTopSql)),
    ("txt_bloom_contamination", bloomContamination _, Some(bloomContaminationSql)),
  )
}
