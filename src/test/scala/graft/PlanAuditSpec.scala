package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape gates — the properties that decide whether a plan
  * survives a 100 TB scale-up, asserted in CI rather than eyeballed:
  * parquet predicate pushdown, column pruning, broadcast joins on dims,
  * map-side partial aggregation and whole-stage codegen coverage.
  */
class PlanAuditSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  private def planOf(name: String): (DataFrame, String, String) = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize AQE so the executed plan is the real one
    val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    (df, formatted, df.queryExecution.executedPlan.toString)
  }

  test("q2_scan_pushdown: filters reach the parquet scan, schema is pruned") {
    val (_, plan, _) = planOf("q2_scan_pushdown")
    assert(plan.contains("PushedFilters: ["), "no predicate pushdown into the scan")
    assert(!plan.contains("PushedFilters: []"), "pushdown list is empty")
    // the query projects a few columns; a full-width ReadSchema means
    // column pruning broke
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema:")).getOrElse("")
    assert(!readSchema.contains("l_comment"), s"scan reads unprojected columns: $readSchema")
  }

  test("q4_join_broadcast: the dimension side broadcasts, no shuffle join") {
    val (_, plan, _) = planOf("q4_join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), "expected a broadcast hash join")
  }

  test("q1_agg: partial (map-side) aggregation before the shuffle + codegen") {
    val (_, plan, executed) = planOf("q1_agg")
    val hashAggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, saw $hashAggs")
    assert(executed.contains("*("), "aggregation fell out of whole-stage codegen")
  }

  test("engine bounded read: offset predicates ride parquet row-group stats") {
    import org.apache.spark.sql.functions._
    val g = new graft.storage.GraftStreams(spark,
      java.nio.file.Files.createTempDirectory("graft-audit").toString)
    g.catalog.createScope("a")
    g.catalog.createStream("a", "s", graft.core.StreamConfig(2))
    import spark.implicits._
    g.writeEvents("a", "s", spark.range(1000).select(
      concat(lit("k"), $"id" % 7).as("routingKey"), $"id".as("eventTime"),
      encode($"id".cast("string"), "UTF-8").as("payload")))
    val meta = g.catalog.getStream("a", "s")
    val mid = graft.core.StreamCut(meta.segments.map(s => s.segmentId -> s.tailOffset / 2).toMap)
    val df = g.readEvents("a", "s", from = mid).select($"routingKey", $"offset")
    df.collect()
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      "cut-range offset predicates not pushed to parquet")
    val pushed = plan.linesIterator.find(_.trim.startsWith("PushedFilters:")).getOrElse("")
    assert(pushed.contains("offset"), s"cut bounds not handed to parquet: $pushed")
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema:")).getOrElse("")
    assert(!readSchema.contains("payload"),
      s"projection did not prune the payload column: $readSchema")
  }

  test("dedup_clusters: the unbounded dedup path has no broadcast nested-loop join") {
    // the pair graph must come from the banded LSH equi-join; a
    // BroadcastNestedLoopJoin anywhere means the O(N²) brute-force
    // verifier leaked back into the production path
    val df = SparkEntry.queries("dedup_clusters")(spark, sf)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(!executed.contains("BroadcastNestedLoopJoin"),
      "O(N²) nested-loop join in the production dedup path")
  }

  test("dedup_minhash_lsh: banded candidate join is an equi-join, not a cross product") {
    val (_, _, executed) = planOf("dedup_minhash_lsh")
    assert(!executed.contains("BroadcastNestedLoopJoin") && !executed.contains("CartesianProduct"),
      "LSH candidate generation degenerated to an all-pairs join")
  }

  test("sim_ann_ivf: centroid assignment is a pure projection (no join/agg/window)") {
    val (df, plan, _) = planOf("sim_ann_ivf")
    // exactly ONE WindowExec remains (the final per-query top-k rank); the
    // N×C corpus assignment must be an array_max over the inlined centroid
    // literal inside a Project — the round-9 sf10 sweep measured the earlier
    // broadcast-join + partial_max_by groupBy(vec_id) shape going superlinear
    // at 100× (N embedding-carrying rows through a million-group aggregate)
    def countWindows(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = if (p.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]) 1 else 0
      self + p.children.map(countWindows).sum +
        (p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            countWindows(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            countWindows(q.plan)
          case _ => 0
        })
    }
    val windows = countWindows(df.queryExecution.executedPlan)
    assert(windows <= 1, s"expected at most the final ranking window, saw $windows")
    assert(plan.contains("array_max"),
      "centroid assignment lost the array_max-over-literal projection")
    assert(!plan.contains("max_by"),
      "assignment regressed to the aggregate shape (full-corpus shuffle at scale)")
  }

  test("rank-limited windows push a map-side group top-k (WindowGroupLimit)") {
    // ds_domain_cap and txt_tfidf_top filter row_number() <= k directly
    // above their window; Catalyst must turn that into WindowGroupLimit
    // so a skewed domain ships k rows per task, not its whole partition
    for (q <- Seq("ds_domain_cap", "txt_tfidf_top")) {
      val (_, _, executed) = planOf(q)
      assert(executed.contains("WindowGroupLimit"),
        s"$q: rank limit not pushed below the window exchange")
    }
  }

  test("round-5 analytics: equi-joins only, no nested loop or cartesian anywhere") {
    // queries carrying ONE 1-row scalar broadcast (vocab size / corpus
    // total / horizon), which Spark plans as a BroadcastNestedLoopJoin
    // Cross — constant fan-out, the sanctioned scalar pattern. Everything
    // else must be pure equi-joins.
    // sim_knn_classify rides bruteForceTopK: a BOUNDED broadcast probe
    // set against the corpus scan (the documented exact baseline — the
    // non-equi self-exclusion predicate makes it an NLJ by construction,
    // with fan-out |probes|, not |corpus|).
    val scalarBroadcast = Set("txt_bigram_nll", "txt_source_kl", "ev_rfm_scores",
      "sim_knn_classify")
    for (q <- Seq("ev_session_window", "ev_markov_transitions", "ev_retention_cohorts",
                  "ev_dau_stickiness", "ev_anomaly_mad", "ev_window_sliding",
                  "ev_hourly_seasonality", "ev_ab_lift", "emb_centroid_dist",
                  "sim_knn_classify", "ds_pipeline_yield",
                  "txt_bigram_nll", "txt_source_kl", "ev_rfm_scores")) {
      val (_, _, executed) = planOf(q)
      if (!scalarBroadcast(q))
        assert(!executed.contains("BroadcastNestedLoopJoin"),
          s"$q planned a broadcast nested-loop join")
      assert(!executed.contains("CartesianProduct"),
        s"$q planned a cartesian product")
    }
  }

  test("ev_anomaly_mad: windows run over histograms, never over raw events") {
    // every Window node's child chain must contain an aggregate below it
    // (the histogram); a Sort+Window directly over the scan would be the
    // O(rows log rows) shape this query exists to avoid
    val (_, plan, _) = planOf("ev_anomaly_mad")
    val windows = plan.linesIterator.count(_.trim.matches("""\(\d+\) Window.*"""))
    assert(windows >= 1, "expected at least one Window over the histogram")
    val df = SparkEntry.queries("ev_anomaly_mad")(spark, sf)
    df.collect()
    def check(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        def hasAgg(q: org.apache.spark.sql.execution.SparkPlan): Boolean =
          q.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec] ||
            q.children.exists(hasAgg) ||
            (q match {
              case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => hasAgg(a.executedPlan)
              case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => hasAgg(s.plan)
              case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => true
              case _ => false
            })
        assert(hasAgg(w.child), s"Window over non-aggregated input:\n${w.child}")
        w.children.foreach(check)
      case other =>
        other.children.foreach(check)
        other match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => check(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => check(s.plan)
          case _ =>
        }
    }
    check(df.queryExecution.executedPlan)
  }

  test("dedup_exact: bounded shuffle count, codegen'd") {
    val (df, _, executed) = planOf("dedup_exact")
    def countShuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = p match {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
        case _ => 0
      }
      self + p.children.map(countShuffles).sum +
        p.subqueries.map(countShuffles).sum +
        (p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            countShuffles(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            countShuffles(q.plan)
          case _ => 0
        })
    }
    val shuffles = countShuffles(df.queryExecution.executedPlan)
    // countDistinct is a 2-phase aggregate (expand + re-shuffle) plus the
    // final sort: ≤4 real exchanges; more means a lost partial-agg
    assert(shuffles <= 4, s"too many shuffles for a hash-groupBy dedup: $shuffles")
    assert(executed.contains("*("), "dedup fell out of whole-stage codegen")
  }

  test("ds_chunk_windows: tokens split once, no shuffle before the final order") {
    // the GramStage lesson as a gate: the token array must materialize
    // in a projection (one split per doc), with the only exchanges being
    // the final global sort — a re-split under the exploded chunk column
    // or a stray aggregation would show up as extra shuffles
    val (df, _, executed) = planOf("ds_chunk_windows")
    def countShuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = p match {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
        case _ => 0
      }
      self + p.children.map(countShuffles).sum +
        (p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            countShuffles(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            countShuffles(q.plan)
          case _ => 0
        })
    }
    val shuffles = countShuffles(df.queryExecution.executedPlan)
    assert(shuffles <= 1, s"chunking must not shuffle before the final sort: $shuffles")
    assert(executed.contains("Generate"), "expected one generator explode per doc")
  }

  test("ev_rfm_cutoffs: every window is partitioned and runs over an aggregate") {
    // the scale-path RFM must never fall back to ev_rfm_scores' shape:
    // a global (unpartitioned) ntile window over the per-user rows. Its
    // only windows are the per-metric running sums over value HISTOGRAMS
    // — partitioned by metric, fed by an aggregate.
    val df = SparkEntry.queries("ev_rfm_cutoffs")(spark, sf)
    df.collect()
    def check(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        assert(w.partitionSpec.nonEmpty,
          s"unpartitioned (single-task) window in the RFM scale path:\n$w")
        def hasAgg(q: org.apache.spark.sql.execution.SparkPlan): Boolean =
          q.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec] ||
            q.children.exists(hasAgg) ||
            (q match {
              case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => hasAgg(a.executedPlan)
              case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => hasAgg(s.plan)
              case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => true
              case _ => false
            })
        assert(hasAgg(w.child), s"window over raw (non-histogram) rows:\n${w.child}")
        w.children.foreach(check)
      case other =>
        other.children.foreach(check)
        other match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => check(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => check(s.plan)
          case _ =>
        }
    }
    check(df.queryExecution.executedPlan)
  }

  test("dedup_span_removal: linear shape — equi-joins only, partial aggs, no pairwise product") {
    val (_, plan, _) = planOf("dedup_span_removal")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      "span removal must never plan a pairwise product")
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      "expected partial+final aggregation on the gram count")
  }

  test("ds_dataset_card: argmax ships per-group winners, source-keyed join broadcasts") {
    val (_, plan, _) = planOf("ds_dataset_card")
    assert(plan.contains("WindowGroupLimit"),
      "rank-1 dominant-language argmax lost its map-side group limit")
    assert(plan.contains("BroadcastHashJoin"),
      "the |sources|-row rollup join should broadcast")
  }

  test("emb_pq_codes: codebook join broadcasts, no pairwise vector product") {
    val (_, plan, _) = planOf("emb_pq_codes")
    assert(plan.contains("BroadcastHashJoin"), "codebook must broadcast")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"))
  }

  test("round-7 additions: top-k stays map-side, rollups stay equi-join/broadcast") {
    // sim_hamming_topk: the per-query rank window must compile to a
    // map-side group top-k — the shuffle carries ≤ k rows per (query,
    // partition), never the corpus (the broadcast of the 10-row query
    // set is the gated bounded-probe pattern, fine)
    val (_, hplan, _) = planOf("sim_hamming_topk")
    assert(hplan.contains("WindowGroupLimit"),
      "hamming top-k lost its map-side group limit")
    // ev_top_paths: global top-25 must be TakeOrderedAndProject (per-
    // partition heaps), not a full sort of the trigram set
    val (_, tplan, _) = planOf("ev_top_paths")
    assert(tplan.contains("TakeOrderedAndProject"),
      "trigram top-k planned a global sort instead of per-partition heaps")
    // ds_cross_source_overlap: the shingle self-join and both size
    // joins must be equi-joins (the size sides broadcast) — a cartesian
    // here is the all-pairs trap
    val (_, cplan, _) = planOf("ds_cross_source_overlap")
    assert(!cplan.contains("CartesianProduct") && !cplan.contains("NestedLoopJoin"),
      "cross-source overlap planned a pairwise product")
    assert(cplan.contains("BroadcastHashJoin"),
      "per-source size sides should broadcast")
    // ds_mix_temperature: only the 1-row denominator broadcast, no
    // shuffle join anywhere
    val (_, mplan, _) = planOf("ds_mix_temperature")
    assert(!mplan.contains("SortMergeJoin") && !mplan.contains("ShuffledHashJoin"),
      "mixing-weight denominators must ride the 1-row broadcast")
  }

  test("no registered query plans an unpartitioned window over unbounded input") {
    // the global-sort audit as a gate: an unpartitioned Window funnels its
    // whole input through ONE task's sort, so every registered query must
    // keep such windows either (a) fed by an Aggregate — bounded by a
    // value domain (histogram / vocabulary), the ev_anomaly_mad pattern —
    // or (b) on the loudly-bounded allowlist, where a driver-side guard
    // caps the row count and names the scale path in its error.
    import org.apache.spark.sql.catalyst.plans.logical
    val engineBacked =
      (queries.StreamQueries.defs.map(_._1) ++ queries.KvQueries.defs.map(_._1)).toSet
    val loudlyBounded = Set(
      "ev_rfm_scores") // ExactRfmMaxUsers guard -> ev_rfm_cutoffs
    def hasAggBelow(p: logical.LogicalPlan): Boolean = p match {
      case _: logical.Aggregate => true
      case other => other.children.exists(hasAggBelow)
    }
    for (name <- SparkEntry.queries.keys.toSeq.sorted
         if !engineBacked(name) && !loudlyBounded(name)) {
      val df = SparkEntry.queries(name)(spark, sf)
      val offenders = df.queryExecution.optimizedPlan.collect {
        case w: logical.Window if w.partitionSpec.isEmpty && !hasAggBelow(w.child) => w
      }
      assert(offenders.isEmpty,
        s"$name: unpartitioned window over non-aggregated input — a single-task " +
          s"global sort at scale:\n${offenders.headOption.getOrElse("")}")
    }
  }
}
