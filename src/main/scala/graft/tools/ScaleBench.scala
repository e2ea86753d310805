package graft.tools

/** Scale-growth bench: runs the data-driven registered queries at TWO scale
  * factors (the driver's sf dir and a ScaleGen-replicated K× dir) and
  * reports per-query growth = t(scaled) / t(base). With K=10, ~linear
  * queries land near 10× (scan-bound ones below it — fixed plan/setup cost
  * amortises); anything well above K is flagged superlinear and needs a
  * named cause.
  *
  * Engine-write queries (stream_*, kv_*, bs_*, state_*, ev_ lifecycle ops)
  * are excluded from the DEFAULT list because stream-setup + per-trigger
  * state-store overhead dominates their wall at these sizes (measured:
  * the events-table-driven streaming rows grow only 0.9-1.4× at 10× data
  * — pass them as an explicit subset to reproduce); the write path's own
  * data-volume growth is measured directly by WriteBench.
  *
  * Per query, each dir gets a cold run then a timed second run (first-run
  * codegen/AQE compilation would otherwise dominate small-sf numbers; the
  * r4-r6 bench history showed ±4 s swings from exactly this).
  *
  * Usage: runMain graft.tools.ScaleBench <baseSfDir> <scaledDir> [k=10]
  *        [comma-separated query subset] [runs=2] [baseRuns=3]
  * `runs=1` skips the cold warm-up run: at fourth-decade sizes a single
  * pass is minutes long, so codegen/AQE compile (the seconds the second
  * run exists to exclude at small sf) is noise, and the double run would
  * double a multi-hour probe for nothing.
  *
  * The BASE leg is timed `baseRuns` times and the MEDIAN reported, with
  * the observed spread (max−min)/median riding in the JSON: r13's growth
  * ratios were denominator-noise-dominated (the same query's base leg
  * measured 18.9/27.5/32.9 s across sessions → "growth" swung 29× vs
  * 19× from the SAME scaled wall). Base runs are seconds at sf0.1, so
  * the medianing is ~free next to a fourth-decade scaled leg — and the
  * scaled WALL stays the primary cross-round metric; growth is derived
  * and only as good as its printed spread.
  */
object ScaleBench {
  /** Data-driven queries whose input volume scales with the sf dir. One
    * entry per family: relational aggs/joins/windows, dedup, curation,
    * text, similarity, embeddings, event analytics.
    */
  val DataDriven: Seq[String] = Seq(
    // relational
    "q1_agg", "q3_topk_orders", "q5_join_multiway", "q9_window_running",
    "q18_full_outer", "q21_percentile", "q25_approx_distinct",
    // dedup (scale paths only — brute verifiers are loudly bounded)
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "dedup_clusters",
    "dedup_keep_best", "dedup_span_removal", "dedup_semdedup",
    "dedup_prefix_join",
    // curation / dataset ops
    "ds_cross_source_overlap", "ds_dataset_card", "ds_pack_sequences",
    "ds_pipeline_yield", "ds_token_budget",
    // text
    "txt_bloom_contamination", "txt_rep_ngrams", "txt_tfidf_top",
    "txt_winnow_overlap", "txt_quality_score", "txt_lang_id",
    "txt_hash_classifier", "txt_train_perceptron", "txt_bpe_encode",
    // similarity / embeddings
    "sim_adc_search", "sim_ann_ivf", "sim_hamming_topk", "emb_kmeans_iter",
    "emb_pq_codes",
    // event analytics
    "ev_anomaly_mad", "ev_funnel", "ev_sessionize", "ev_rfm_cutoffs",
    "ev_top_paths", "ev_markov_transitions", "ev_asof_join",
    "ev_salted_enrich", "ev_retention_cohorts", "ev_heavy_hitters",
    "ev_distinct_kmv", "ev_trend_ols", "ds_zorder_layout")

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val scaled = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val subset: Seq[String] =
      if (args.length > 3) args(3).split(',').map(_.trim).filter(_.nonEmpty).toSeq
      else DataDriven
    val runs = if (args.length > 4) args(4).toInt else 2
    val baseRuns = if (args.length > 5) args(5).toInt else 3
    val spark = graft.util.LocalSession(defaultCpus = 32)
    // extra session conf via env, e.g. pinning the LSH candidate budget
    // for cross-round comparability: SPARK_GRAFT_CONF="k=v;k=v"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => spark.conf.set(k.trim, v.trim)
        case _ =>
      }
    })

    // Spill/shuffle attribution (r15): every probe residue so far either
    // became a found defect or a proven box effect — "tracks spill
    // pressure" must be a MEASURED claim, not an asserted one. A task
    // listener accumulates memory/disk spill and shuffle read/write
    // bytes; each SCALED leg snapshots the counters around its timed
    // run, so a growth residue can be read directly against the bytes
    // that hit the disk. (Listener events drain asynchronously; the
    // short settle sleep bounds the undercount at GB scale.)
    object Metrics extends org.apache.spark.scheduler.SparkListener {
      val memSpill = new java.util.concurrent.atomic.LongAdder
      val diskSpill = new java.util.concurrent.atomic.LongAdder
      val shufWrite = new java.util.concurrent.atomic.LongAdder
      val shufRead = new java.util.concurrent.atomic.LongAdder
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          memSpill.add(m.memoryBytesSpilled)
          diskSpill.add(m.diskBytesSpilled)
          shufWrite.add(m.shuffleWriteMetrics.bytesWritten)
          shufRead.add(m.shuffleReadMetrics.totalBytesRead)
        }
      }
      def snap(): Seq[Long] =
        Seq(memSpill.sum(), diskSpill.sum(), shufWrite.sum(), shufRead.sum())
    }
    spark.sparkContext.addSparkListener(Metrics)
    final case class Spill(memGb: Double, diskGb: Double, shufWriteGb: Double, shufReadGb: Double)
    def spillAround[A](body: => A): (A, Spill) = {
      Thread.sleep(150); val before = Metrics.snap()
      val a = body
      Thread.sleep(150); val after = Metrics.snap()
      val d = after.zip(before).map { case (x, y) => (x - y) / 1e9 }
      (a, Spill(d(0), d(1), d(2), d(3)))
    }

    // A loud saturation guard TRIPPING is a valid scale datapoint, not a
    // bench crash: dedup_prefix_join's plan-time candidate ceiling fires
    // by design once ScaleGen replication saturates the sandbox's 31-word
    // shingle space (qualifying pairs are inherently quadratic there —
    // DedupOps.MaxPrefixCandidates). Record the time-to-trip (the guard
    // is one map-combined aggregate, so IT must stay ~linear even where
    // the join it protects would not) and flag the row `guard`.
    def timed(name: String, dir: String): (Double, Boolean) = {
      val fn = graft.SparkEntry.queries(name)
      def once(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val tripped =
          try { fn(spark, dir).count(); false }
          catch {
            case e: IllegalArgumentException
                if {val m = String.valueOf(e.getMessage); m.contains("candidate estimate") || m.contains("candidate budget")} => true
          }
        ((System.nanoTime() - t0) / 1e9, tripped)
      }
      if (runs > 1) once() // cold: codegen + AQE compile (or a first guard evaluation)
      once()
    }

    // median-of-N base leg (one shared warm run, then N timed): the
    // growth denominator must not be a single noisy sample
    def timedBase(name: String): (Double, Double, Boolean) = {
      val fn = graft.SparkEntry.queries(name)
      def once(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val tripped =
          try { fn(spark, base).count(); false }
          catch {
            case e: IllegalArgumentException
                if {val m = String.valueOf(e.getMessage); m.contains("candidate estimate") || m.contains("candidate budget")} => true
          }
        ((System.nanoTime() - t0) / 1e9, tripped)
      }
      if (runs > 1) once()
      val legs = (1 to math.max(1, baseRuns)).map(_ => once())
      val ts = legs.map(_._1).sorted
      val med = ts(ts.length / 2)
      val spread = if (med > 0) (ts.last - ts.head) / med else 0.0
      (med, spread, legs.exists(_._2))
    }

    def fmt(v: Double): String = f"$v%.2f"
    // One query dying (OOM, disk, env) must not abort a multi-hour
    // probe and silently drop every later row (the r14 sf1000 probe
    // lost its full first pass to a stderr-only kryo failure): record
    // the failure AS a row and keep going.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val rows = subset.flatMap { name =>
      try {
        val (tb, spread, gb) = timedBase(name)
        val ((ts, gs), sp) = spillAround(timed(name, scaled))
        val g = ts / math.max(tb, 1e-9)
        val mark = (gb, gs) match {
          case (true, true) => " [guard tripped at BOTH scales]"
          case (_, true)    => " [guard tripped at scaled]"
          case (true, _)    => " [guard tripped at base]"
          case _            => ""
        }
        println(f"[scale] $name%-28s base=${fmt(tb)}%6ss (±${spread * 100}%.0f%%) scaled=${fmt(ts)}%6ss growth=${g}%5.1fx " +
          f"spill=${sp.diskGb}%.3fGB shufW=${sp.shufWriteGb}%.3fGB shufR=${sp.shufReadGb}%.3fGB$mark")
        Some((name, tb, ts, g, gb || gs, spread, sp))
      } catch {
        case e: Throwable =>
          val why = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          println(s"[scale] $name FAILED $why")
          failed(name) = why
          None
      }
    }
    val qs = rows.map { case (n, tb, ts, g, guard, spread, sp) =>
      "\"" + n + "\":{\"base\":" + fmt(tb) + ",\"scaled\":" + fmt(ts) +
        ",\"growth\":" + fmt(g) + ",\"base_spread\":" + fmt(spread) +
        f",${"\"scaled_spill_mem_gb\""}:${sp.memGb}%.3f" +
        f",${"\"scaled_spill_disk_gb\""}:${sp.diskGb}%.3f" +
        f",${"\"scaled_shuffle_write_gb\""}:${sp.shufWriteGb}%.3f" +
        f",${"\"scaled_shuffle_read_gb\""}:${sp.shufReadGb}%.3f" +
        (if (guard) ",\"guard\":true" else "") + "}"
    }.mkString("{", ",", "}")
    val superlinear = rows.filter(_._4 > k * 1.25).map(_._1)
    // Full JSON string escaping: exception messages routinely carry
    // newlines, backslashes and control characters (Spark/Kryo stack
    // prefixes especially) — a quote-only replacement made the artifact
    // line invalid JSON on exactly the runs it exists to record.
    def jesc(s: String): String = s.flatMap {
      case '"'               => "\\\""
      case '\\'              => "\\\\"
      case '\n'              => "\\n"
      case '\r'              => "\\r"
      case '\t'              => "\\t"
      case c if c < ' '      => f"\\u${c.toInt}%04x"
      case c                 => c.toString
    }
    val failedJson =
      if (failed.isEmpty) ""
      else failed.map { case (n, w) => "\"" + n + "\":\"" + jesc(w) + "\"" }
        .mkString(""","failed":{""", ",", "}")
    println(s"""{"metric":"scale_growth","k":$k,"n_queries":${rows.size},""" +
      s""""base_total":${fmt(rows.map(_._2).sum)},"scaled_total":${fmt(rows.map(_._3).sum)},""" +
      s""""superlinear":${superlinear.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""guard_tripped":${rows.filter(_._5).map("\"" + _._1 + "\"").mkString("[", ",", "]")},""" +
      s""""queries":$qs$failedJson}""")
    spark.stop()
  }
}
