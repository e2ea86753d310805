package graft.tools

/** Two-decade scale sweep: runs the genuinely data-bound queries at THREE
  * scale factors (base, 10×, 100× — ScaleGen-replicated) and reports
  * per-query growth across BOTH decades. One decade (BENCH_sf1) showed
  * queries *entering* the data-bound regime; the second decade is where a
  * hidden superlinear term — pair expansion, state growth, manifest size
  * — would actually surface. A query is flagged superlinear when either
  * decade's growth exceeds 1.25 × 10.
  *
  * Per query and dir: one cold run (codegen + AQE compile) then a timed
  * second run — identical methodology to ScaleBench.
  *
  * Usage: runMain graft.tools.DecadeBench <baseSfDir> <x10Dir> <x100Dir>
  *        [comma-separated query subset]
  */
object DecadeBench {

  /** The data-bound subset worth three scales: the heavy hitters of each
    * family whose wall time is dominated by data volume, not fixed cost
    * (the round-8 BENCH_sf1 growth ranking picked them).
    */
  val Default: Seq[String] = Seq(
    "q5_join_multiway", "sim_ann_ivf", "ds_cross_source_overlap",
    "txt_bloom_contamination", "ev_salted_enrich", "dedup_clusters",
    "dedup_minhash_lsh", "txt_winnow_overlap", "ev_anomaly_mad",
    "dedup_keep_best", "dedup_exact", "txt_tfidf_top")

  def main(args: Array[String]): Unit = {
    val base = args(0); val x10 = args(1); val x100 = args(2)
    val subset: Seq[String] =
      if (args.length > 3) args(3).split(',').map(_.trim).filter(_.nonEmpty).toSeq
      else Default
    // shuffle partitions sized for the LARGEST dir in the sweep; AQE
    // coalesces the excess at the small sfs, exactly as a production
    // deployment would size shuffle partitions for its data volume (32
    // fixed partitions at 100x data = 100x per-partition volume = spill,
    // which measures the misconfiguration, not the operator)
    val spark = graft.util.LocalSession(defaultCpus = 32, shufflePartitions = Some(256))

    // cold run (codegen + AQE compile + page-cache warm), then MIN of
    // three warm runs: single-shot warm timings at the 100× point swing
    // several-fold run to run (heap-growth pauses, GC timing, page-cache
    // eviction by the large heap) — the minimum is the standard
    // least-noise estimator of intrinsic cost under ambient interference
    def timed(name: String, dir: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      fn(spark, dir).count() // cold
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }.min
    }

    def fmt(v: Double): String = f"$v%.2f"
    val rows = subset.map { name =>
      val t0 = timed(name, base)
      val t1 = timed(name, x10)
      val t2 = timed(name, x100)
      val g1 = t1 / math.max(t0, 1e-9)
      val g2 = t2 / math.max(t1, 1e-9)
      println(f"[decade] $name%-26s base=${fmt(t0)}%7ss x10=${fmt(t1)}%7ss " +
        f"x100=${fmt(t2)}%8ss g1=${g1}%5.1fx g2=${g2}%5.1fx")
      (name, t0, t1, t2, g1, g2)
    }
    val qs = rows.map { case (n, t0, t1, t2, g1, g2) =>
      "\"" + n + "\":{\"base\":" + fmt(t0) + ",\"x10\":" + fmt(t1) +
        ",\"x100\":" + fmt(t2) + ",\"growth1\":" + fmt(g1) +
        ",\"growth2\":" + fmt(g2) + "}"
    }.mkString("{", ",", "}")
    val superlinear = rows.filter(r => r._5 > 12.5 || r._6 > 12.5).map(_._1)
    println(s"""{"metric":"decade_growth","k_per_decade":10,"n_queries":${rows.size},""" +
      s""""base_total":${fmt(rows.map(_._2).sum)},"x10_total":${fmt(rows.map(_._3).sum)},""" +
      s""""x100_total":${fmt(rows.map(_._4).sum)},""" +
      s""""superlinear":${superlinear.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""queries":$qs}""")
    spark.stop()
  }
}
