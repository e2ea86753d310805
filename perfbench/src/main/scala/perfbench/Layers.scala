package perfbench

import java.time.Instant

import scala.jdk.CollectionConverters._

/** Turns what a traced run recorded into per-layer metrics.
  *
  * Every workload has two roles of timed calls (see README.md): its
  * primary calls (append / get / scan) and its secondary calls
  * (micro-batch trigger / put / inventory query). The same decomposition
  * is measured for both roles on every workload, so every metric exists
  * on every workload: how much of a call was covered by Spark jobs, how
  * much was driver-side work outside any job, how long planning took, and
  * what the jobs' tasks did.
  */
object Layers {

  /** One role-bearing call with the Spark work attributed to it. */
  final case class Call(span: Span, jobs: Seq[JobRec], planMs: Double) {
    private def clipped = jobs.map(j => (math.max(j.start, span.start), math.min(j.end, span.end)))
    def jobMs: Double = Stats.unionLength(clipped)
    def driverMs: Double = Stats.selfTime(span.start, span.end, jobs.map(j => (j.start, j.end)))
  }

  /** Trigger spans rebuilt from micro-batch progress events, keyed by
    * (query id, batch id). Only triggers that read data count.
    */
  def triggers(rec: Recorded): Seq[((String, Long), Span)] =
    rec.progress.filter(_.numInputRows > 0).zipWithIndex.map { case (p, i) =>
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val dur = p.durationMs.asScala.get("triggerExecution").map(_.doubleValue).getOrElse(0.0)
      (p.id.toString, p.batchId) -> Span(-(i + 1L), 0L, "sources.trigger", Roles.Secondary, start, start + dur)
    }

  /** Every role-bearing call, with the jobs and planning time attributed
    * to it.
    */
  def calls(rec: Recorded): Seq[Call] = {
    val trig = triggers(rec)
    val trigPlan = rec.progress.filter(_.numInputRows > 0).map(p =>
      (p.id.toString, p.batchId) ->
        p.durationMs.asScala.get("queryPlanning").map(_.doubleValue).getOrElse(0.0)).toMap
    val all = rec.spans ++ trig.map(_._2)
    val byId = all.map(s => s.id -> s).toMap
    val trigIds = trig.map { case (k, s) => k -> s.id }.toMap
    val jobsBySpan = rec.jobs.flatMap { j =>
      Attribution.parentOf(j.props, trigIds)
        .flatMap(Attribution.roleAncestor(_, byId)).map(_.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val clientCalls = rec.spans.filter(_.role.nonEmpty)
    // Planning of a batch query happens on the calling thread inside the
    // call, so the one client call whose interval holds the planning start
    // owns it. Streaming executions are excluded by the listener.
    val planBySpan = rec.plans.flatMap(p =>
      clientCalls.find(s => s.start <= p.start && p.start <= s.end).map(_.id -> p.planMs))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val client = clientCalls.map(s =>
      Call(s, jobsBySpan.getOrElse(s.id, Nil), planBySpan.getOrElse(s.id, 0.0)))
    val trigCalls = trig.map { case (k, s) =>
      Call(s, jobsBySpan.getOrElse(s.id, Nil), trigPlan.getOrElse(k, 0.0)) }
    client ++ trigCalls
  }

  /** Jobs that no span claimed. */
  def unattributed(rec: Recorded): Int = {
    val trigIds = triggers(rec).map { case (k, s) => k -> s.id }.toMap
    val known = rec.spans.map(_.id).toSet ++ trigIds.values
    rec.jobs.count(j => !Attribution.parentOf(j.props, trigIds).exists(known.contains))
  }

  /** Store-level metrics every workload reports; a workload overrides
    * the ones its layers touch, the rest are truly zero for it.
    */
  val storeDefaults: Map[String, Double] = Seq(
    "storage.bytes_written_per_event_byte", "catalog.cas_losses", "catalog.manifest_versions",
    "catalog.meta_bytes", "kv.meta_bytes", "kv.cas.conflict_ratio", "sources.triggers",
    "sources.rows_per_trigger.p50", "sources.backlog_events.max",
    "sources.scan.bytes_read_ratio").map(_ -> 0.0).toMap

  private def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The per-call decomposition of one role, under `prefix.`. */
  def roleMetrics(prefix: String, cs: Seq[Call]): Map[String, Double] = {
    val js = cs.flatMap(_.jobs)
    val run = js.map(_.runMs.toDouble).sum
    val cpu = js.map(_.cpuNs / 1e6).sum
    def perCall(f: JobRec => Double): Double = mean(cs.map(_.jobs.map(f).sum))
    Map(
      "calls" -> cs.size.toDouble,
      "job_ms.p50" -> p50(cs.map(_.jobMs)),
      "driver_ms.p50" -> p50(cs.map(_.driverMs)),
      "plan_ms.p50" -> p50(cs.map(_.planMs)),
      "jobs_per_call" -> mean(cs.map(_.jobs.size.toDouble)),
      "tasks_per_call" -> perCall(_.tasks.toDouble),
      "executor_run_ms" -> perCall(_.runMs.toDouble),
      "executor_cpu_ms" -> perCall(_.cpuNs / 1e6),
      "cpu_per_run" -> (if (run > 0) cpu / run else 0.0),
      "shuffle_bytes" -> perCall(_.shuffleBytes.toDouble),
      "spill_bytes" -> perCall(_.spillBytes.toDouble),
      "input_bytes" -> perCall(_.inputBytes.toDouble),
      "output_bytes" -> perCall(_.outputBytes.toDouble),
    ).map { case (k, v) => s"$prefix.$k" -> v }
  }

  /** Share of the data triggers' total time spent in one progress phase. */
  def triggerShare(rec: Recorded, phase: String): Double = {
    val ps = rec.progress.filter(_.numInputRows > 0)
    def sum(k: String) = ps.map(_.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)).sum
    val total = sum("triggerExecution")
    if (total > 0) sum(phase) / total else 0.0
  }
}
