package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: the percentile rule, self time under
  * overlapping and nested child spans, and parenting jobs to spans.
  */
class ArithmeticSpec extends AnyFunSuite {

  private def close(a: Double, b: Double) = assert(math.abs(a - b) < 1e-9, s"$a != $b")

  test("quantiles interpolate linearly between closest ranks") {
    val xs = (1 to 10).map(_.toDouble).reverse // order must not matter
    close(Stats.quantile(xs, 0.5), 5.5)
    close(Stats.quantile(xs, 0.9), 9.1)
    close(Stats.quantile(xs, 0.0), 1.0)
    close(Stats.quantile(xs, 1.0), 10.0)
    close(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
    close(Stats.quantile(Seq(7.0), 0.9), 7.0)
    assertThrows[IllegalArgumentException](Stats.quantile(Nil, 0.5))
    assertThrows[IllegalArgumentException](Stats.quantile(xs, 1.5))
  }

  test("a p90 is supported by ten samples beyond it only from 100 samples on") {
    assert(Stats.beyond((1 to 10).map(_.toDouble), 0.9) == 1)
    assert(Stats.beyond((1 to 100).map(_.toDouble), 0.9) == 10)
    assert(Stats.beyond(Seq.fill(20)(5.0), 0.9) == 0) // ties are not beyond
  }

  test("union length merges overlapping, touching and nested intervals") {
    close(Stats.unionLength(Seq((0, 10), (5, 15), (20, 30))), 25)
    close(Stats.unionLength(Seq((0, 10), (10, 20))), 20)
    close(Stats.unionLength(Seq((0, 100), (10, 20), (30, 40))), 100)
    close(Stats.unionLength(Seq((5, 5), (7, 6))), 0) // empty and reversed count nothing
    close(Stats.unionLength(Nil), 0)
  }

  test("self time subtracts each covered instant once") {
    // overlapping children [10,30) and [20,40) cover 30 of the parent's 100
    close(Stats.selfTime(0, 100, Seq((10, 30), (20, 40))), 70)
    // a child nested inside another adds nothing
    close(Stats.selfTime(0, 100, Seq((10, 50), (20, 30))), 60)
    // parts of children outside the parent do not count
    close(Stats.selfTime(0, 100, Seq((-20, 10), (90, 130))), 80)
    // a child entirely outside leaves the parent whole
    close(Stats.selfTime(0, 100, Seq((200, 300))), 100)
    // children covering everything leave nothing
    close(Stats.selfTime(0, 100, Seq((0, 60), (50, 100))), 0)
  }

  test("jobs go to the calling span, micro-batch jobs to their trigger") {
    val triggers = Map(("q1", 7L) -> -1L)
    assert(Attribution.parentOf(Map(Attribution.SpanKey -> "12"), triggers).contains(12L))
    // the micro-batch thread inherited span 12 from the thread that started
    // the query; its batch id decides
    val streaming = Map(Attribution.SpanKey -> "12", Attribution.QueryKey -> "q1",
      Attribution.BatchKey -> "7")
    assert(Attribution.parentOf(streaming, triggers).contains(-1L))
    // a batch with no trigger span is unattributed, not given to span 12
    assert(Attribution.parentOf(streaming + (Attribution.BatchKey -> "8"), triggers).isEmpty)
    assert(Attribution.parentOf(Map.empty, triggers).isEmpty)
  }

  test("a job under an inner span counts for the nearest span with a role") {
    val spans = Seq(
      Span(1, 0, "storage.txn_append", Roles.Primary, 0, 100),
      Span(2, 1, "storage.write_to_txn", "", 10, 60),
      Span(3, 2, "inner", "", 20, 30))
    val byId = spans.map(s => s.id -> s).toMap
    assert(Attribution.roleAncestor(3, byId).map(_.id).contains(1L))
    assert(Attribution.roleAncestor(1, byId).map(_.id).contains(1L))
    assert(Attribution.roleAncestor(99, byId).isEmpty)

    def job(id: Int, span: Long, start: Double, end: Double) =
      JobRec(id, start, end, Map(Attribution.SpanKey -> span.toString), 4, 40, 20000000L, 100, 50, 0, 0)
    val rec = Recorded(spans, Seq(job(1, 3, 20, 40), job(2, 1, 30, 50), job(3, 2, 80, 90)),
      Seq(PlanRec(5, 3.0), PlanRec(200, 9.0)), Nil)
    val calls = Layers.calls(rec)
    assert(calls.size == 1)
    val c = calls.head
    assert(c.jobs.map(_.jobId).sorted == Seq(1, 2, 3))
    close(c.jobMs, 40)      // [20,50) and [80,90)
    close(c.driverMs, 60)
    close(c.planMs, 3.0)    // the plan at t=200 falls in no call
    val m = Layers.roleMetrics("primary", calls)
    close(m("primary.jobs_per_call"), 3)
    close(m("primary.tasks_per_call"), 12)
    close(m("primary.cpu_per_run"), 0.5) // 60 ms of CPU over 120 ms of task run time
    assert(Layers.unattributed(rec.copy(jobs = rec.jobs :+ job(4, 42, 0, 1))) == 1)
  }

  test("closed loops run a pass count fixed by the run length") {
    assert(Stats.passes(10, 10.0) == 1)
    assert(Stats.passes(10, 5.0) == 2)
    assert(Stats.passes(1, 10.0) == 1) // never zero
    assert(Stats.passes(60, 10.0) == 6)
  }
}
