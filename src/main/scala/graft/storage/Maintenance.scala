package graft.storage

import graft.core.StreamConfig

/** Background maintenance pass for a stream — the Spark-side analog of the
  * controller's per-stream bucket services (controller/.../server/bucket/
  * {BucketManager,PeriodicRetention,PeriodicWatermarking}.java) plus the
  * segment-store housekeeping: one idempotent call that
  *
  *   1. sweeps expired/stuck transactions (lease timeout semantics,
  *      controller/.../timeout/),
  *   2. applies the retention policy (PeriodicRetention.java:51),
  *   3. evaluates auto-scale (AutoScaleProcessor.java:286-302),
  *   4. compacts small files (chunk defrag analog),
  *   5. physically reclaims past-grace tombstones and orphaned staging
  *      dirs.
  *
  * Every step is a manifest-CAS metadata operation or an idempotent
  * file sweep, so concurrent/maintenance-vs-writer races only ever cost a
  * CAS retry — never correctness. Run it from a scheduler per stream.
  */
class Maintenance(g: GraftStreams,
                  compactMinFiles: Int = 4,
                  orphanGraceMillis: Long = 3600000L) {

  final case class Report(
      sweptTxns: Seq[String],
      truncated: Boolean,
      scaled: Boolean,
      filesBefore: Int,
      filesAfter: Int,
      reclaimedFiles: Seq[String],
      reclaimedOrphans: Seq[String],
      watermarkEmitted: Boolean,
      /** Manifest-log versions retired this pass under the stream's
        * `manifestKeepVersions` policy (empty when the policy is off).
        */
      retiredManifests: Seq[Long] = Nil)

  def run(scope: String, stream: String,
          now: Long = System.currentTimeMillis()): Report = {
    val sweptTxns = g.sweepExpiredTxns(scope, stream)
    val truncated = new Retention(g).apply(scope, stream, now).isDefined
    val scaled = new AutoScaler(g).evaluate(scope, stream, now).isDefined
    val (before, after) =
      try g.compactStream(scope, stream, compactMinFiles)
      catch { case _: graft.core.ConditionalCheckFailedException => (-1, -1) }
    val reclaimed = g.catalog.sweepDeletes(scope, stream)
    val orphans = g.sweepOrphans(scope, stream, orphanGraceMillis)
    // PeriodicWatermarking analog: one watermark record per pass, feeding
    // per-reader TimeWindow interpolation
    val wm = g.emitWatermark(scope, stream).isDefined
    // manifest-LOG retention on the same cadence as data retention
    // (PeriodicRetention.java:51 runs both as bucket jobs). Policy-gated:
    // 0 keeps manual CALL gc_manifests semantics. The sidecar the floor
    // needs is verified (read-repaired) inside gcManifests itself; a
    // drain first so a just-scheduled checkpoint can serve as the base.
    val keep = g.catalog.getStream(scope, stream).config.manifestKeepVersions
    val retiredLog =
      if (keep <= 0) Nil
      else {
        g.catalog.flushCheckpoints()
        g.catalog.gcManifests(scope, stream, keep)
      }
    Report(sweptTxns, truncated, scaled, before, after, reclaimed, orphans, wm,
      retiredLog)
  }

  /** Maintenance across every stream of a scope, `parallelism` streams at
    * a time. Per-stream work is independent by construction (per-stream
    * manifest CAS + floor chains — concurrent passes on DIFFERENT streams
    * share nothing), and each stream's pass is RTT-bound on an object
    * store (~handfuls of serial metadata round trips plus retention/GC
    * decisions), so a serial scope loop at a 10⁵-stream deployment is
    * HOURS of idle round-trip waiting on the driver: bounded parallelism
    * is the difference between a maintenance pass and a maintenance
    * shift. Width defaults to [[Maintenance.DefaultScopeParallelism]] —
    * the work is latency-dominated, not CPU-dominated, so the width is
    * about in-flight round trips, not cores. One stream's failure does
    * not silently skip the rest: every stream still runs, then the first
    * failure is rethrown with the others suppressed.
    */
  def runScope(scope: String, now: Long = System.currentTimeMillis(),
               parallelism: Int = Maintenance.DefaultScopeParallelism): Map[String, Report] =
    Maintenance.parallelOver(g.catalog.listStreams(scope), parallelism)(
      st => st -> run(scope, st, now)).toMap

  /** Manifest-log retention across a scope's KEY-VALUE tables, honoring
    * each table's persisted `manifestKeepVersions` (the KVT side of the
    * periodic-retention plane; `gcManifests` verifies the floor's
    * checkpoint base itself). Returns retired versions per table.
    * Bounded-parallel across tables like [[runScope]] is across streams.
    */
  def runKvTables(scope: String,
                  parallelism: Int = Maintenance.DefaultScopeParallelism): Map[String, Seq[Long]] =
    Maintenance.parallelOver(g.catalog.listKeyValueTables(scope), parallelism) { name =>
      val keep = g.catalog.getKeyValueTableConfig(scope, name).manifestKeepVersions
      if (keep <= 0) None
      else Some(name -> g.catalog.openKeyValueTable(g.spark, scope, name)
        .gcManifests(keep))
    }.flatten.toMap
}

object Maintenance {
  /** Streams (or KV tables) maintained concurrently within one scope
    * pass. Sized for in-flight METADATA round trips (the work is
    * latency-bound, a few KB per op), not cores.
    */
  val DefaultScopeParallelism: Int = 16

  /** Run `f` over `items` on a bounded pool, preserving input order in
    * the result. All items run even if some fail; the first failure is
    * then rethrown with later ones attached as suppressed — same
    * visibility as the serial loop's fail-on-first, without the serial
    * loop's silently-never-ran tail.
    */
  private[storage] def parallelOver[A, B](items: Seq[A], parallelism: Int)
                                         (f: A => B): Seq[B] = {
    if (items.isEmpty) return Nil
    val width = math.max(1, math.min(parallelism, items.size))
    if (width == 1) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      width,
      (r: Runnable) => {
        val t = new Thread(r, "graft-maintenance")
        t.setDaemon(true)
        t
      })
    try {
      val futures = items.map(a => pool.submit(() => f(a)))
      val results = new Array[Any](futures.size)
      var firstFailure: Throwable = null
      futures.zipWithIndex.foreach { case (fut, i) =>
        try results(i) = fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            val cause = if (e.getCause != null) e.getCause else e
            if (firstFailure == null) firstFailure = cause
            else firstFailure.addSuppressed(cause)
        }
      }
      if (firstFailure != null) throw firstFailure
      results.toSeq.map(_.asInstanceOf[B])
    } finally pool.shutdown()
  }
}
