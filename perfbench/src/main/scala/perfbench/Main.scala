package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Epoch milliseconds from the monotonic clock, shared by the benchmark's
  * threads and the sink tasks (local mode runs them in this JVM).
  */
object Clock {
  private val nanoBase = System.nanoTime()
  private val wallBase = System.currentTimeMillis().toDouble
  def now(): Double = wallBase + (System.nanoTime() - nanoBase) / 1e6
}

/** What every workload gets: the session, the tracer, its seed and a
  * work directory it owns.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, workDir: String) {
  def dir(name: String): String = {
    val p = Paths.get(workDir, name)
    Files.createDirectories(p)
    p.toString
  }
}

/** One workload. `setup` builds a fresh store and is run
  * [[Main.SetupReps]] times; the store of the last run is the one measured.
  */
trait Workload {
  def setup(rep: Int): Unit
  /** Untimed calls after set-up, so caches fill and code is compiled. */
  def warm(): Unit
  def measure(seconds: Int): Unit
  /** Stop background work and run the correctness checks; returns one
    * message per failed operation.
    */
  def finish(): Seq[String]
  def attempted: Long
  /** Operation counts per type, for the held-out-seed check. */
  def opCounts: Map[String, Long]
  /** Latency samples in ms of the primary and secondary calls, and the
    * walls in s of the full passes over the workload's schedule.
    */
  def primaryMs: Seq[Double]
  def secondaryMs: Seq[Double]
  def passS: Seq[Double]
  /** How late each call started against when it was due (open loop), or
    * the gap since the previous call returned (closed loop), in ms.
    */
  def lateMs: Seq[Double]
  /** The issue-level names of the primary, secondary and pass metrics. */
  def names: (String, String, String)
  /** Store-level per-layer metrics, from the measured window's record. */
  def storeLayers(rec: Recorded): Map[String, Double]
  /** Workload-specific report lines (name -> value, unit); `rec` is the
    * measured window's record when traced, and `from` its start.
    */
  def report(rec: Option[Recorded], from: Double): Seq[(String, Double, String)]
  /** Extra fields for the result file (for example results to check). */
  def extra: Map[String, Any] = Map.empty
}

object Main {
  /** Set-ups per run; `setup_s` reports their median. */
  val SetupReps = 2

  private def loadavg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")
      .take(3).map(_.toDouble).toSeq
    catch { case _: Throwable => Seq(-1.0, -1.0, -1.0) }

  private def vmHwmMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def cpuMs(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => 0.0
  }

  /** Directory size in bytes; 0 when it does not exist. */
  def dirBytes(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
      finally s.close()
    }

  /** JSON text of maps, sequences, tuples, numbers, strings and booleans. */
  def json(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toInt
    val traced = arg(args, "--trace") == "1"
    val workDir = arg(args, "--work")
    val out = arg(args, "--out")
    val loadStart = loadavg()
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = Clock.now()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(workDir, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(workDir, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (Clock.now() - t0) / 1000

    val tracer = new Tracer(spark, traced)
    val ctx = Ctx(spark, tracer, seed, workDir)
    val w: Workload = workload match {
      case "ingest_tail" => new IngestTail(ctx)
      case "kv_point" => new KvPoint(ctx)
      case "query_mix" => new QueryMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val repS = (0 until SetupReps).map { rep =>
      val s = Clock.now(); w.setup(rep); (Clock.now() - s) / 1000
    }
    val warmStart = Clock.now()
    w.warm()
    val warmS = (Clock.now() - warmStart) / 1000
    val setupS = sessionS + Stats.median(repS) + warmS

    val cpu0 = cpuMs(); val gc0 = gcMs(); val from = Clock.now()
    w.measure(seconds)
    val measureEnd = Clock.now()
    val wallMs = measureEnd - from
    val cpu = cpuMs() - cpu0; val gc = gcMs() - gc0
    val failures = w.finish()
    val finishS = (Clock.now() - measureEnd) / 1000
    val rec = tracer.finish().window(from, measureEnd)
    val rss = vmHwmMb()

    val (pName, sName, passName) = w.names
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "peak_rss_mb" -> (rss, "MB"),
      "primary_p50_ms" -> (Stats.quantile(w.primaryMs, 0.5), "ms"),
      "primary_p90_ms" -> (Stats.quantile(w.primaryMs, 0.9), "ms"),
      "secondary_p50_ms" -> (Stats.quantile(w.secondaryMs, 0.5), "ms"),
      "secondary_p90_ms" -> (Stats.quantile(w.secondaryMs, 0.9), "ms"),
      "pass_s" -> (Stats.median(w.passS), "s"))

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val calls = Layers.calls(rec)
        Roles.all.flatMap(r => Layers.roleMetrics(r, calls.filter(_.span.role == r))).toMap ++
          Layers.storeDefaults ++ w.storeLayers(rec) ++ Map(
            "jvm.gc_ms" -> gc,
            "proc.cpu_ms" -> cpu,
            "bench.gen_late_p90_ms" -> Stats.quantile(w.lateMs, 0.9),
            "trace.unattributed_jobs" -> Layers.unattributed(rec).toDouble,
            "sources.latest_offset.share" -> Layers.triggerShare(rec, "latestOffset"),
            "sources.query_planning.share" -> Layers.triggerShare(rec, "queryPlanning"),
            "sources.add_batch.share" -> Layers.triggerShare(rec, "addBatch"),
            "sources.wal_commit.share" -> Layers.triggerShare(rec, "walCommit"),
            "sources.commit_offsets.share" -> Layers.triggerShare(rec, "commitOffsets"))
      }

    def samples(xs: Seq[Double]) = Map("n" -> xs.size, "beyond_p90" -> Stats.beyond(xs, 0.9))
    val result = Map[String, Any](
      "workload" -> workload,
      "seed" -> seed,
      "traced" -> traced,
      "attempted" -> w.attempted,
      "failures" -> failures.take(50),
      "failed" -> failures.size,
      "op_counts" -> w.opCounts,
      "e2e" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layers" -> layers,
      "report" -> (Seq(
        (s"$pName.p50_ms", Stats.quantile(w.primaryMs, 0.5), "ms"),
        (s"$pName.p90_ms", Stats.quantile(w.primaryMs, 0.9), "ms"),
        (s"$sName.p50_ms", Stats.quantile(w.secondaryMs, 0.5), "ms"),
        (s"$sName.p90_ms", Stats.quantile(w.secondaryMs, 0.9), "ms"),
        (passName, Stats.median(w.passS), "s")) ++ w.report(if (traced) Some(rec) else None, from))
        .map { case (k, v, u) => Map("name" -> k, "value" -> v, "unit" -> u) },
      "samples" -> Map("primary" -> samples(w.primaryMs), "secondary" -> samples(w.secondaryMs),
        "pass" -> Map("n" -> w.passS.size)),
      "raw" -> Map("primary_ms" -> w.primaryMs, "pass_s" -> w.passS,
        "secondary_ms" -> (if (w.secondaryMs.size > 200) Nil else w.secondaryMs)),
      "validity" -> Map(
        "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(), "nproc" -> cores,
        "measure_wall_ms" -> wallMs, "proc_cpu_ms" -> cpu, "gc_ms" -> gc,
        "cpu_per_wall" -> (if (wallMs > 0) cpu / wallMs else 0.0),
        "gen_late_p90_ms" -> Stats.quantile(w.lateMs, 0.9),
        "gen_late_max_ms" -> w.lateMs.max,
        "session_s" -> sessionS, "setup_reps_s" -> repS, "warm_s" -> warmS,
        "finish_s" -> finishS, "jvm_start_to_end_s" -> (Clock.now() - t0) / 1000),
    ) ++ w.extra
    Files.writeString(Paths.get(out), Main.json(result))
    spark.stop()
  }
}
