package graft.tools

import graft.catalog.{ManifestLog, StreamCatalog}
import graft.core.{FileEntry, StreamConfig}
import graft.kv.{KeyValueTable, KvFile, KvManifest}

import java.nio.file.{Files, Paths}

/** The catalog layer's one bench: what a manifest commit and read cost as
  * a log grows, on the local FS, with no SparkSession. Three legs:
  *
  *   - `files` (default): live-FILE count. At ~1 GB data files, 100 TB
  *     is ~10^5 manifest entries per stream; the leg installs N entries
  *     in one untimed commit, then times single-file append commits (the
  *     writeEvents batch shape), a cold read (fresh catalog) and a warm
  *     one. With a full-list manifest each commit is O(N) twice over
  *     (parse + serialize), and every CAS retry pays it again; the
  *     incremental log (delta records + out-of-band checkpoints, the
  *     Delta/Iceberg shape, [[graft.catalog.ManifestLog]]) keeps it flat.
  *   - `versions`: VERSION count. The file list stays tiny while the
  *     chain gets deep (one commit a second is 86 400 manifest objects a
  *     day), so the `_meta` LIST becomes the cost: cold, warm and
  *     stale-cache reads, a commit, TIMESTAMP AS OF at half the chain and
  *     the `_meta` object count, then the same after
  *     `gcManifests(keep = 64)`.
  *   - `kv`: a key-value table's log as its live delta DIRECTORIES grow:
  *     N directories in one untimed commit, then timed one-directory
  *     commits (a put's shape), cold and warm tip reads and the tip
  *     record's bytes.
  *
  * Usage: runMain graft.tools.ManifestBench [files|versions|kv] [n1 n2 ...]
  * (`GRAFT_MB_INTERVAL` sets the `files` leg's checkpoint cadence;
  * `GRAFT_MB_VERBOSE` prints each leg's raw commit walls.)
  * Prints one JSON line per size, e.g. for `files` and `kv`:
  *   {"leg":"files","n":N,"commit_ms_p50":…,"commit_ms_max":…,
  *    "cold_read_ms":…,"warm_read_ms":…,"tip_bytes":…,"tip":…}
  */
object ManifestBench {
  def main(args: Array[String]): Unit = {
    val (leg, rest) = args.headOption match {
      case Some(l @ ("files" | "versions" | "kv")) => (l, args.tail.toSeq)
      case _ => ("files", args.toSeq)
    }
    val sizes = rest.map(_.toInt)
    leg match {
      case "files" => (if (sizes.nonEmpty) sizes else Seq(1000, 10000, 100000, 300000, 1000000)).foreach(filesLeg)
      case "versions" => (if (sizes.nonEmpty) sizes else Seq(100, 1000, 10000)).foreach(versionsLeg)
      case "kv" => (if (sizes.nonEmpty) sizes else Seq(100, 1000, 10000, 100000)).foreach(kvLeg)
    }
  }

  private val Commits = 24

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }

  /** Sub-ms figures are JIT/scheduler-noisy in one shot: the median of 9. */
  private def med9(f: => Unit): Double = Array.fill(9)(timed(f)).sorted.apply(4)

  /** Timed commits after an untimed N-entry seed, then reads and the tip
    * record, as one JSON line.
    */
  private def growthLeg(leg: String, n: Int, work: String, metaDir: java.nio.file.Path)
                       (commit: Int => Unit)(coldRead: () => Int)(warmRead: () => Unit): Unit = {
    val rawWalls = (0 until Commits).map(j => timed(commit(j)))
    if (sys.env.contains("GRAFT_MB_VERBOSE"))
      println(rawWalls.map(w => f"$w%.1f").mkString("walls_ms=[", ",", "]"))
    val walls = rawWalls.sorted
    // steady state: let the out-of-band checkpointer drain before the
    // read measurements (commit timings above exclude it by design —
    // that asynchrony IS the feature under test)
    ManifestLog.flushCheckpoints()
    var live = 0
    val cold = timed { live = coldRead() }
    require(live == n + Commits, s"lost entries: $live")
    val warm = timed(warmRead())
    val tip = Files.list(metaDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("manifest-")).maxBy(_.getFileName.toString)
    println(s"""{"leg":"$leg","n":$n,"commit_ms_p50":${walls(Commits / 2)},""" +
      s""""commit_ms_max":${walls.last},"cold_read_ms":$cold,""" +
      s""""warm_read_ms":$warm,"tip_bytes":${Files.size(tip)},"tip":"${tip.getFileName}"}""")
    rm(work)
  }

  private def filesLeg(n: Int): Unit = {
    val work = Files.createTempDirectory("graft-mb").toString
    // GRAFT_MB_INTERVAL overrides the checkpoint cadence (e.g. a huge
    // value isolates pure-delta commit cost from checkpointer CPU/GC
    // interference; the default exercises the production cadence)
    val interval = sys.env.get("GRAFT_MB_INTERVAL").map(_.toInt)
      .getOrElse(StreamCatalog.DefaultCheckpointInterval)
    val cat = new StreamCatalog(work, checkpointInterval = interval)
    cat.createScope("b")
    cat.createStream("b", "s", StreamConfig(initialSegments = 32))
    val seed = (0 until n).map { i =>
      FileEntry(i % 32, f"data/segId=${i % 32}/part-$i%08d.parquet",
        (i / 32).toLong * 1000L, 1000L, i.toLong, i.toLong + 999L, 1, 4L << 20)
    }
    cat.update("b", "s")(m => m.copy(files = seed))
    growthLeg("files", n, work, Paths.get(work, "b", "s", "_meta")) { j =>
      cat.update("b", "s") { m =>
        m.copy(files = m.files :+ FileEntry(j % 32, s"data/segId=${j % 32}/extra-$j.parquet",
          900000000L + j * 1000L, 1000L, 0L, 999L, 1, 4L << 20))
      }: Unit
    }(() => new StreamCatalog(work).getStream("b", "s").files.size)(() => cat.getStream("b", "s"): Unit)
  }

  private def kvLeg(n: Int): Unit = {
    val work = Files.createTempDirectory("graft-mb-kv").toString
    val fs = new org.apache.hadoop.fs.Path(work).getFileSystem(new org.apache.hadoop.conf.Configuration())
    val metaDir = new org.apache.hadoop.fs.Path(work, "t/_meta")
    def open() = KeyValueTable.manifestLog(() => fs, metaDir, "kv table t")
    val log = open()
    def dir(v: Long) = KvFile(s"$work/t/delta-$v-${java.util.UUID.randomUUID()}", "delta", v)
    val v0 = log.create(KvManifest("t", 16, 0L, Nil)).get
    log.write(v0.copy(version = 1L, files = (1 to n).map(i => dir(i.toLong))), Some(v0))
    growthLeg("kv", n, work, Paths.get(work, "t", "_meta")) { _ =>
      val m = log.tip().get
      log.write(m.copy(version = m.version + 1, files = m.files :+ dir(m.version + 1)), Some(m)): Unit
    }(() => open().tip().get.files.size)(() => log.tip(): Unit)
  }

  private def versionsLeg(n: Int): Unit = {
    val work = Files.createTempDirectory("graft-vb").toString
    val cat = new StreamCatalog(work)
    cat.createScope("b")
    cat.createStream("b", "s", StreamConfig(initialSegments = 2))
    // small-field commits: the chain gets DEEP while every record (and
    // every checkpoint) stays tiny, isolating version-count cost
    for (i <- 1 to n) cat.update("b", "s")(m => m.copy(tags = Set(s"t$i")))
    cat.flushCheckpoints()
    def metaObjects: Int =
      new java.io.File(s"$work/b/s/_meta").listFiles().count(!_.getName.startsWith("."))
    // cold/stale stay single-shot: each needs virgin instance state, and
    // they are 100x the noise floor
    def coldRead: Double = {
      val c2 = new StreamCatalog(work)
      timed(c2.getStream("b", "s"): Unit)
    }
    val (objs0, cold0, warm0) = (metaObjects, coldRead, med9(cat.getStream("b", "s"): Unit))
    val commit0 = med9(cat.update("b", "s")(m => m.copy(tags = Set("x"))): Unit)
    // STALE-CACHE read: an instance whose cached tip is the WHOLE CHAIN
    // behind (primed at v0) — the capped probe walk must abandon to the
    // LIST path instead of paying one exists() GET per missed version
    val staleCat = new StreamCatalog(work)
    staleCat.getStreamAt("b", "s", 0L): Unit
    val stale0 = timed(staleCat.getStream("b", "s"): Unit)
    // TIMESTAMP AS OF at half the chain: a bisection, not a chain scan
    val tMid = {
      val half = cat.getStreamAt("b", "s", n / 2L)
      if (half.committedAt != 0L) half.committedAt else System.currentTimeMillis()
    }
    val resolve0 = med9(cat.versionAtTime("b", "s", tMid): Unit)
    val retired = cat.gcManifests("b", "s", keepVersions = 64).size
    val (objs1, cold1, warm1) = (metaObjects, coldRead, med9(cat.getStream("b", "s"): Unit))
    val commit1 = med9(cat.update("b", "s")(m => m.copy(tags = Set("y"))): Unit)
    val resolve1 = med9(
      try cat.versionAtTime("b", "s", System.currentTimeMillis()): Unit
      catch { case _: graft.core.TruncatedDataException => () })
    def f(v: Double) = f"$v%.2f"
    println(s"""{"leg":"versions","n":$n,"meta_objects":$objs0,"cold_read_ms":${f(cold0)},""" +
      s""""warm_read_ms":${f(warm0)},"commit_ms":${f(commit0)},""" +
      s""""stale_cache_read_ms":${f(stale0)},"time_resolve_ms":${f(resolve0)},"gc_retired":$retired,""" +
      s""""meta_objects_after_gc":$objs1,"cold_read_ms_after_gc":${f(cold1)},""" +
      s""""warm_read_ms_after_gc":${f(warm1)},"commit_ms_after_gc":${f(commit1)},""" +
      s""""time_resolve_ms_after_gc":${f(resolve1)}}""")
    rm(work)
  }

  /** Best-effort cleanup (up to ~GBs of JSON at the top sizes). */
  private def rm(dir: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
}
