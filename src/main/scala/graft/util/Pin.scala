package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions

/** The one place the engine pins an intermediate, and the one size gate
  * that decides whether a pin is worth its storage.
  *
  * [[scope]] persists what its body registers, materialises the body's
  * result eagerly with `localCheckpoint()`, and unpersists every pin in
  * `finally` — on normal exit and when the body throws (a designed
  * fail-loud guard, say) — so a long session never carries one call's
  * pinned partitions into the next. Plain `localCheckpoint()` lineage cuts
  * stay at their call sites.
  *
  * Decisions and released pins are written as one `key=value` line each
  * on the `graft.pin` logger at INFO; sessions run at WARN, so they are
  * silent unless that logger is raised (for example in a log4j2 config
  * file passed with `-Dlog4j2.configurationFile`).
  */
object Pin {
  /** Session conf: byte ceiling on a pin's estimated size ([[fits]]). */
  val MaxBytesConf = "spark.graft.lsh.autoPersistMaxBytes"
  private val DefaultMaxBytes: Long = 2L * 1024 * 1024 * 1024

  private val log = new EventLog("graft.pin")

  /** The pins of one [[scope]], released last-in first-out. */
  final class Scope private[Pin] () {
    private var pins = List.empty[(String, DataFrame)]

    /** Persist `df` at Spark's default level until the scope exits. */
    def apply(df: DataFrame, site: String): DataFrame = {
      pins ::= (site -> df)
      df.persist()
    }

    private[Pin] def release(): Unit = pins.foreach { case (site, df) =>
      if (log.enabled) {
        val (mem, disk) = storedBytes(df)
        event("pin.release", "site" -> site, "mem" -> mem, "disk" -> disk)
      }
      df.unpersist(blocking = false)
    }
  }

  /** Run `body` with a fresh pin scope; its result is computed here
    * (eager `localCheckpoint`), so the pins can be released before return.
    */
  def scope(body: Scope => DataFrame): DataFrame = {
    val pins = new Scope
    try body(pins).localCheckpoint()
    finally pins.release()
  }

  /** Whether data about `blowUp` × the optimizer's size estimate of `src`
    * fits a pin: the estimate, scaled, must not exceed the smaller of
    * [[MaxBytesConf]] and heap/512. An unknown estimate never fits.
    *
    * The heap ceiling is measured, not assumed (r16 fifth-decade probe):
    * the estimate is of the compressed parquet scan, and the LSH banded
    * cache held 3.30 GB for a 25 MB estimate (~130×); at estimate 759 MB on
    * an 8 GiB heap the pinned banded rows exhausted the heap under the
    * self-join aggregate, while the recompute branch completed a 3.3×
    * larger input. heap/512 keeps such a pin near a quarter of the heap.
    */
  def fits(src: DataFrame, blowUp: Long, site: String): Boolean = {
    val confCap = src.sparkSession.conf.getOption(MaxBytesConf).map(_.trim.toLong)
      .getOrElse(DefaultMaxBytes)
    val cap = math.min(confCap, Runtime.getRuntime.maxMemory() / 512)
    val est = src.queryExecution.optimizedPlan.stats.sizeInBytes
    val pin = est * blowUp <= cap
    event("pin.fits", "site" -> site, "pin" -> pin, "est" -> est, "blowUp" -> blowUp, "cap" -> cap)
    pin
  }

  /** One decision event as `event=<name> k=v …` on the `graft.pin` logger. */
  def event(name: String, fields: (String, Any)*): Unit = log(name, fields: _*)

  /** (memory, disk) bytes held by `df`'s own cached RDD; (0, 0) when it
    * was never computed.
    */
  private def storedBytes(df: DataFrame): (Long, Long) = {
    val s = df.sparkSession
    s.sharedState.cacheManager.lookupCachedData(ClassicConversions.castToImpl(df))
      .map(_.cachedRepresentation.cacheBuilder)
      .filter(_.isCachedColumnBuffersLoaded)
      .flatMap(b => s.sparkContext.getRDDStorageInfo.find(_.id == b.cachedColumnBuffers.id))
      .fold((0L, 0L))(i => (i.memSize, i.diskSize))
  }
}
