package graft.util

import graft.SparkTestSession
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Collects the `graft.pin` (or another event logger's) lines written
  * while a body runs, with the logger raised to INFO for the duration.
  */
object PinLog {
  def capture[T](body: => T): (T, Seq[String]) = captureOn("graft.pin")(body)

  def captureOn[T](name: String)(body: => T): (T, Seq[String]) = {
    val logger = LoggerContext.getContext(false).getLogger(name)
    val lines = new ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("pin-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val level = logger.getLevel
    logger.addAppender(app)
    logger.setLevel(Level.INFO)
    try (body, lines.asScala.toSeq)
    finally { logger.removeAppender(app); logger.setLevel(level); app.stop() }
  }

  /** The `key=value` fields of the `event` lines for `site`. */
  def events(lines: Seq[String], event: String, site: String): Seq[Map[String, String]] =
    events(lines, event).filter(_.get("site").contains(site))

  /** The `key=value` fields of the `event` lines. */
  def events(lines: Seq[String], event: String): Seq[Map[String, String]] =
    lines.map(_.split(" ").map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap)
      .filter(_.get("event").contains(event))
}

class PinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def persistent = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a scope releases every pin on normal exit and when its body throws; the result stays readable") {
    val before = persistent
    val a = spark.range(1000).toDF("id")
    val b = spark.range(50).select(($"id" * 2).as("id"))
    val out = Pin.scope { pin =>
      val pa = pin(a, "spec.a")
      val pb = pin(b, "spec.b")
      assert(pa.count() == 1000 && pb.count() == 50)
      assert(a.storageLevel != StorageLevel.NONE && b.storageLevel != StorageLevel.NONE)
      pa.join(pb, "id")
    }
    assert(a.storageLevel == StorageLevel.NONE && b.storageLevel == StorageLevel.NONE)
    // only the result's own local checkpoint stays
    val checkpoint = out.queryExecution.logical.collect { case l: LogicalRDD => l.rdd.id }.toSet
    assert(persistent.diff(before) == checkpoint, "a pin outlived its scope")
    assert(out.as[Long].collect().sorted.toSeq == (0L until 100L by 2L))

    val c = spark.range(10).toDF("id")
    val e = intercept[IllegalStateException](Pin.scope { pin =>
      pin(c, "spec.c").count()
      throw new IllegalStateException("guard")
    })
    assert(e.getMessage == "guard")
    assert(c.storageLevel == StorageLevel.NONE)
    assert(persistent.diff(before) == checkpoint, "a throwing body leaked its pin")
  }

  test("each released-pin line reports only its own pin's bytes") {
    val small = spark.range(10).toDF("id")
    val large = spark.range(200000).select($"id", ($"id" * 3).as("x"))
    var stored = Map.empty[Int, Long]
    val (_, lines) = PinLog.capture(Pin.scope { pin =>
      val before = persistent
      pin(small, "spec.small").count()
      pin(large, "spec.large").count()
      stored = spark.sparkContext.getRDDStorageInfo
        .filter(i => !before.contains(i.id)).map(i => i.id -> (i.memSize + i.diskSize)).toMap
      small
    })
    def bytes(site: String): Long = {
      val ev = PinLog.events(lines, "pin.release", site)
      assert(ev.size == 1, lines.mkString("\n"))
      ev.head("mem").toLong + ev.head("disk").toLong
    }
    assert(stored.size == 2, s"expected two cached RDDs, got $stored")
    val (s, l) = (bytes("spec.small"), bytes("spec.large"))
    assert(s > 0 && s < l, s"small=$s large=$l")
    assert(Set(s, l) == stored.values.toSet, s"lines $s/$l vs cached $stored")
  }

  test("the size gate applies the heap ceiling below the conf cap, and an unknown estimate never pins") {
    val heapCap = Runtime.getRuntime.maxMemory() / 512
    val rows = heapCap / 8 // spark.range estimates 8 bytes per row
    spark.conf.set(Pin.MaxBytesConf, Long.MaxValue.toString)
    try {
      assert(Pin.fits(spark.range(rows - 1).toDF(), 1L, "spec.gate"))
      assert(!Pin.fits(spark.range(rows + 1).toDF(), 1L, "spec.gate"), "heap ceiling ignored")
      assert(!Pin.fits(spark.range(rows / 2 + 1).toDF(), 2L, "spec.gate"), "blow-up ignored")
      val unknown = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Tuple1(1L))))
      assert(!Pin.fits(unknown, 1L, "spec.gate"), "an unknown estimate pinned")
    } finally spark.conf.unset(Pin.MaxBytesConf)
    spark.conf.set(Pin.MaxBytesConf, "80")
    try {
      val (fit, lines) = PinLog.capture(Pin.fits(spark.range(10).toDF(), 1L, "spec.conf"))
      assert(fit && !Pin.fits(spark.range(11).toDF(), 1L, "spec.conf"))
      assert(PinLog.events(lines, "pin.fits", "spec.conf") ==
        Seq(Map("event" -> "pin.fits", "site" -> "spec.conf", "pin" -> "true",
          "est" -> "80", "blowUp" -> "1", "cap" -> "80")))
    } finally spark.conf.unset(Pin.MaxBytesConf)
  }
}
