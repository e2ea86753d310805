package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** Spark jobs started while a body runs, as a listener sees them. */
object SparkJobs {
  def during[T](spark: SparkSession)(body: => T): (T, Long) = {
    val sc = spark.sparkContext
    val jobs = new AtomicLong()
    val marker = s"graft-jobs-marker-${UUID.randomUUID()}"
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == marker)
          markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      // the bus delivers in order: once the marker job is seen, so is
      // every job the body started
      sc.setJobGroup(marker, "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(10, TimeUnit.SECONDS), "marker job never reached the listener")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
