package perfbench

import java.nio.ByteBuffer
import java.nio.file.Paths
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{ForeachWriter, Row}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.catalog.StreamCatalog
import graft.core.StreamConfig
import graft.storage.GraftStreams

/** One event as the tail reader's sink saw it. */
final case class Delivery(rep: Int, key: String, seq: Long, dueMs: Long, arrivedMs: Double,
                          epoch: Long, offset: Long)

/** Where the sink tasks leave what they saw (local mode: same JVM). */
object TailSink {
  val deliveries = new ConcurrentLinkedQueue[Delivery]()
  val delivered = new AtomicLong()
}

/** The tail reader's sink: stamps each event's arrival. The payload
  * starts with the event's per-key sequence number and its due time.
  */
final class TailWriter(rep: Int) extends ForeachWriter[Row] {
  private var epoch = -1L
  override def open(partitionId: Long, epochId: Long): Boolean = { epoch = epochId; true }
  override def process(r: Row): Unit = {
    val now = Clock.now()
    val p = ByteBuffer.wrap(r.getAs[Array[Byte]]("payload"))
    TailSink.deliveries.add(Delivery(rep, r.getAs[String]("routingKey"), p.getLong(0), p.getLong(8),
      now, epoch, r.getAs[Long]("offset")))
    TailSink.delivered.incrementAndGet()
  }
  override def close(errorOrNull: Throwable): Unit = ()
}

/** Open loop, one producer: a seeded batch of routing-keyed events is due
  * every `PeriodMs` and appended to a 2-segment stream; one batch in four
  * goes through a transaction. A micro-batch query with the default
  * trigger tails the stream into a `ForeachWriter` sink. This is the
  * producer-plus-tail-reader path: writes run beside reads and compete
  * for the same task slots.
  */
final class IngestTail(ctx: Ctx) extends Workload {
  import ctx._

  private val Scope = "bench"
  private val Stream = "tail"
  private val Keys = 64
  /** About half the producer's capacity with the reader running: a plain
    * append takes about 0.45 s and a transactional one about 1.4 s on 4
    * cores, so a 4-batch cycle needs about 2.8 s of the 5 s it is given.
    */
  private val PeriodMs = 1250.0
  private val TxnEvery = 4
  private val PayloadBytes = 64

  private final case class Batch(no: Int, due: Double, txn: Boolean, events: Array[(Int, Long)]) {
    def userBytes: Long = events.length.toLong * (6 + 8 + PayloadBytes)
  }

  private val rnd = new SplittableRandom(seed)
  private var rep = -1
  private var root: String = _
  private var g: GraftStreams = _
  private var query: StreamingQuery = _
  private var nextSeq = new Array[Long](Keys)
  private var batchNo = 0
  private val acked = ArrayBuffer.empty[(Batch, Boolean)] // (batch, measured)
  private val failures = ArrayBuffer.empty[String]
  private var attempts = 0L
  private val appendMs = ArrayBuffer.empty[Double]
  private val late = ArrayBuffer.empty[Double]
  private val backlog = ArrayBuffer.empty[Double]
  private var deliverMs: Seq[Double] = Nil
  private var cycleS: Seq[Double] = Nil
  private var batchRows: Seq[Map[String, Any]] = Nil
  private var casAtStart = 0L
  private var casLosses = 0L

  private def key(k: Int): String = f"key-$k%02d"

  private def generate(due: Double, txn: Boolean): (Batch, Seq[Gen.Ev]) = {
    val n = 1800 + rnd.nextInt(401)
    val events = Array.fill(n) {
      val k = rnd.nextInt(Keys)
      val s = nextSeq(k); nextSeq(k) += 1
      (k, s)
    }
    val evs = events.toSeq.map { case (k, s) =>
      val p = new Array[Byte](PayloadBytes)
      rnd.nextBytes(p)
      ByteBuffer.wrap(p).putLong(0, s).putLong(8, due.toLong)
      Gen.Ev(key(k), due.toLong, p)
    }
    val b = Batch(batchNo, due, txn, events)
    batchNo += 1
    (b, evs)
  }

  private def append(b: Batch, evs: Seq[Gen.Ev]): Unit = {
    val df = Gen.frame(spark, evs)
    if (b.txn) tracer.span("storage.txn_append", Roles.Primary) {
      val id = tracer.span("storage.begin_txn")(g.beginTxn(Scope, Stream))
      tracer.span("storage.write_to_txn")(g.writeToTxn(Scope, Stream, id, df))
      tracer.span("storage.txn_commit")(g.commitTxn(Scope, Stream, id))
    } else tracer.span("storage.write_events", Roles.Primary)(g.writeEvents(Scope, Stream, df))
  }

  private def ackedEvents: Long = acked.map(_._1.events.length.toLong).sum

  /** Run `count` batches on the open-loop schedule; unmeasured batches
    * (set-up, warm-up) go back to back.
    */
  private def produce(count: Int, measured: Boolean): Unit = {
    val start = Clock.now() + 100
    (0 until count).foreach { i =>
      val due = if (measured) start + i * PeriodMs else Clock.now()
      val (b, evs) = generate(due, i % TxnEvery == TxnEvery - 1)
      val wait = due - Clock.now()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait - wait.toLong) * 1e6).toInt)
      if (measured) late += Clock.now() - due
      attempts += 1
      try {
        append(b, evs)
        if (measured) appendMs += Clock.now() - due
        acked += ((b, measured))
      } catch { case e: Exception => failures += s"append ${b.no} failed: ${e.getMessage}" }
      if (measured) backlog += (ackedEvents - TailSink.delivered.get).toDouble
    }
  }

  private def awaitDelivery(timeoutMs: Double): Boolean = {
    val deadline = Clock.now() + timeoutMs
    while (TailSink.delivered.get < ackedEvents && Clock.now() < deadline) Thread.sleep(5)
    TailSink.delivered.get >= ackedEvents
  }

  override def setup(rep: Int): Unit = {
    // each repetition builds a fresh stream and reader; the last one is measured
    if (query != null) query.stop()
    this.rep = rep
    root = dir(s"ingest-$rep")
    g = new GraftStreams(spark, root)
    g.catalog.createScope(Scope)
    g.catalog.createStream(Scope, Stream, StreamConfig(initialSegments = 2))
    nextSeq = new Array[Long](Keys)
    acked.clear(); attempts = 0; failures.clear()
    TailSink.deliveries.clear(); TailSink.delivered.set(0)
    query = spark.readStream.format("graft-stream")
      .option("rootDir", root).option("scope", Scope).option("stream", Stream).load()
      .writeStream.foreach(new TailWriter(rep))
      .option("checkpointLocation", Paths.get(root, "_checkpoint").toString)
      .start()
    produce(2, measured = false)
    awaitDelivery(60000)
  }

  /** Two whole cycles, so the transactional path is warm too. After one
    * cycle the first measured cycle still ran 5-20% slower than the ones
    * after it.
    */
  override def warm(): Unit = { produce(TxnEvery * 2, measured = false); awaitDelivery(60000) }

  override def measure(seconds: Int): Unit = {
    casAtStart = StreamCatalog.casLosses.sum()
    // whole 4-batch cycles, so one batch in four is transactional
    produce(TxnEvery * Stats.passes(seconds, TxnEvery * PeriodMs / 1000), measured = true)
    casLosses = StreamCatalog.casLosses.sum() - casAtStart
  }

  override def finish(): Seq[String] = {
    if (!awaitDelivery(60000)) failures += s"only ${TailSink.delivered.get} of $ackedEvents acknowledged events delivered"
    // let the last micro-batch commit, so its progress event is posted
    else query.processAllAvailable()
    query.stop()
    val seen = TailSink.deliveries.asScala.filter(_.rep == rep).toSeq
    val batchOf = acked.flatMap { case (b, _) => b.events.map { case (k, s) => (key(k), s) -> b } }.toMap
    val bad = scala.collection.mutable.Set.empty[Int]
    seen.groupBy(d => (d.key, d.seq)).foreach { case (ks, ds) =>
      batchOf.get(ks) match {
        case None => failures += s"delivered an event that was never acknowledged: $ks"
        case Some(b) if ds.size > 1 => bad += b.no
        case _ =>
      }
    }
    val delivered = seen.map(d => (d.key, d.seq)).toSet
    batchOf.foreach { case (ks, b) => if (!delivered(ks)) bad += b.no }
    seen.groupBy(_.key).foreach { case (_, ds) =>
      val inOrder = ds.sortBy(d => (d.epoch, d.offset)).map(_.seq)
      inOrder.zip(inOrder.drop(1)).filter { case (a, b) => b <= a }.foreach { case (_, s) =>
        bad += batchOf.get((ds.head.key, s)).map(_.no).getOrElse(-1) }
    }
    bad.toSeq.sorted.foreach(n => failures += s"batch $n: an event was lost, duplicated or out of key order")

    val measuredBatches = acked.filter(_._2).map(_._1)
    val measuredNos = measuredBatches.map(_.no).toSet
    val arrivals = seen.groupBy(d => (d.key, d.seq)).map { case (ks, ds) => ks -> ds.map(_.arrivedMs).min }
    deliverMs = seen.filter(d => batchOf.get((d.key, d.seq)).exists(b => measuredNos(b.no)))
      .map(d => d.arrivedMs - d.dueMs)
    batchRows = measuredBatches.toSeq.map { b =>
      val at = b.events.toSeq.flatMap { case (k, s) => arrivals.get((key(k), s)) }
      val epochs = seen.filter(d => batchOf.get((d.key, d.seq)).exists(_.no == b.no)).map(_.epoch).distinct.sorted
      Map("no" -> b.no, "txn" -> b.txn, "events" -> b.events.length,
        "first_ms" -> (if (at.isEmpty) -1.0 else at.min - b.due),
        "last_ms" -> (if (at.isEmpty) -1.0 else at.max - b.due), "epochs" -> epochs)
    }
    cycleS = measuredBatches.grouped(TxnEvery).filter(_.size == TxnEvery).map { cyc =>
      val last = cyc.flatMap(b => b.events.flatMap { case (k, s) => arrivals.get((key(k), s)) }).max
      (last - cyc.head.due) / 1000
    }.toSeq
    failures.toSeq
  }

  override def extra: Map[String, Any] = Map("batches" -> batchRows)

  override def attempted: Long = attempts
  override def opCounts: Map[String, Long] = {
    val m = acked.filter(_._2).map(_._1)
    Map("append" -> m.count(!_.txn).toLong, "txn_append" -> m.count(_.txn).toLong)
  }
  override def primaryMs: Seq[Double] = appendMs.toSeq
  override def secondaryMs: Seq[Double] = deliverMs
  override def passS: Seq[Double] = cycleS
  override def lateMs: Seq[Double] = late.toSeq
  override def names: (String, String, String) = ("append", "deliver", "cycle_s")

  private def streamDir = Paths.get(root, Scope, Stream)

  override def storeLayers(rec: Recorded): Map[String, Double] = {
    val appends = Layers.calls(rec).filter(_.span.role == Roles.Primary)
    val userBytes = acked.filter(_._2).map(_._1.userBytes).sum.toDouble
    val data = Layers.triggers(rec)
    val rows = rec.progress.filter(_.numInputRows > 0).map(_.numInputRows.toDouble)
    Map(
      "storage.bytes_written_per_event_byte" ->
        (if (userBytes > 0) appends.flatMap(_.jobs).map(_.outputBytes.toDouble).sum / userBytes else 0.0),
      "catalog.cas_losses" -> casLosses.toDouble,
      "catalog.manifest_versions" -> g.catalog.manifestVersions(Scope, Stream).size.toDouble,
      "catalog.meta_bytes" -> Main.dirBytes(streamDir.resolve("_meta")),
      "sources.triggers" -> data.size.toDouble,
      "sources.rows_per_trigger.p50" -> (if (rows.isEmpty) 0.0 else Stats.median(rows)),
      "sources.backlog_events.max" -> (if (backlog.isEmpty) 0.0 else backlog.max))
  }

  override def report(rec: Option[Recorded], from: Double): Seq[(String, Double, String)] = {
    def p50(name: String) = {
      val xs = tracer.spansNamed(name).filter(_.start >= from).map(_.ms)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val base = Seq(
      ("storage.write_events.p50_ms", p50("storage.write_events"), "ms"),
      ("storage.txn_commit.p50_ms", p50("storage.txn_commit"), "ms"))
    base ++ rec.toSeq.flatMap { r =>
      val calls = Layers.calls(r)
      val writes = calls.filter(_.span.name == "storage.write_events")
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val ps = r.progress.filter(_.numInputRows > 0)
      def phase(k: String) = med(ps.map(_.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)))
      val store = storeLayers(r)
      Seq(
        ("storage.write_events.job_ms", med(writes.map(_.jobMs)), "ms"),
        ("storage.write_events.driver_ms", med(writes.map(_.driverMs)), "ms"),
        ("storage.bytes_written_per_event_byte", store("storage.bytes_written_per_event_byte"), "ratio"),
        ("catalog.cas_losses", store("catalog.cas_losses"), "count"),
        ("catalog.manifest_versions", store("catalog.manifest_versions"), "count"),
        ("catalog.meta_bytes", store("catalog.meta_bytes"), "bytes"),
        ("sources.triggers", store("sources.triggers"), "count"),
        ("sources.rows_per_trigger.p50", store("sources.rows_per_trigger.p50"), "count"),
        ("sources.trigger.p50_ms", phase("triggerExecution"), "ms"),
        ("sources.latest_offset.p50_ms", phase("latestOffset"), "ms"),
        ("sources.query_planning.p50_ms", phase("queryPlanning"), "ms"),
        ("sources.add_batch.p50_ms", phase("addBatch"), "ms"),
        ("sources.wal_commit.p50_ms", phase("walCommit"), "ms"),
        ("sources.commit_offsets.p50_ms", phase("commitOffsets"), "ms"),
        ("sources.backlog_events.max", store("sources.backlog_events.max"), "count"))
    }
  }
}
