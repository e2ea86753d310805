package perfbench

import java.nio.file.Paths
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.catalog.KvTableConfig
import graft.core.ConditionalCheckFailedException
import graft.kv.KeyValueTable
import graft.storage.GraftStreams

/** Closed loop, one client, on a `KeyValueTable` preloaded with a seeded
  * key space. Each block of `Block` operations is a seeded shuffle of 50%
  * point `get`, 35% `put` of a small key batch and 15% `putIfVersion`,
  * checked against the client's model of every key's value and version.
  * Delta files and the full-state manifest grow over the run. This is
  * the KV client path, on the table's own manifest chain, apart from the
  * stream catalog.
  */
final class KvPoint(ctx: Ctx) extends Workload {
  import ctx._

  private val Scope = "bench"
  private val Table = "kv"
  private val KeySpace = 4000
  private val PreloadCommits = 4
  private val ValueBytes = 32
  /** One block: 10 get, 7 put, 3 putIfVersion, of which two expect the
    * model's version and must win and one expects another real version
    * and must be refused.
    */
  private val Block: Seq[String] =
    Seq.fill(10)("get") ++ Seq.fill(7)("put") ++ Seq.fill(2)("put_if_version") :+ "put_if_version_stale"

  private val schema = StructType.fromDDL("pk STRING, sk STRING, value BINARY")
  private val rnd = new SplittableRandom(seed)
  private var root: String = _
  private var kv: KeyValueTable = _
  /** The client's model: key -> (value, version of the commit that wrote it). */
  private val model = mutable.HashMap.empty[String, (Array[Byte], Long)]
  private val failures = ArrayBuffer.empty[String]
  private var attempts = 0L
  private val counts = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val getMs, putMs, blockS, gaps = ArrayBuffer.empty[Double]
  private var rejected, conditional = 0L
  /** User bytes (key plus value) of the measured writes that committed. */
  private var putBytes = 0.0

  private def key(i: Int): String = f"k$i%05d"
  private def value(): Array[Byte] = { val v = new Array[Byte](ValueBytes); rnd.nextBytes(v); v }
  private def frame(kvs: Seq[(String, Array[Byte])]) =
    spark.createDataFrame(java.util.Arrays.asList(kvs.map { case (k, v) => Row(k, "", v) }: _*), schema)

  override def setup(rep: Int): Unit = {
    root = dir(s"kv-$rep")
    val g = new GraftStreams(spark, root)
    g.catalog.createScope(Scope)
    g.catalog.createKeyValueTable(Scope, Table, KvTableConfig())
    kv = g.catalog.openKeyValueTable(spark, Scope, Table)
    model.clear()
    (0 until KeySpace).grouped(KeySpace / PreloadCommits).foreach { ks =>
      val kvs = ks.map(i => key(i) -> value())
      val v = kv.put(frame(kvs))
      kvs.foreach { case (k, x) => model(k) = (x, v) }
    }
  }

  private def timed[T](name: String, role: String, into: ArrayBuffer[Double])(body: => T): T = {
    val t0 = Clock.now()
    try tracer.span(name, role)(body)
    finally into += Clock.now() - t0
  }

  private def op(kind: String, measured: Boolean): Unit = {
    def into(b: ArrayBuffer[Double]) = if (measured) b else ArrayBuffer.empty[Double]
    attempts += 1
    if (measured) counts(kind.stripSuffix("_stale")) += 1
    kind match {
      case "get" =>
        val k = key(rnd.nextInt(KeySpace))
        val got = try Some(timed("kv.get", Roles.Primary, into(getMs))(kv.get(k)))
        catch { case e: Exception => failures += s"get $k failed: ${e.getMessage}"; None }
        got.foreach { r =>
          val (v, ver) = model(k)
          if (!r.exists { case (x, xv) => java.util.Arrays.equals(x, v) && xv == ver })
            failures += s"get $k returned ${r.map(_._2)}, model says version $ver"
        }
      case "put" =>
        val kvs = Seq.fill(1 + rnd.nextInt(8))(key(rnd.nextInt(KeySpace))).distinct.map(_ -> value())
        try {
          val v = timed("kv.put", Roles.Secondary, into(putMs))(kv.put(frame(kvs)))
          kvs.foreach { case (k, x) => model(k) = (x, v) }
          if (measured) putBytes += kvs.map(_._1.length + ValueBytes).sum
        } catch { case e: Exception => failures += s"put failed: ${e.getMessage}" }
      case "put_if_version" | "put_if_version_stale" =>
        val k = key(rnd.nextInt(KeySpace))
        val (_, cur) = model(k)
        // a stale call expects another real version (commit versions start
        // at 1; the API reads -1 as unconditional and 0 as insert-if-absent)
        val expected =
          if (kind == "put_if_version") cur
          else if (cur > 1) 1 + rnd.nextInt((cur - 1).toInt)
          else cur + 1
        val x = value()
        if (measured) conditional += 1
        try {
          val v = timed("kv.put_if_version", Roles.Secondary, into(putMs))(
            kv.putIfVersion(frame(Seq(k -> x)), expected))
          if (expected != cur) failures += s"putIfVersion $k at $expected won, model version is $cur"
          model(k) = (x, v)
          if (measured) putBytes += k.length + ValueBytes
        } catch {
          case _: ConditionalCheckFailedException =>
            if (measured) rejected += 1
            if (expected == cur) failures += s"putIfVersion $k at current version $cur was refused"
          case e: Exception => failures += s"putIfVersion $k failed: ${e.getMessage}"
        }
    }
  }

  private def block(measured: Boolean): Unit = {
    val order = Block.toArray
    for (i <- order.indices.reverse) { // seeded Fisher-Yates shuffle
      val j = rnd.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val t0 = Clock.now()
    var last = Double.NaN
    order.foreach { k =>
      if (measured && !last.isNaN) gaps += Clock.now() - last
      op(k, measured)
      last = Clock.now()
    }
    if (measured) blockS += (Clock.now() - t0) / 1000
  }

  /** One call of each kind, and a second get, before timing starts. */
  override def warm(): Unit =
    Seq("get", "put", "put_if_version", "put_if_version_stale", "get").foreach(op(_, measured = false))

  /** A block takes about 10 s on 4 cores. */
  override def measure(seconds: Int): Unit =
    (0 until Stats.passes(seconds, 10.0)).foreach(_ => block(measured = true))

  override def finish(): Seq[String] = failures.toSeq
  override def attempted: Long = attempts
  override def opCounts: Map[String, Long] = counts.toMap
  override def primaryMs: Seq[Double] = getMs.toSeq
  override def secondaryMs: Seq[Double] = putMs.toSeq
  override def passS: Seq[Double] = blockS.toSeq
  override def lateMs: Seq[Double] = gaps.toSeq
  override def names: (String, String, String) = ("kv_get", "kv_put", "block_s")

  private def metaBytes: Double =
    Main.dirBytes(Paths.get(root, Scope, "_kvt", Table, "_meta"))

  override def storeLayers(rec: Recorded): Map[String, Double] = {
    val puts = Layers.calls(rec).filter(_.span.role == Roles.Secondary)
    val written = puts.flatMap(_.jobs).map(_.outputBytes.toDouble).sum
    Map(
      "storage.bytes_written_per_event_byte" -> (if (putBytes > 0) written / putBytes else 0.0),
      "catalog.manifest_versions" -> kv.currentVersion.toDouble,
      "kv.meta_bytes" -> metaBytes,
      "kv.cas.conflict_ratio" -> (if (conditional > 0) rejected.toDouble / conditional else 0.0))
  }

  override def report(rec: Option[Recorded], from: Double): Seq[(String, Double, String)] =
    rec.toSeq.flatMap { r =>
      val calls = Layers.calls(r)
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val gets = calls.filter(_.span.name == "kv.get")
      val puts = calls.filter(_.span.role == Roles.Secondary)
      val store = storeLayers(r)
      Seq(
        ("kv.get.p50_ms", med(gets.map(_.span.ms)), "ms"),
        ("kv.get.job_ms", med(gets.map(_.jobMs)), "ms"),
        ("kv.get.driver_ms", med(gets.map(_.driverMs)), "ms"),
        ("kv.get.jobs_per_call", gets.map(_.jobs.size.toDouble).sum / math.max(1, gets.size), "count"),
        ("kv.put.p50_ms", med(puts.map(_.span.ms)), "ms"),
        ("kv.put.job_ms", med(puts.map(_.jobMs)), "ms"),
        ("kv.put.driver_ms", med(puts.map(_.driverMs)), "ms"),
        ("kv.cas.conflict_ratio", store("kv.cas.conflict_ratio"), "ratio"),
        ("kv.meta_bytes", store("kv.meta_bytes"), "bytes"))
    }
}
