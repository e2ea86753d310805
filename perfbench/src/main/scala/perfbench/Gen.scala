package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives the same inputs; the
  * program under test sees only what these produce.
  */
object Gen {

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: SplittableRandom, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong)

  private def writeAll(spark: SparkSession, dir: String,
                       tables: Seq[(String, Seq[Row], StructType)]): Unit = {
    // one small write job per table; run them side by side so set-up is
    // not a queue of per-job fixed costs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = tables.map { case (name, rows, schema) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
            .write.mode("overwrite").parquet(s"$dir/$name.parquet")
        })
      }
      fs.foreach(_.get())
    } finally pool.shutdown()
  }

  /** The operator inventory's ten tables (TPC-H-like star schema plus
    * events, documents and embeddings), with the column names and types
    * the inventory queries and their oracle SQL expect. `sf` scales row
    * counts the way the inventory's scale factors do (sf 0.01 = 60k
    * lineitem rows). Timestamps are written without a time zone, as the
    * inventory's tables are. Every table's rows are drawn, so a table's
    * contents do not depend on which tables `only` asks to write.
    */
  def tables(spark: SparkSession, dir: String, seed: Long, sf: Double, only: Set[String]): Unit = {
    val r = new SplittableRandom(seed)
    def n(base: Double): Int = math.max(1, (base * sf).toInt)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLine = 4 * nOrders
    val nEvents = n(1000000); val nDocs = n(50000); val nVecs = n(50000)

    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Row], StructType)]
    def write(name: String, rows: Seq[Row], schema: StructType): Unit = out += ((name, rows, schema))
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", regions.zipWithIndex.map { case (s, i) => Row(i, s) },
      StructType.fromDDL("r_regionkey INT, r_name STRING"))
    write("nation", (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)),
      StructType.fromDDL("n_nationkey INT, n_name STRING, n_regionkey INT"))

    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d",
      r.nextInt(25), money(r, -999.99, 9999.99), segments(r.nextInt(5)))),
      StructType.fromDDL("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"))
    write("supplier", (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d",
      r.nextInt(25), money(r, -999.99, 9999.99))),
      StructType.fromDDL("s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"))

    val adj = Seq("small", "large", "red", "blue", "hot", "cold", "old", "new")
    val noun = Seq("bolt", "gear", "ring", "widget", "rod", "plate", "anvil", "gizmo")
    val types = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    write("part", (0 until nPart).map(i => Row(i.toLong,
      s"${adj(r.nextInt(8))} ${noun(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
      types(r.nextInt(6)), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)),
      StructType.fromDDL("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE"))

    val epoch95 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val status = Seq("F", "O", "P")
    write("orders", (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
      status(r.nextInt(3)), money(r, 1000, 500000), day(r, epoch95, 2404), prios(r.nextInt(5)))),
      StructType.fromDDL("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
        "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"))
    write("lineitem", (0 until nLine).map(_ => Row(r.nextInt(nOrders).toLong,
      r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, 1 + r.nextInt(7),
      (1 + r.nextInt(50)).toDouble, money(r, 900, 105000), r.nextInt(11) / 100.0,
      r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
      day(r, epoch95.plusDays(1), 2498))),
      StructType.fromDDL("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"))

    val evTypes = Seq("view", "click", "purchase", "signup", "error")
    val ev0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val stepMicros = 30L * 86400L * 1000000L / nEvents
    write("events", (0 until nEvents).map { i =>
      val v = r.nextDouble()
      Row(i.toLong, ev0.plusNanos((i * stepMicros + r.nextLong(stepMicros)) * 1000L),
        r.nextInt(150).toLong, evTypes(r.nextInt(5)), math.round((0.01 + v * v * 490) * 100) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }, StructType.fromDDL("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"))

    // Documents: random word sequences; one in twenty is a near-copy of an
    // earlier document, so the dedup queries find real clusters.
    val vocab = Seq("join", "hash", "row", "batch", "scan", "column", "customer", "filter",
      "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value",
      "key", "stream", "window", "a", "spark", "part", "group", "big", "sort", "query",
      "fast", "the")
    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until nDocs).foreach { i =>
      val t =
        if (i > 10 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else Seq.fill(8 + r.nextInt(90))(vocab(r.nextInt(vocab.size))).mkString(" ")
      texts += t
    }
    write("documents", texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, langs(r.nextInt(langs.size)), s"src${i % 20}", t.length.toLong)
    }.toSeq, StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"))

    // Embeddings: ten labelled clusters in 64 dimensions, unit length.
    val dim = 64
    val centroids = Array.fill(10, dim)(r.nextDouble() * 2 - 1)
    write("embeddings", (0 until nVecs).map { i =>
      val label = r.nextInt(10)
      val v = centroids(label).map(c => c + (r.nextDouble() * 2 - 1) * 0.8)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }, StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"))
    writeAll(spark, dir, out.toSeq.filter(t => only(t._1)))
  }

  /** One event as the benchmark generated it. */
  final case class Ev(routingKey: String, eventTime: Long, payload: Array[Byte])

  val eventSchema: StructType =
    StructType.fromDDL("routingKey STRING, eventTime BIGINT, payload BINARY")

  def frame(spark: SparkSession, evs: Seq[Ev]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      evs.map(e => Row(e.routingKey, e.eventTime, e.payload)), 1), eventSchema)
}
