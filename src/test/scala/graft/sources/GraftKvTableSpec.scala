package graft.sources

import graft.SparkTestSession
import graft.catalog.{KvTableConfig, StreamCatalog}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** SQL read surface for KV tables (GraftKvTable): resolution through the
  * catalog, co-located per-part-index scan correctness vs the API path,
  * VERSION AS OF, the fromVersion/toVersion delta feed, column pruning
  * reaching parquet, DDL visibility, and the rejection surface (writes /
  * TRUNCATE / streaming / TIMESTAMP AS OF).
  */
object GraftKvTableSpec {
  /** The KV scan under a DataFrame's executed plan. */
  def kvScan(df: org.apache.spark.sql.DataFrame): GraftKvScan = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def find(p: org.apache.spark.sql.execution.SparkPlan): Option[BatchScanExec] =
      p match {
        case b: BatchScanExec => Some(b)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          find(a.executedPlan)
        case other => other.children.view.flatMap(find(_)).headOption
      }
    find(df.queryExecution.executedPlan)
      .getOrElse(throw new AssertionError("no BatchScanExec in plan:\n" +
        df.queryExecution.executedPlan.toString))
      .scan.asInstanceOf[GraftKvScan]
  }
}

class GraftKvTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Fresh root with a registered kvt: commit 1 puts k00..k59, commit 2
    * overwrites %3==0, commit 3 removes %5==0; catalog registered under
    * a root-derived name.
    */
  private def mk(partitions: Int = 4): (String, String, graft.kv.KeyValueTable) = {
    val work = Files.createTempDirectory("graft-kvtbl").toString
    val sc = new StreamCatalog(work)
    sc.createScope("s")
    sc.createKeyValueTable("s", "t", KvTableConfig(partitionCount = partitions))
    val t = sc.openKeyValueTable(spark, "s", "t")
    val base = spark.range(60).select(
      format_string("k%02d", $"id").as("pk"), lit("").as("sk"), $"id")
    t.put(base.select($"pk", $"sk", encode($"id".cast("string"), "UTF-8").as("value")))
    t.put(base.filter($"id" % 3 === 0)
      .select($"pk", $"sk", encode(concat(lit("u"), $"id".cast("string")), "UTF-8").as("value")))
    t.remove(base.filter($"id" % 5 === 0).select($"pk", $"sk"))
    val cat = "gkvt" + org.apache.commons.codec.digest.DigestUtils
      .md5Hex(work).substring(0, 8)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.rootDir", work)
    (cat, work, t)
  }

  test("resolved SELECT equals the API path; tombstones dropped") {
    val (cat, _, t) = mk()
    val sql = spark.sql(s"SELECT pk, decode(value,'UTF-8') AS v, version FROM $cat.s.t")
      .orderBy("pk").collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val api = t.entries()
      .select($"pk", decode($"value", "UTF-8"), $"version")
      .orderBy("pk").collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(sql.length == 48 && sql.sameElements(api)) // 60 - 12 removed
    // removed keys absent, overwritten keys carry v2
    assert(!sql.exists(_._1 == "k05"))
    assert(sql.find(_._1 == "k03").get == (("k03", "u3", 2L)))
    assert(sql.find(_._1 == "k01").get == (("k01", "1", 1L)))
  }

  test("TIMESTAMP AS OF resolves from manifest commit stamps") {
    val (cat, root, t) = mk()
    // the commit stamps are the authority: an instant at commit 2's own
    // stamp must yield exactly the VERSION AS OF 2 state
    val t2 = new StreamCatalog(root).openKeyValueTable(spark, "s", "t")
      .manifestAt(Some(2L)).committedAt
    assert(t2 > 0L, "commit stamp missing from KV manifest")
    val byTime = spark.sql(
      s"SELECT pk, version FROM $cat.s.t TIMESTAMP AS OF timestamp_millis(${t2}L)")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byTime.size == 60 && byTime("k05") == 1L && byTime("k03") == 2L)
    // an instant far in the future resolves to the latest commit
    val late = spark.sql(
      s"SELECT pk FROM $cat.s.t TIMESTAMP AS OF timestamp_millis(${t2 + 3600000L}L)")
    assert(late.count() == 48L)
    // API twin: versionAtTime mirrors StreamCatalog semantics
    assert(t.versionAtTime(t2).contains(2L))
    assert(t.versionAtTime(0L).isEmpty)
  }

  test("VERSION AS OF pins the historical manifest; bad version fails at resolution") {
    val (cat, _, t) = mk()
    val asof = spark.sql(s"SELECT pk, version FROM $cat.s.t VERSION AS OF 2")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(asof.size == 60, "pre-remove state has every key")
    assert(asof("k05") == 1L && asof("k03") == 2L)
    assert(spark.sql(s"SELECT pk FROM $cat.s.t VERSION AS OF 1").count() == 60L)
    val e = intercept[Exception](spark.sql(s"SELECT * FROM $cat.s.t VERSION AS OF 99"))
    assert(e.getMessage.contains("no commit 99"), e.getMessage)
    // API twin agreement at v2
    assert(t.entriesAt(2L).count() == 60L)
  }

  test("fromVersion/toVersion delta feed matches deltaSince; floor prunes dirs") {
    val (cat, _, t) = mk()
    val feed = spark.read.option("fromVersion", "1").table(s"$cat.s.t")
      .select($"pk", $"op", $"version").orderBy("version", "pk").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val api = t.deltaSince(1L)
      .select($"pk", $"op", $"version").orderBy("version", "pk").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(feed.sameElements(api) && feed.count(_._2 == "REMOVE") == 12)
    // bounded window (1, 2]: only the overwrites
    val bounded = spark.read.option("fromVersion", "1").option("toVersion", "2")
      .table(s"$cat.s.t").select($"op").distinct().as[String].collect()
    assert(bounded.toSeq == Seq("PUT"))
    // plan-time dir pruning: from=2 leaves only the remove commit's dir
    val scan = spark.read.option("fromVersion", "2").table(s"$cat.s.t")
    assert(scan.count() == 12L)
  }

  test("column pruning reaches parquet: value bytes unread when unrequested") {
    val (cat, _, _) = mk()
    val df = spark.sql(s"SELECT count(*) AS n FROM $cat.s.t")
    assert(df.as[Long].head() == 48L)
    val read = GraftKvTableSpec.kvScan(df).parquetReadSchema.fieldNames.toSeq
    assert(read == Seq("pk", "sk", "op", "version"),
      s"value column should be pruned from the parquet read; read=$read")
  }

  test("DDL surface: SHOW TABLES lists it, EXISTS, DROP deletes it") {
    val (cat, root, _) = mk()
    val listed = spark.sql(s"SHOW TABLES IN $cat.s").select("tableName")
      .as[String].collect().toSet
    assert(listed.contains("t"))
    assert(spark.catalog.tableExists(s"$cat.s.t"))
    spark.sql(s"DROP TABLE $cat.s.t")
    assert(!new StreamCatalog(root).keyValueTableExists("s", "t"))
  }

  test("rejection surface: writes, TRUNCATE, streaming, TIMESTAMP AS OF") {
    val (cat, _, _) = mk()
    intercept[Exception](
      spark.sql(s"INSERT INTO $cat.s.t VALUES (0, 'x', '', NULL, 'PUT', 9)"))
    intercept[Exception](spark.sql(s"TRUNCATE TABLE $cat.s.t"))
    intercept[Exception] {
      // capability check fires at stream start (analysis), not at table()
      spark.readStream.table(s"$cat.s.t").writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-kvtbl-ck").toString)
        .start().stop()
    }
    // TIMESTAMP AS OF is supported (see the dedicated test) but a
    // pre-creation instant resolves to no commit and fails loudly
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.s.t TIMESTAMP AS OF '2001-01-01'").collect())
    assert(e.getMessage.contains("no commit at or before"), e.getMessage)
    // delta feed and AS OF are mutually exclusive
    val e2 = intercept[Exception](
      spark.read.option("fromVersion", "1").option("asOfVersion", "2")
        .table(s"$cat.s.t").collect())
    assert(e2.getMessage.contains("mutually exclusive"), e2.getMessage)
  }

  test("resolved reader fails loudly, naming partitionCount, when a " +
    "partition's working set exceeds the budget") {
    val (cat, _, _) = mk(partitions = 2)
    // a budget far below the ~60-key working set trips the guard
    val e = intercept[Exception](
      spark.read.option("resolvedBudgetBytes", "256")
        .table(s"$cat.s.t").collect())
    val msg = Option(e.getCause).fold(e.getMessage)(c => e.getMessage + c.getMessage)
    assert(msg.contains("partitionCount"), s"remedy not named: $msg")
    assert(msg.contains("resolvedBudgetBytes"), s"override knob not named: $msg")
    // the default budget is far above the test table: same read succeeds
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.s.t").as[Long].head() == 48L)
  }

  test("the resolved fold holds only pushed pk literals: a budget too small " +
    "for the part index resolves one key, and fails loudly without the key filter") {
    val (cat, _, t) = mk(partitions = 1) // all 48 live keys at one part index
    def read = spark.read.option("resolvedBudgetBytes", "1024").table(s"$cat.s.t")
    val one = read.filter($"pk" === "k03").select($"pk", decode($"value", "UTF-8"), $"version")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(one == Seq(("k03", "u3", 2L)))
    assert(read.filter($"pk".isin("k01", "k03", "k05")).count() == 2L) // k05 is removed
    val e = intercept[Exception](read.collect())
    val msg = Option(e.getCause).fold(e.getMessage)(c => e.getMessage + c.getMessage)
    assert(msg.contains("partitionCount") && msg.contains("resolvedBudgetBytes"), msg)
    assert(t.get("k03").map(p => new String(p._1)) == Some("u3"))
  }

  test("a null sk reads as \"\" on every surface: get, getAll, entries, SQL") {
    val (cat, _, t) = mk()
    t.put(Seq(("nul", "n1")).toDF("pk", "v")
      .select($"pk", lit(null).cast("string").as("sk"), encode($"v", "UTF-8").as("value")))
    val v = t.currentVersion
    assert(t.get("nul").map(p => (new String(p._1), p._2)) == Some(("n1", v)))
    val multi = t.getAll(Seq(("nul", ""))).select($"sk", $"version").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(multi.toSeq == Seq(("", v)))
    def skOf(df: org.apache.spark.sql.DataFrame) =
      df.filter($"pk" === "nul").select($"sk").as[String].collect().toSeq
    assert(skOf(t.entries()) == Seq(""))
    assert(skOf(spark.sql(s"SELECT pk, sk FROM $cat.s.t")) == Seq(""))
    // the delta feed carries the stored (normalized) sk too
    assert(skOf(t.deltaSince(v - 1)) == Seq(""))
    // and an explicit "" addresses the same key: remove hides it everywhere
    t.remove(Seq(("nul", "")).toDF("pk", "sk"))
    assert(t.get("nul").isEmpty && skOf(t.entries()).isEmpty &&
      skOf(spark.sql(s"SELECT pk, sk FROM $cat.s.t")).isEmpty)
  }

  test("resolution survives compaction and stays SQL-visible") {
    val (cat, _, t) = mk(partitions = 3)
    val before = spark.sql(s"SELECT pk, decode(value,'UTF-8') AS v FROM $cat.s.t")
      .orderBy("pk").collect().map(r => (r.getString(0), r.getString(1)))
    t.compact()
    val after = spark.sql(s"SELECT pk, decode(value,'UTF-8') AS v FROM $cat.s.t")
      .orderBy("pk").collect().map(r => (r.getString(0), r.getString(1)))
    assert(after.sameElements(before))
  }
}
