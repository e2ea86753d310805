package graft.catalog

import graft.SparkTestSession
import graft.core._
import graft.kv.KeyValueTable
import org.apache.spark.sql.functions._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Manifest forward-compat: a manifest written before segmentRates /
  * namedCuts / lastScaleAt / attributes existed must still deserialize
  * with defaults — catalog schema evolution must never strand a stream.
  * The same holds for key-value chains written as full state per commit,
  * before delta records and the v0 identity record.
  */
class ManifestCompatSpec extends AnyFunSuite {

  test("older manifest JSON without newer fields reads with defaults") {
    val root = Files.createTempDirectory("graft-compat")
    val metaDir = root.resolve("sc/old/_meta")
    Files.createDirectories(metaDir)
    val oldJson =
      """{"scope":"sc","name":"old",
        |"config":{"initialSegments":2,"targetRatePerSegment":0,"scaleFactor":2,
        |          "minSegments":1,"retentionMillis":0,"retentionMaxRows":0},
        |"version":0,"createdAt":1700000000000,"isSealed":false,"tags":[],
        |"epochs":[{"epoch":0,"segmentIds":[0,1],"createdAt":1700000000000}],
        |"segments":[
        |  {"segmentId":0,"keyLow":0.0,"keyHigh":0.5,"startOffset":0,"tailOffset":10,
        |   "isSealed":false,"parents":[],"createdAt":1700000000000},
        |  {"segmentId":1,"keyLow":0.5,"keyHigh":1.0,"startOffset":0,"tailOffset":5,
        |   "isSealed":false,"parents":[],"createdAt":1700000000000}],
        |"files":[],"headCut":{},"transactions":{},"writerMarks":{},"writerBatches":{}}
        |""".stripMargin.replace("\n", "")
    Files.write(metaDir.resolve("manifest-000000000000.json"),
      oldJson.getBytes(StandardCharsets.UTF_8))

    val cat = new StreamCatalog(root.toString)
    val meta = cat.getStream("sc", "old")
    assert(meta.segments.size == 2)
    assert(meta.segmentRates.isEmpty)
    assert(meta.namedCuts.isEmpty)
    assert(meta.lastScaleAt == 0L)
    assert(meta.segments.forall(_.attributes.isEmpty))
    assert(meta.tailCut.positions == Map(0L -> 10L, 1L -> 5L))
    // and it can be updated by current code
    val updated = cat.update("sc", "old")(m => m.copy(tags = m.tags + "migrated"))
    assert(updated.version == 1L && updated.tags == Set("migrated"))
  }

  test("a full-state KV chain without a v0 record reads, takes delta commits, GCs and audits clean") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val root = Files.createTempDirectory("graft-compat-kv")
    val table = root.resolve("t")
    val metaDir = table.resolve("_meta")
    Files.createDirectories(metaDir)
    // one part index, so each legacy directory is one `part-00000` file
    def dataDir(name: String, rows: (String, String, Long)*): String = {
      val dir = table.resolve(name).toString
      rows.toDF("pk", "v", "version")
        .select(lit(0L).as("bucket"), $"pk", lit("").as("sk"), encode($"v", "UTF-8").as("value"),
          lit("PUT").as("op"), $"version")
        .coalesce(1).write.parquet(dir)
      dir
    }
    val d1 = dataDir("delta-1-a", ("a", "1", 1L), ("b", "2", 1L))
    val d2 = dataDir("delta-2-b", ("a", "10", 2L))
    val b3 = dataDir("base-2-c", ("a", "10", 2L), ("b", "2", 1L))
    val now = System.currentTimeMillis()
    val (t1, t2, t3) = (now - 30000L, now - 20000L, now - 10000L)
    def file(p: String, kind: String, v: Long) = s"""{"path":"$p","kind":"$kind","commitVersion":$v}"""
    // v1 predates commit stamps and incarnations; v3 is a compaction whose
    // replaced directories wait as pending deletes
    val chain = Seq(
      s"""{"name":"t","partitionCount":1,"version":1,"files":[${file(d1, "delta", 1)}],
         |"pendingDeletes":[]}""",
      s"""{"name":"t","partitionCount":1,"version":2,
         |"files":[${file(d1, "delta", 1)},${file(d2, "delta", 2)}],"pendingDeletes":[],
         |"committedAt":$t2,"incarnation":""}""",
      s"""{"name":"t","partitionCount":1,"version":3,"files":[${file(b3, "base", 2)}],
         |"pendingDeletes":[{"path":"$d1","notBefore":${now + 3600000L}},
         |{"path":"$d2","notBefore":${now + 3600000L}}],"committedAt":$t3,"incarnation":""}""")
    chain.zipWithIndex.foreach { case (json, i) =>
      val p = metaDir.resolve(f"manifest-${i + 1}%012d.json")
      Files.write(p, json.stripMargin.replace("\n", "").getBytes(StandardCharsets.UTF_8))
    }
    Files.setLastModifiedTime(metaDir.resolve(f"manifest-${1}%012d.json"),
      java.nio.file.attribute.FileTime.fromMillis(t1))
    def state(t: KeyValueTable, v: Option[Long] = None): Map[String, String] =
      v.fold(t.entries())(t.entriesAt).select($"pk", decode($"value", "UTF-8")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    def kind(v: Long): String =
      JsonMethods.parse(new String(Files.readAllBytes(metaDir.resolve(f"manifest-$v%012d.json")),
        StandardCharsets.UTF_8)) \ "kind" match {
        case org.json4s.JString(k) => k
        case _ => "legacy-full"
      }

    val t = new KeyValueTable(spark, root.toString, "t", partitionCount = 1)
    // reads, as-of reads and TIMESTAMP AS OF at legacy versions
    assert(t.currentVersion == 3L)
    assert(t.get("a").map(p => (new String(p._1), p._2)).contains(("10", 2L)))
    assert(state(t) == Map("a" -> "10", "b" -> "2"))
    assert(state(t, Some(1L)) == Map("a" -> "1", "b" -> "2"))
    assert(state(t, Some(2L)) == Map("a" -> "10", "b" -> "2"))
    assert(t.versionAtTime(t1 + 1L).contains(1L))
    assert(t.versionAtTime(t2 + 1L).contains(2L))
    assert(t.versionAtTime(now).contains(3L))
    assert(t.versionAtTime(t1 - 1000L).isEmpty)
    assert(t.fsck().isEmpty, t.fsck().mkString("; "))
    assert(!Files.exists(metaDir.resolve(f"manifest-${0}%012d.json")))

    // new commits land as delta records on top; the first one writes the
    // v0 identity record, carrying the legacy records' incarnation
    val vs = (1 to 3).map(i => t.put(Seq(s"c$i" -> s"$i").toDF("pk", "v")
      .select($"pk", lit("").as("sk"), encode($"v", "UTF-8").as("value"))))
    assert(vs == Seq(4L, 5L, 6L))
    assert(vs.forall(v => kind(v) == ManifestRecord.Delta), vs.map(kind))
    assert(kind(0L) == ManifestRecord.Full)
    assert(t.incarnation == "")
    val fresh = new KeyValueTable(spark, root.toString, "t", partitionCount = 1)
    assert(state(fresh) == Map("a" -> "10", "b" -> "2", "c1" -> "1", "c2" -> "2", "c3" -> "3"))
    assert(fresh.manifestAt(None).pendingDeletes.map(_.path) == Seq(d1, d2))
    assert(state(fresh, Some(3L)) == Map("a" -> "10", "b" -> "2"))

    // GC retires past the legacy range; retained versions still read
    assert(fresh.gcManifests(keepVersions = 2) == Seq(1L, 2L, 3L))
    assert(fresh.manifestFloor == 4L)
    val cold = new KeyValueTable(spark, root.toString, "t", partitionCount = 1)
    assert(state(cold, Some(4L)) == Map("a" -> "10", "b" -> "2", "c1" -> "1"))
    assert(state(cold).size == 5)
    assert(cold.fsck().isEmpty, cold.fsck().mkString("; "))
  }
}
