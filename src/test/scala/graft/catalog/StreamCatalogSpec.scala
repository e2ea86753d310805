package graft.catalog

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class StreamCatalogSpec extends AnyFunSuite {
  private def freshCatalog(): StreamCatalog =
    new StreamCatalog(Files.createTempDirectory("graft-cat").toString)

  test("scope + stream DDL lifecycle") {
    val c = freshCatalog()
    assert(c.listScopes().isEmpty)
    c.createScope("s1")
    assert(c.scopeExists("s1") && c.listScopes() == Seq("s1"))

    val meta = c.createStream("s1", "st", StreamConfig(initialSegments = 4), tags = Set("hot"))
    assert(meta.segments.size == 4 && meta.currentEpoch.epoch == 0)
    assert(meta.segments.map(_.segmentId) == (0 until 4).map(SegmentId.pack(0, _)))
    assert(c.listStreams("s1") == Seq("st"))
    assert(c.listStreamsByTag("s1", "hot") == Seq("st"))
    assert(c.listStreamsByTag("s1", "cold").isEmpty)
    assertThrows[GraftException](c.createStream("s1", "st"))

    // delete requires seal first
    assertThrows[GraftException](c.deleteStream("s1", "st"))
    c.sealStream("s1", "st")
    assert(c.getStream("s1", "st").isSealed)
    c.deleteStream("s1", "st")
    assert(!c.streamExists("s1", "st"))

    // non-empty scope delete needs recursive
    c.createStream("s1", "st2")
    assertThrows[GraftException](c.deleteScope("s1"))
    c.deleteScope("s1", recursive = true)
    assert(!c.scopeExists("s1"))
  }

  test("updateStream: live policy update keeps layout, rejects sealed/invalid") {
    val c = freshCatalog()
    c.createScope("s")
    val created = c.createStream("s", "x",
      StreamConfig(initialSegments = 4, targetRatePerSegment = 0, retentionMaxRows = 0))

    val updated = c.updateStream("s", "x",
      created.config.copy(targetRatePerSegment = 100, retentionMaxRows = 5000, minSegments = 2))
    assert(updated.config.targetRatePerSegment == 100)
    assert(updated.config.retentionMaxRows == 5000)
    assert(updated.config.minSegments == 2)
    // creation-time layout is immutable: segment set and initialSegments stay
    assert(updated.config.initialSegments == 4)
    assert(updated.segments == created.segments)
    assert(updated.version > created.version)

    // tags update surface
    assert(c.updateStreamTags("s", "x", Set("prod")).tags == Set("prod"))

    assertThrows[IllegalArgumentException](
      c.updateStream("s", "x", created.config.copy(minSegments = 0)))
    c.sealStream("s", "x")
    assertThrows[GraftException](
      c.updateStream("s", "x", created.config.copy(targetRatePerSegment = 5)))
  }

  test("CAS update: concurrent writers conflict and retry (ConditionalAppend analog)") {
    val c = freshCatalog()
    c.createScope("s")
    c.createStream("s", "x")
    // two logical writers bump tags; both succeed via retry, versions strictly increase
    val r1 = c.update("s", "x")(m => m.copy(tags = m.tags + "a"))
    val r2 = c.update("s", "x")(m => m.copy(tags = m.tags + "b"))
    assert(r2.version == r1.version + 1)
    assert(c.getStream("s", "x").tags == Set("a", "b"))
  }

  test("truncate raises head cut monotonically") {
    val c = freshCatalog()
    c.createScope("s")
    c.createStream("s", "t", StreamConfig(initialSegments = 2))
    val s0 = SegmentId.pack(0, 0)
    c.truncateStream("s", "t", StreamCut(Map(s0 -> 5L)))
    assert(c.getStream("s", "t").headCut(s0) == 5L)
    // lower cut does not regress the head
    c.truncateStream("s", "t", StreamCut(Map(s0 -> 3L)))
    assert(c.getStream("s", "t").headCut(s0) == 5L)
  }

  test("sweepDeletes keeps the tombstone of a file whose delete throws") {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.delfail.impl", classOf[DeleteFailFs].getName)
    val dir = Files.createTempDirectory("graft-cat-sweep").toString
    val c = new StreamCatalog("delfail://" + dir, conf)
    c.createScope("s")
    c.createStream("s", "t")
    val paths = Seq("keep", "gone").map { n =>
      val p = java.nio.file.Paths.get(dir, s"$n.parquet")
      Files.write(p, Array[Byte](1))
      p.toString
    }
    c.update("s", "t")(m => m.copy(pendingDeletes = paths.map(PendingDelete(_, 0L))))
    DeleteFailFs.failing = paths.head
    try assert(c.sweepDeletes("s", "t") == Seq(paths(1)))
    finally DeleteFailFs.failing = ""
    assert(c.getStream("s", "t").pendingDeletes.map(_.path) == Seq(paths.head),
      "a failed delete must keep its tombstone")
    assert(Files.exists(java.nio.file.Paths.get(paths.head)))
    // the next sweep retries it
    assert(c.sweepDeletes("s", "t") == Seq(paths.head))
    assert(c.getStream("s", "t").pendingDeletes.isEmpty)
  }

  test("getStream on missing stream raises NoSuchStream") {
    val c = freshCatalog()
    c.createScope("s")
    assertThrows[NoSuchStreamException](c.getStream("s", "nope"))
  }

  test("key-value table manager: create/list/exists/delete round trip") {
    val c = freshCatalog()
    c.createScope("s")
    assert(c.listKeyValueTables("s").isEmpty)
    assertThrows[IllegalArgumentException](c.createKeyValueTable("nope", "t"))

    assert(c.createKeyValueTable("s", "t1", KvTableConfig(partitionCount = 4)))
    assert(c.createKeyValueTable("s", "t2"))
    // second create of the same table: false, config untouched
    assert(!c.createKeyValueTable("s", "t1", KvTableConfig(partitionCount = 99)))
    assert(c.getKeyValueTableConfig("s", "t1") == KvTableConfig(4))
    assert(c.getKeyValueTableConfig("s", "t2") == KvTableConfig(16))

    assert(c.listKeyValueTables("s") == Seq("t1", "t2"))
    assert(c.keyValueTableExists("s", "t1") && !c.keyValueTableExists("s", "zz"))

    // KVT namespace is disjoint from the stream namespace
    c.createStream("s", "st")
    assert(c.listStreams("s") == Seq("st"))
    assert(c.listKeyValueTables("s") == Seq("t1", "t2"))

    assert(c.deleteKeyValueTable("s", "t1"))
    assert(!c.deleteKeyValueTable("s", "t1"))
    assert(c.listKeyValueTables("s") == Seq("t2"))
    assertThrows[NoSuchStreamException](c.getKeyValueTableConfig("s", "t1"))
    assertThrows[IllegalArgumentException](
      c.createKeyValueTable("s", "bad", KvTableConfig(partitionCount = 0)))

    // a scope holding only KV tables is NOT empty — non-recursive delete
    // must refuse (non-empty-scope rejection covers both child kinds)
    val c2 = freshCatalog()
    c2.createScope("kv-only")
    c2.createKeyValueTable("kv-only", "t")
    assertThrows[GraftException](c2.deleteScope("kv-only"))
    assert(c2.deleteScope("kv-only", recursive = true))

    // losing the create race surfaces as created=false, never an exception
    val racers = (1 to 8).map { _ =>
      new Thread { var won = false; override def run(): Unit =
        won = c.createKeyValueTable("s", "raced") }
    }
    racers.foreach(_.start()); racers.foreach(_.join())
    assert(racers.count(_.won) == 1, "exactly one racer must win the create")
  }

  test("key-value table manager: open uses the persisted creation-time layout") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val c = freshCatalog()
    c.createScope("s")
    c.createKeyValueTable("s", "t", KvTableConfig(partitionCount = 4))
    val t = c.openKeyValueTable(spark, "s", "t")
    assert(t.partitionCount == 4)
    t.insert(Seq("a" -> "1", "b" -> "2").toDF("pk", "v")
      .select($"pk", lit("").as("sk"), encode($"v", "UTF-8").as("value")))
    // a re-open sees the same table state without re-stating the layout
    val t2 = c.openKeyValueTable(spark, "s", "t")
    assert(t2.partitionCount == 4)
    assert(t2.get("a").map(p => new String(p._1)).contains("1"))
    assert(c.deleteKeyValueTable("s", "t"))
    assert(!c.keyValueTableExists("s", "t"))
  }
}

/** Local FS (`delfail://`) whose `delete` throws for one chosen path. */
class DeleteFailFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "delfail"
  override def getUri: java.net.URI = java.net.URI.create("delfail:///")
  override def delete(f: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
    if (f.toUri.getPath == DeleteFailFs.failing) throw new java.io.IOException(s"injected: $f")
    else super.delete(f, recursive)
}

object DeleteFailFs {
  @volatile var failing = ""
}
