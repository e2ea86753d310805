package graft.catalog

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** Manifest-log retention under CONCURRENCY (the crash seams are covered
  * by ManifestLogSpec; this suite races the live actors): committers,
  * a warm tailing reader, cold readers doing tip + as-of resolution +
  * TIMESTAMP AS OF, and TWO gc instances with different keepVersions —
  * all simultaneously, on both FS contracts. The invariant under test is
  * structural: every commit appends exactly one file, so ANY state a
  * reader is served must satisfy files.size == version; as-of reads must
  * return exactly the addressed version or fail with the retention /
  * nonexistence contract — never a stale or mixed state. Afterwards the
  * chain must be Fsck-clean and fully readable by a fresh instance. The
  * KV leg races the same actors against one `KeyValueTable`, whose
  * manifests ride the same chain class.
  */
class GcRaceSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  for (contract <- Seq("local", "objectstore")) {
    test(s"[$contract] gc vs committers vs readers vs a second gc") {
      val conf = new org.apache.hadoop.conf.Configuration()
      if (contract == "objectstore")
        conf.set("fs.oscas.impl", classOf[graft.storage.LaggedObjectStoreFs].getName)
      val dir = Files.createTempDirectory(s"graft-gcrace-$contract").toString
      val root = if (contract == "objectstore") "oscas://" + dir else dir
      // pin a real list-after-write lag for the objectstore contract —
      // inheriting whatever a previously-run suite left in the global
      // made the gc × lag double-blind (caught by THIS suite) fire only
      // in some suite orders; the race must always run lagged
      val prevLag = graft.storage.LaggedObjectStoreFs.lagMs
      if (contract == "objectstore") graft.storage.LaggedObjectStoreFs.lagMs = 150L
      try {

      def fe(i: Long): FileEntry =
        FileEntry(0L, s"data/part-$i-${java.util.UUID.randomUUID()}.parquet",
          i * 100L, 100L, 0L, 99L, 1, 1024L)

      val w = new StreamCatalog(root, conf, checkpointInterval = 4)
      w.createScope("s")
      w.createStream("s", "x", StreamConfig(initialSegments = 1))
      for (i <- 1 to 24) w.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
      w.flushCheckpoints()

      val errors = new ConcurrentLinkedQueue[Throwable]()
      val committed = new AtomicLong(24L)
      @volatile var stop = false

      def worker(name: String)(body: => Unit): Thread = {
        val t = new Thread(() => try { while (!stop) body } catch {
          case e: Throwable => errors.add(new RuntimeException(s"[$name] ${e.getMessage}", e))
        }, name)
        t.start(); t
      }

      val threads = Seq(
        // two committers on separate instances: each commit appends ONE
        // file, so files.size == version holds at every committed state
        worker("commit-a") {
          val c = new StreamCatalog(root, conf, checkpointInterval = 4)
          while (!stop) {
            val st = c.update("s", "x")(m => m.copy(files = m.files :+ fe(m.version + 1)))
            committed.set(math.max(committed.get(), st.version))
          }
        },
        worker("commit-b") {
          val c = new StreamCatalog(root, conf, checkpointInterval = 4)
          while (!stop) {
            val st = c.update("s", "x")(m => m.copy(files = m.files :+ fe(m.version + 1)))
            committed.set(math.max(committed.get(), st.version))
          }
        },
        // warm tailing reader: version-monotone, structurally consistent
        worker("tail") {
          val c = new StreamCatalog(root, conf, checkpointInterval = 4)
          var last = 0L
          while (!stop) {
            val st = c.getStream("s", "x")
            assert(st.files.size == st.version.toInt,
              s"tail read v${st.version} with ${st.files.size} files")
            assert(st.version >= last, s"tail went backwards: $last -> ${st.version}")
            last = st.version
          }
        },
        // cold readers: fresh instance every iteration — tip, a sampled
        // as-of inside the retained window, and a TIMESTAMP AS OF "now"
        worker("cold") {
          val rnd = new scala.util.Random(7)
          while (!stop) {
            val c = new StreamCatalog(root, conf, checkpointInterval = 4)
            val tip = c.getStream("s", "x")
            assert(tip.files.size == tip.version.toInt,
              s"cold tip v${tip.version} with ${tip.files.size} files")
            val floor = c.manifestFloor("s", "x")
            val v = math.max(floor, math.max(1L, tip.version - rnd.nextInt(12)))
            try {
              val st = c.getStreamAt("s", "x", v)
              assert(st.version == v && st.files.size == v.toInt,
                s"as-of v$v returned v${st.version}/${st.files.size} files")
            } catch {
              // a concurrent gc may retire v between the floor read and
              // the resolution — the loud retention miss is the contract
              case _: NoSuchStreamException =>
            }
            try {
              val r = c.versionAtTime("s", "x", System.currentTimeMillis())
              assert(r.nonEmpty, "TIMESTAMP AS OF now resolved to nothing")
            } catch { case _: TruncatedDataException => } // raced a deep gc
          }
        },
        // two gc instances with DIFFERENT policies racing each other and
        // everything above; supersession must be silent, floors monotone
        worker("gc-8") {
          val c = new StreamCatalog(root, conf, checkpointInterval = 4)
          var lastFloor = 0L
          while (!stop) {
            try {
              c.flushCheckpoints()
              c.gcManifests("s", "x", keepVersions = 8)
              val f = c.manifestFloor("s", "x")
              assert(f >= lastFloor, s"floor regressed: $lastFloor -> $f")
              lastFloor = f
            } catch { case _: GraftException => } // raced: rerun next tick
            Thread.sleep(5)
          }
        },
        worker("gc-16") {
          val c = new StreamCatalog(root, conf, checkpointInterval = 4)
          while (!stop) {
            try {
              c.flushCheckpoints()
              c.gcManifests("s", "x", keepVersions = 16)
            } catch { case _: GraftException => }
            Thread.sleep(7)
          }
        })

      Thread.sleep(3000)
      stop = true
      threads.foreach(_.join(30000))
      assert(errors.isEmpty, errors.toArray.map(_.toString).mkString("\n"))

      // quiesce: the survivors' invariants from a completely fresh view
      w.flushCheckpoints()
      val fresh = new StreamCatalog(root, conf, checkpointInterval = 4)
      val tip = fresh.getStream("s", "x")
      assert(tip.version >= committed.get())
      assert(tip.files.size == tip.version.toInt)
      val floor = fresh.manifestFloor("s", "x")
      assert(floor > 0L, "gc never advanced the floor during the race")
      // every retained version reconstructs exactly
      for (v <- floor to tip.version)
        assert(fresh.getStreamAt("s", "x", v).files.size == v.toInt, s"as-of v$v")
      // chain/floor integrity as Fsck sees it (synthetic data paths, so
      // only the chain kinds are meaningful)
      val issues = graft.tools.Fsck.checkRoot(root, hadoopConf = Some(conf))
        .map(_.kind).filter(k => k == "manifest-chain" || k == "gc-floor-base")
      assert(issues.isEmpty, issues.mkString("; "))
      } finally graft.storage.LaggedObjectStoreFs.lagMs = prevLag
    }
  }

  for (contract <- Seq("local", "objectstore")) {
    test(s"[$contract] kv: gc vs committers vs readers vs a second gc") {
      val sp = spark
      import sp.implicits._
      val conf = new org.apache.hadoop.conf.Configuration()
      val fsImpl = classOf[graft.storage.LaggedObjectStoreFs].getName
      if (contract == "objectstore") {
        conf.set("fs.oscas.impl", fsImpl)
        sp.sparkContext.hadoopConfiguration.set("fs.oscas.impl", fsImpl)
      }
      val dir = Files.createTempDirectory(s"graft-kvgcrace-$contract").toString
      val root = if (contract == "objectstore") "oscas://" + dir else dir
      val prevLag = graft.storage.LaggedObjectStoreFs.lagMs
      if (contract == "objectstore") graft.storage.LaggedObjectStoreFs.lagMs = 150L
      try {

      def open() = new graft.kv.KeyValueTable(sp, root, "t", partitionCount = 1, hadoopConf = conf)
      // every commit puts ONE new key, so the state at version v holds
      // exactly v keys
      def putKey(t: graft.kv.KeyValueTable, k: String): Long =
        t.put(Seq(k).toDF("pk").select($"pk", org.apache.spark.sql.functions.lit("").as("sk"),
          org.apache.spark.sql.functions.encode($"pk", "UTF-8").as("value")))
      def keysAt(t: graft.kv.KeyValueTable, v: Long): Long = t.entriesAt(v).count()

      val w = open()
      for (i <- 1 to 8) putKey(w, s"seed$i")

      val errors = new ConcurrentLinkedQueue[Throwable]()
      val committed = new AtomicLong(8L)
      @volatile var stop = false

      def worker(name: String)(body: => Unit): Thread = {
        val t = new Thread(() => try { while (!stop) body } catch {
          case e: Throwable => errors.add(new RuntimeException(s"[$name] ${e.getMessage}", e))
        }, name)
        t.start(); t
      }
      def committer(tag: String): Thread = worker(s"commit-$tag") {
        val t = open()
        var n = 0
        while (!stop) {
          n += 1
          // CAS retries exhausted under contention is the commit contract
          try committed.accumulateAndGet(putKey(t, s"$tag$n"), (a, b) => math.max(a, b))
          catch { case _: ConditionalCheckFailedException => }
        }
      }

      val threads = Seq(
        committer("a"),
        committer("b"),
        // warm reader: the tip it is served holds exactly tip keys
        worker("tail") {
          val t = open()
          var last = 0L
          while (!stop) {
            val v = t.currentVersion
            assert(v >= last, s"tail went backwards: $last -> $v")
            last = v
            try assert(keysAt(t, v) == v, s"tail read v$v with ${keysAt(t, v)} keys")
            catch { case _: IllegalArgumentException => } // retired since: the retention miss
          }
        },
        // cold readers: fresh instance every iteration — a sampled as-of
        // inside the retained window and a TIMESTAMP AS OF "now"
        worker("cold") {
          val rnd = new scala.util.Random(7)
          while (!stop) {
            val c = open()
            val tip = c.currentVersion
            val v = math.max(c.manifestFloor, math.max(1L, tip - rnd.nextInt(12)))
            try assert(keysAt(c, v) == v, s"as-of v$v returned ${keysAt(c, v)} keys")
            catch { case _: IllegalArgumentException => } // retired by a concurrent gc
            try assert(c.versionAtTime(System.currentTimeMillis()).nonEmpty,
              "TIMESTAMP AS OF now resolved to nothing")
            catch { case _: TruncatedDataException => } // raced a deep gc
          }
        },
        worker("gc-8") {
          val t = open()
          var lastFloor = 0L
          while (!stop) {
            try {
              t.gcManifests(keepVersions = 8)
              val f = t.manifestFloor
              assert(f >= lastFloor, s"floor regressed: $lastFloor -> $f")
              lastFloor = f
            } catch { case _: GraftException => } // raced: rerun next tick
            Thread.sleep(5)
          }
        },
        worker("gc-16") {
          val t = open()
          while (!stop) {
            try t.gcManifests(keepVersions = 16) catch { case _: GraftException => }
            Thread.sleep(7)
          }
        })

      Thread.sleep(4000)
      stop = true
      threads.foreach(_.join(60000))
      assert(errors.isEmpty, errors.toArray.map(_.toString).mkString("\n"))

      val fresh = open()
      val tip = fresh.currentVersion
      assert(tip >= committed.get())
      assert(fresh.entries().count() == tip)
      val floor = fresh.manifestFloor
      assert(floor > 0L, "gc never advanced the floor during the race")
      for (v <- floor to tip) assert(keysAt(fresh, v) == v, s"as-of v$v")
      assert(fresh.fsck().isEmpty, fresh.fsck().mkString("; "))
      } finally graft.storage.LaggedObjectStoreFs.lagMs = prevLag
    }
  }
}
