package graft.catalog

import graft.core._
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}

/** The GC floor marker CAS chain, raced WITHOUT any shared lock — the
  * cross-JVM surface distilled. `ManifestChain`'s gc lock serializes gc
  * passes per chain directory IN-PROCESS, which is exactly what used to
  * hide the delete+rename floor window from in-JVM races; every case
  * here uses independent [[FloorChain]] / catalog instances that share
  * NOTHING but the store, on both FS contracts, so the interleavings a
  * second JVM could produce actually happen.
  *
  * Properties pinned:
  *   - floors are monotone under unserialized concurrent advances
  *     (the old window: a slower small-cut gc landing its marker after
  *     a larger-cut gc's deletes regressed the floor);
  *   - a superseded advance reports false (the winner owns the deletes);
  *   - the chain is dense from 1 (every seq exclusively created once);
  *   - there is NO missing-marker instant: a fresh reader under heavy
  *     LIST lag still resolves the exact floor via exact-key probes
  *     (floor-1 is a permanent strong anchor — the base the
  *     gc × list-lag double-blind recovery rests on);
  *   - end to end: two catalog instances with DIFFERENT root aliases
  *     (symlink → distinct gcLocks keys, i.e. genuinely unserialized
  *     gcs) racing different keepVersions never regress the floor and
  *     leave a chain every retained version of which reconstructs.
  */
class FloorChainSpec extends AnyFunSuite {

  private def withContract(contract: String)(body: (org.apache.hadoop.conf.Configuration, String, String) => Unit): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration()
    if (contract == "objectstore")
      conf.set("fs.oscas.impl", classOf[graft.storage.LaggedObjectStoreFs].getName)
    val dir = Files.createTempDirectory(s"graft-floorchain-$contract")
    // a second NAME for the same physical directory: catalog instances
    // opened through it get a DIFFERENT gcLocks key (the key is the
    // chain directory's path), so their gc passes are as unserialized as
    // two separate JVMs'
    val alias = Files.createSymbolicLink(
      dir.getParent.resolve(dir.getFileName.toString + "-alias"), dir)
    val (rootA, rootB) =
      if (contract == "objectstore") ("oscas://" + dir, "oscas://" + alias)
      else (dir.toString, alias.toString)
    assert(new Path(rootA).toString != new Path(rootB).toString,
      "aliases must resolve to distinct lock keys")
    val prevLag = graft.storage.LaggedObjectStoreFs.lagMs
    graft.storage.LaggedObjectStoreFs.lagMs = 0L // pinned; lag cases set their own
    try body(conf, rootA, rootB)
    finally graft.storage.LaggedObjectStoreFs.lagMs = prevLag
  }

  private def chain(conf: org.apache.hadoop.conf.Configuration, root: String): FloorChain = {
    val dir = new Path(root, "meta")
    new FloorChain(() => dir.getFileSystem(conf), dir)
  }

  for (contract <- Seq("local", "objectstore")) {

    test(s"[$contract] the old window, distilled: a slower small-cut advance can never regress the floor") {
      withContract(contract) { (conf, rootA, rootB) =>
        val a = chain(conf, rootA)
        val b = chain(conf, rootB) // independent instance: stale view of the chain
        assert(b.read().floor == 0L)
        assert(a.advance(100L, "inc") === true)
        // b decided floor=50 BEFORE a's write landed (its view was 0) —
        // with delete+rename this write would regress the marker; the
        // CAS append discovers the supersession atomically instead
        assert(b.advance(50L, "inc") === false)
        assert(chain(conf, rootA).read().floor == 100L)
        assert(chain(conf, rootB).read().floor == 100L)
        // and the chain still advances past the supersession
        assert(b.advance(150L, "inc") === true)
        assert(chain(conf, rootA).read() == ManifestFloor(150L, "inc"))
      }
    }

    test(s"[$contract] unserialized concurrent advances: monotone, dense, exactly one writer per seq") {
      withContract(contract) { (conf, rootA, rootB) =>
        val errors = new ConcurrentLinkedQueue[Throwable]()
        val wins = new java.util.concurrent.atomic.AtomicInteger(0)
        val barrier = new CyclicBarrier(3)
        def writer(root: String, floors: Seq[Long]): Thread = {
          val t = new Thread(() => try {
            val c = chain(conf, root)
            barrier.await()
            floors.foreach { f => if (c.advance(f, s"w$f")) wins.incrementAndGet() }
          } catch { case e: Throwable => errors.add(e) })
          t.start(); t
        }
        val reader = new Thread(() => try {
          val c = chain(conf, rootA)
          barrier.await()
          var last = 0L
          for (_ <- 1 to 400) {
            val f = c.read().floor
            assert(f >= last, s"reader observed a floor regression: $last -> $f")
            last = f
          }
        } catch { case e: Throwable => errors.add(e) })
        reader.start()
        // deliberately OVERLAPPING floor sequences: most advances collide
        val t1 = writer(rootA, (1L to 60L).map(_ * 4))
        val t2 = writer(rootB, (1L to 60L).map(_ * 6))
        Seq(t1, t2).foreach(_.join(60000)); reader.join(60000)
        assert(errors.isEmpty, errors.toArray.mkString("\n"))
        val (seq, rec) = chain(conf, rootB).readWithSeq()
        assert(rec.floor == 360L, s"final floor ${rec.floor}")
        // on-disk shape: the anchor plus a contiguous retained suffix
        // (records behind the KeepRecords window are pruned by winners)
        val fs = new Path(rootA).getFileSystem(conf)
        def rec_(k: Long) = new Path(new Path(rootA, "meta"), f"floor-$k%012d.json")
        assert(fs.exists(rec_(1L)), "the floor-1 anchor must never be pruned")
        for (k <- math.max(2L, seq - FloorChain.KeepRecords + 1) to seq)
          assert(fs.exists(rec_(k)), s"hole at seq $k inside the retained window")
        // one CAS win per seq ever allocated — no seq double-written
        assert(wins.get() == seq, s"${wins.get()} wins for $seq records")
      }
    }

    test(s"[$contract] no missing-marker instant: a fresh lag-blinded reader resolves the exact floor") {
      withContract(contract) { (conf, rootA, _) =>
        // heavy LIST lag: floor records are invisible to listings for
        // 60 s — a fresh reader must resolve purely via exact-key probes
        if (contract == "objectstore") graft.storage.LaggedObjectStoreFs.lagMs = 60000L
        val w = chain(conf, rootA)
        assert(w.advance(8L, "i") && w.advance(16L, "i") && w.advance(24L, "i"))
        val fresh = chain(conf, rootA)
        assert(fresh.read() == ManifestFloor(24L, "i"),
          "cold read under full list lag must walk the dense chain from the floor-1 anchor")
      }
    }

    test(s"[$contract] pruning: anchor + contiguous suffix; pruned-under readers resolve via the listing") {
      withContract(contract) { (conf, rootA, rootB) =>
        val w = chain(conf, rootA)
        val stale = chain(conf, rootB)
        assert(w.advance(4L, "i"))
        stale.read() // cache the seq-1 tip, then idle past the window
        val n = FloorChain.KeepRecords + 20
        for (k <- 2 to n) assert(w.advance(k * 4L, "i"))
        val fs = new Path(rootA).getFileSystem(conf)
        def rec_(k: Long) = new Path(new Path(rootA, "meta"), f"floor-$k%012d.json")
        // anchor retained; everything between it and the window pruned;
        // the window itself dense
        assert(fs.exists(rec_(1L)))
        for (k <- 2L to (n - FloorChain.KeepRecords))
          assert(!fs.exists(rec_(k)), s"seq $k should be pruned")
        for (k <- (n - FloorChain.KeepRecords + 1).toLong to n.toLong)
          assert(fs.exists(rec_(k)), s"retained seq $k missing")
        // a completely fresh reader resolves the exact floor (anchor →
        // listing → probe-forward), as does the pruned-under stale one
        assert(chain(conf, rootA).read() == ManifestFloor(n * 4L, "i"))
        assert(stale.read() == ManifestFloor(n * 4L, "i"),
          "a reader cached below the pruned gap must resolve via the listing")
        // and the fast gate read never regresses below its own cache
        assert(stale.floorFast() >= 4L)
      }
    }

    test(s"[$contract] anchor-lost corruption: a cold reader still returns a positive floor; the state is auditable") {
      withContract(contract) { (conf, rootA, _) =>
        val w = chain(conf, rootA)
        // never-GC'd and healthy chains audit clean
        assert(!w.anchorLost(), "empty chain must not read as anchor-lost")
        for (k <- 1 to 6) assert(w.advance(k * 10L, "i"))
        assert(!chain(conf, rootA).anchorLost(), "healthy chain must audit clean")
        // hand surgery / storage corruption: the PERMANENT anchor vanishes
        // while the suffix records survive — unreachable through the
        // chain's own protocol (prune never touches seq 1)
        val fs = new Path(rootA).getFileSystem(conf)
        assert(fs.delete(new Path(new Path(rootA, "meta"), f"floor-${1L}%012d.json"), false))
        // a COLD reader must NOT conclude "never GC'd" (floor 0) from the
        // one missing exact key: one LIST page reveals the suffix and the
        // positive floor is recovered (stale-low at worst, loud-bounded
        // downstream — never the silent empty answer)
        val cold = chain(conf, rootA)
        assert(cold.read() == ManifestFloor(60L, "i"),
          "cold read must recover the floor from the listed suffix")
        val coldFast = chain(conf, rootA)
        assert(coldFast.floorFast() == 60L,
          "the fast gate's cold path takes the same recovery")
        // and the corruption is classified, not silent
        assert(chain(conf, rootA).anchorLost())
        // the chain still advances (a later gc repairs nothing — the
        // anchor stays lost — but floors remain monotone and readable)
        assert(cold.advance(70L, "i"))
        assert(chain(conf, rootA).read().floor == 70L)
      }
    }

    test(s"[$contract] two catalog instances, unshared gc locks: racing keepVersions never regress the floor") {
      withContract(contract) { (conf, rootA, rootB) =>
        def fe(i: Long): FileEntry =
          FileEntry(0L, s"data/part-$i-${java.util.UUID.randomUUID()}.parquet",
            i * 100L, 100L, 0L, 99L, 1, 1024L)
        val w = new StreamCatalog(rootA, conf, checkpointInterval = 4)
        w.createScope("s")
        w.createStream("s", "x", StreamConfig(initialSegments = 1))
        for (i <- 1 to 40) w.update("s", "x")(m => m.copy(files = m.files :+ fe(i)))
        w.flushCheckpoints()

        val a = new StreamCatalog(rootA, conf, checkpointInterval = 4)
        val b = new StreamCatalog(rootB, conf, checkpointInterval = 4)
        val errors = new ConcurrentLinkedQueue[Throwable]()
        val floors = new ConcurrentLinkedQueue[Long]()
        for (round <- 1 to 8) {
          for (i <- 1 to 4) w.update("s", "x")(m => m.copy(files = m.files :+ fe(40L + round * 4L + i)))
          w.flushCheckpoints()
          val barrier = new CyclicBarrier(2)
          def gc(cat: StreamCatalog, keep: Int): Thread = {
            val t = new Thread(() => try {
              barrier.await()
              cat.gcManifests("s", "x", keepVersions = keep)
              floors.add(cat.manifestFloor("s", "x"))
            } catch { case e: Throwable => errors.add(e) })
            t.start(); t
          }
          // simultaneous, UNSERIALIZED (distinct lock keys), different cuts
          val gcs = Seq(gc(a, 16), gc(b, 4))
          gcs.foreach(_.join(30000))
          assert(errors.isEmpty, errors.toArray.mkString("\n"))
          // both views agree afterwards and the floor never regressed
          val fa = a.manifestFloor("s", "x")
          val fb = b.manifestFloor("s", "x")
          assert(fa == fb, s"round $round: views diverge $fa vs $fb")
          assert(floors.toArray.map(_.asInstanceOf[Long]).forall(_ <= fa),
            s"round $round: a mid-race floor exceeded the settled one")
        }
        // every retained version reconstructs from a completely fresh view
        val fresh = new StreamCatalog(rootA, conf, checkpointInterval = 4)
        val tip = fresh.getStream("s", "x")
        val floor = fresh.manifestFloor("s", "x")
        assert(floor > 0L, "gc never advanced the floor")
        for (v <- floor to tip.version)
          assert(fresh.getStreamAt("s", "x", v).files.size == v.toInt, s"as-of v$v")
        val issues = graft.tools.Fsck.checkRoot(rootA, hadoopConf = Some(conf))
          .map(_.kind).filter(k => k == "manifest-chain" || k == "gc-floor-base")
        assert(issues.isEmpty, issues.mkString("; "))
      }
    }
  }
}
