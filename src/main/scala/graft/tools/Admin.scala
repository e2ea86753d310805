package graft.tools

import graft.core.{StreamCut, TxnState}
import graft.storage.{GraftStreams, Maintenance}

/** Unified admin entry point over a storage root — the Spark-native analog
  * of the reference's interactive admin CLI
  * (cli/admin/src/main/java/io/pravega/cli/admin/AdminCLIRunner.java and
  * its command tree: scope/stream listing, stream describe, segment
  * inspection, integrity checks, maintenance actions). One command per
  * invocation; every read is manifest-only (O(metadata)) except `read`.
  *
  * Usage: runMain graft.tools.Admin <rootDir> <command> [args...]
  *
  *   scopes                                   list scopes
  *   streams <scope>                          list streams in a scope
  *   kvts <scope>                             list key-value tables
  *   describe <scope> <stream>                manifest summary
  *   segments <scope> <stream>                per-segment detail
  *   files <scope> <stream>                   manifest file entries
  *   txns <scope> <stream>                    transaction records
  *   cuts <scope> <stream> [approxRows]       head/tail + next paced cut
  *   versions <scope> <stream>                manifest history (the VERSION AS OF surface)
  *   kv-fsck <scope> <kvt>                    KV table integrity audit
  *   kv-sweep <scope> <kvt> [graceMs]         reclaim KV orphan dirs + due tombstones
  *   kv-compact <scope> <kvt>                 fold deltas into a fresh base
  *   bs-fsck <scope> <byteStream>             byte-stream chunk-tiling audit
  *   bs-sweep <scope> <byteStream> [graceMs]  reclaim dead/uncommitted chunks
  *   attrs <scope> <stream> [segmentId]       segment attributes (all segments by default)
  *   cut-save <scope> <stream> <name> [approxRows]  save a named cut (tail, or ~N rows past head)
  *   cut-delete <scope> <stream> <name>       delete a named cut
  *   watermark <scope> <stream>               watermark bounds + history
  *   read <scope> <stream> [n]                show the first n events (default 10)
  *   fsck [scope]                             integrity audit (exit 1 on issues)
  *   maintenance <scope> <stream>             one Maintenance.run pass
  *   sweep <scope> <stream>                   sweepDeletes + sweepOrphans
  *   truncate <scope> <stream> <approxRows>   truncate at the ~N-row cut
  *   seal <scope> <stream>                    seal the stream
  *   scale <scope> <stream> <n>               scale to n open segments
  */
object Admin {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) { println(usage); sys.exit(2) }
    val root = args(0)
    val cmd = args(1)
    val rest = args.drop(2)

    // fsck is metadata-only — no Spark session needed
    if (cmd == "fsck") {
      val issues = Fsck.checkRoot(root, rest.headOption)
      issues.foreach(i => println(f"${i.kind}%-22s ${i.where}%-18s ${i.detail}"))
      println(s"${issues.size} issue(s)")
      sys.exit(if (issues.isEmpty) 0 else 1)
    }

    val spark = graft.util.LocalSession(defaultCpus = 8)
    val g = new GraftStreams(spark, root)
    try run(g, cmd, rest) finally spark.stop()
  }

  private def run(g: GraftStreams, cmd: String, a: Array[String]): Unit = {
    def scope = a(0)
    def stream = a(1)
    cmd match {
      case "scopes" =>
        g.catalog.listScopes().foreach(println)
      case "streams" =>
        g.catalog.listStreams(scope).foreach(println)
      case "kvts" =>
        g.catalog.listKeyValueTables(scope).foreach(println)
      case "describe" =>
        val m = g.catalog.getStream(scope, stream)
        println(s"stream:        ${m.scope}/${m.name} (manifest v${m.version})")
        println(s"created:       ${java.time.Instant.ofEpochMilli(m.createdAt)}")
        println(s"sealed:        ${m.isSealed}   tags: ${m.tags.toSeq.sorted.mkString(",")}")
        println(s"config:        ${m.config}")
        println(s"epochs:        ${m.epochs.size} (current ${m.currentEpoch.epoch})")
        println(s"segments:      ${m.segments.size} total, ${m.openSegments.size} open")
        println(s"files:         ${m.files.size} (${m.files.map(_.byteSize).sum} bytes, " +
          s"${m.files.map(_.rowCount).sum} rows)")
        println(s"pendingDelete: ${m.pendingDeletes.size}")
        val states = Seq(TxnState.Open, TxnState.Committing, TxnState.Committed,
          TxnState.Aborting, TxnState.Aborted)
        println(s"transactions:  ${m.transactions.size} " +
          states.map(st =>
            s"$st=${m.transactions.values.count(_.state == st)}").mkString("(", " ", ")"))
        println(s"writerMarks:   ${m.writerMarks.size}   namedCuts: ${m.namedCuts.size}")
        println(s"headCut:       ${fmtCut(m.headStreamCut)}")
        println(s"tailCut:       ${fmtCut(m.tailCut)}")
      case "segments" =>
        val m = g.catalog.getStream(scope, stream)
        println(f"${"segId"}%14s ep ${"range"}%15s ${"start"}%9s ${"tail"}%9s sealed parents")
        m.segments.sortBy(_.segmentId).foreach { s =>
          val ep = (s.segmentId >>> 32).toInt
          println(f"${s.segmentId}%14d $ep%2d [${s.keyLow}%.3f,${s.keyHigh}%.3f) " +
            f"${s.startOffset}%9d ${s.tailOffset}%9d ${s.isSealed}%6s ${s.parents.mkString(",")}")
        }
      case "files" =>
        val m = g.catalog.getStream(scope, stream)
        m.files.sortBy(f => (f.segmentId, f.startOffset)).foreach { f =>
          println(f"${f.segmentId}%14d [${f.startOffset}%9d,+${f.rowCount}%7d) " +
            f"${f.byteSize}%10dB chunks<=${f.maxChunkCount} ${f.path}")
        }
      case "txns" =>
        val m = g.catalog.getStream(scope, stream)
        m.transactions.values.toSeq.sortBy(_.createdAt).foreach { t =>
          println(f"${t.id}%-38s ${t.state}%-11s created=${java.time.Instant.ofEpochMilli(t.createdAt)} " +
            s"lease=${t.leaseMillis}ms calls=${t.calls}" +
            t.committedAt.map(c => s" committed=${java.time.Instant.ofEpochMilli(c)}").getOrElse(""))
        }
      case "cuts" =>
        val m = g.catalog.getStream(scope, stream)
        println(s"head: ${fmtCut(m.headStreamCut)}")
        println(s"tail: ${fmtCut(m.tailCut)}")
        a.lift(2).map(_.toLong).foreach { n =>
          println(s"next(+~$n): ${fmtCut(g.nextStreamCut(scope, stream, m.headStreamCut, n))}")
        }
        m.namedCuts.toSeq.sortBy(_._1).foreach { case (name, pos) =>
          println(s"named '$name': ${fmtCut(StreamCut(pos))}")
        }
      case "versions" =>
        // manifest history = the VERSION AS OF surface
        val cat = g.catalog
        cat.manifestVersions(scope, stream).foreach { v =>
          val m = cat.getStreamAt(scope, stream, v)
          println(f"$v%8d  files=${m.files.size}%5d  segments=${m.segments.size}%3d  " +
            f"tail=${m.tailCut.positions.values.sum}%10d rows")
        }
      case "kv-fsck" =>
        val t = g.catalog.openKeyValueTable(g.spark, scope, stream)
        val issues = t.fsck()
        issues.foreach(println)
        println(s"${issues.size} issue(s)")
      case "kv-sweep" =>
        val t = g.catalog.openKeyValueTable(g.spark, scope, stream)
        val grace = a.lift(2).map(_.toLong).getOrElse(3600000L)
        val orphans = t.sweepOrphans(grace)
        val dead = t.sweepDeletes()
        (orphans ++ dead).foreach(p => println(s"reclaimed $p"))
        println(s"${orphans.size} orphan(s), ${dead.size} tombstone(s)")
      case "kv-compact" =>
        g.catalog.openKeyValueTable(g.spark, scope, stream).compact()
        println("compacted")
      case "bs-fsck" =>
        val bs = new graft.storage.ByteStreams(g.rootDir)
        val issues = bs.fsck(scope, stream)
        issues.foreach(println)
        println(s"${issues.size} issue(s)")
      case "bs-sweep" =>
        val bs = new graft.storage.ByteStreams(g.rootDir)
        val grace = a.lift(2).map(_.toLong).getOrElse(3600000L)
        val swept = bs.sweep(scope, stream, grace)
        swept.foreach(p => println(s"reclaimed $p"))
        println(s"${swept.size} chunk(s)")
      case "attrs" =>
        val m = g.catalog.getStream(scope, stream)
        val segs = a.lift(2).map(_.toLong) match {
          case Some(sid) => m.segments.filter(_.segmentId == sid)
          case None => m.segments.sortBy(_.segmentId)
        }
        segs.foreach { s =>
          if (s.attributes.isEmpty) println(f"${s.segmentId}%14d (no attributes)")
          else s.attributes.toSeq.sortBy(_._1).foreach { case (k, v) =>
            println(f"${s.segmentId}%14d $k%-24s $v%d")
          }
        }
      case "cut-save" =>
        val name = a(2)
        val cut = a.lift(3).map(_.toLong).map { n =>
          val head = g.catalog.getStream(scope, stream).headStreamCut
          g.nextStreamCut(scope, stream, head, n)
        }
        val saved = g.saveStreamCut(scope, stream, name, cut)
        println(s"saved '$name': ${fmtCut(saved)}")
      case "cut-delete" =>
        g.deleteStreamCut(scope, stream, a(2))
        println(s"deleted '${a(2)}'")
      case "watermark" =>
        val m = g.catalog.getStream(scope, stream)
        g.timeWindow(scope, stream) match {
          case Some((lo, hi)) => println(s"bounds: [$lo, $hi]")
          case None => println("bounds: none (no active writer marks)")
        }
        m.watermarks.foreach(w => println(
          s"  mark [${w.lowerTime},${w.upperTime}] @ ${fmtCut(StreamCut(w.positions))}"))
      case "read" =>
        val n = a.lift(2).map(_.toInt).getOrElse(10)
        g.readEventsOrdered(scope, stream).show(n, 48, vertical = false)
      case "count" =>
        // manifest-only: per-segment live rows + eventTime bounds, zero
        // file IO — the ops-surface view of the EVENT_COUNT attribute,
        // on the SAME SubRange arithmetic the DSv2 aggregate pushdown
        // serves. Bounds from a file straddling the head cut cover
        // truncated-away rows too — marked '~' (the pushdown path
        // refuses min/max in that case; an ops view prints the
        // approximation instead).
        val m = g.catalog.getStream(scope, stream)
        val sr = new graft.sources.SubRange(m, s"$scope/$stream",
          from = None, to = None, enforceHead = false)
        var total = 0L
        println(f"${"segId"}%14s ${"rows"}%10s ${"minTime"}%15s ${"maxTime"}%15s")
        m.segments.sortBy(_.segmentId).foreach { s =>
          val files = m.files.filter(_.segmentId == s.segmentId)
            .distinctBy(_.path).filter(sr.overlap(_) > 0)
          val rows = files.map(sr.overlap).sum
          total += rows
          val straddle = files.exists(f => sr.overlap(f) != f.rowCount)
          val approx = if (straddle) "~" else ""
          val (tLo, tHi) =
            if (files.isEmpty) ("-", "-")
            else (approx + files.map(_.minEventTime).min,
                  approx + files.map(_.maxEventTime).max)
          println(f"${s.segmentId}%14d $rows%10d $tLo%15s $tHi%15s")
        }
        println(s"total live rows: $total (manifest-only; chunked large" +
          " events count as chunk rows; '~' = bound spans truncated rows)")
      case "maintenance" =>
        val r = new Maintenance(g).run(scope, stream)
        println(r)
      case "sweep" =>
        g.catalog.sweepDeletes(scope, stream).foreach(p => println(s"deleted $p"))
        g.sweepOrphans(scope, stream).foreach(p => println(s"orphan  $p"))
      case "truncate" =>
        val cut = g.nextStreamCut(scope, stream,
          g.catalog.getStream(scope, stream).headStreamCut, a(2).toLong)
        g.catalog.truncateStream(scope, stream, cut)
        println(s"truncated at ${fmtCut(cut)}")
      case "seal" =>
        g.catalog.sealStream(scope, stream)
        println(s"sealed $scope/$stream")
      case "scale" =>
        val m = g.scaleStream(scope, stream, a(2).toInt)
        println(s"scaled to ${m.openSegments.size} open segments (epoch ${m.currentEpoch.epoch})")
      case other =>
        println(s"unknown command '$other'\n$usage"); sys.exit(2)
    }
  }

  private def fmtCut(c: StreamCut): String =
    c.positions.toSeq.sorted.map { case (s, o) => s"$s:$o" }.mkString("{", " ", "}")

  private val usage: String =
    """Usage: Admin <rootDir> <command> [args...]
      |  scopes | streams <scope> | kvts <scope>
      |  describe|segments|files|txns|watermark <scope> <stream>
      |  cuts <scope> <stream> [approxRows]
      |  versions <scope> <stream>   (manifest history, the VERSION AS OF surface)
      |  kv-fsck|kv-compact <scope> <kvt> | kv-sweep <scope> <kvt> [graceMs]
      |  bs-fsck <scope> <bs> | bs-sweep <scope> <bs> [graceMs]
      |  attrs <scope> <stream> [segmentId]
      |  cut-save <scope> <stream> <name> [approxRows] | cut-delete <scope> <stream> <name>
      |  read <scope> <stream> [n]
      |  count <scope> <stream>      (manifest-only, zero file IO)
      |  fsck [scope]
      |  maintenance|sweep <scope> <stream>
      |  truncate <scope> <stream> <approxRows>
      |  seal <scope> <stream> | scale <scope> <stream> <n>""".stripMargin
}
