package graft.tools

import graft.catalog.StreamCatalog
import graft.core.StreamMetadata
import org.apache.hadoop.fs.Path

/** Engine fsck — the offline integrity audit an operator runs before
  * trusting a root after an incident (the moral analog of the
  * segment-store's startup recovery walk): every check reads only
  * manifests + file statuses, no data scan, so it is O(metadata) at any
  * corpus size.
  *
  * Checks per stream:
  *  - the manifest chain audit ([[graft.catalog.ManifestChain.audit]]):
  *    `manifest-chain` (a version missing above the GC floor — the delta
  *    feed and as-of reads walk this history), `manifest-torn`,
  *    `gc-floor-base`, `gc-floor-regressed`, `gc-floor-anchor-lost` and
  *    `gc-floor-stale-incarnation`;
  *  - file existence: every live `FileEntry` resolves on the store, and
  *    its on-disk length matches the manifest-recorded `byteSize`
  *    (0 = pre-size manifest, skipped);
  *  - offset geometry: per segment, live files tile
  *    [max(head, startOffset), tailOffset) contiguously — no gap, no
  *    overlap (offsets below the truncation head are legitimately gone);
  *  - segment geometry: open segments' key ranges tile [0, 1);
  *  - orphan data dirs, expired or stuck transactions.
  *
  * Per registered KV table: the registration config parses, and the same
  * chain audit over the table's `_meta` manifests (no Spark needed).
  * Live KV files and orphans are `KeyValueTable.fsck()`'s job.
  *
  * Usage: runMain graft.tools.Fsck <rootDir> [scope]
  * Exit 0 = clean; 1 = issues (one line each: scope/stream kind detail).
  */
object Fsck {

  final case class Issue(where: String, kind: String, detail: String)

  /** The state checks of one stream's live manifest (the chain itself is
    * audited by [[checkRoot]]).
    */
  def checkStream(cat: StreamCatalog, meta: StreamMetadata,
                  conf: org.apache.hadoop.conf.Configuration): Seq[Issue] = {
    val where = s"${meta.scope}/${meta.name}"
    val issues = Seq.newBuilder[Issue]

    // file existence + recorded sizes
    val fs = new Path(meta.files.headOption.map(_.path).getOrElse("/")).getFileSystem(conf)
    meta.files.foreach { f =>
      val p = new Path(f.path)
      try {
        val st = fs.getFileStatus(p)
        if (f.byteSize > 0L && st.getLen != f.byteSize)
          issues += Issue(where, "file-size",
            s"${f.path}: manifest says ${f.byteSize} B, store has ${st.getLen} B")
      } catch {
        case _: java.io.FileNotFoundException =>
          issues += Issue(where, "file-missing", f.path)
      }
    }

    // per-segment offset tiling above the truncation head
    meta.files.groupBy(_.segmentId).foreach { case (sid, files) =>
      meta.segments.find(_.segmentId == sid) match {
        case None =>
          issues += Issue(where, "orphan-files", s"files reference unknown segment $sid")
        case Some(seg) =>
          val head = math.max(meta.headCut.getOrElse(sid, seg.startOffset), seg.startOffset)
          val sorted = files.sortBy(_.startOffset)
          // a truncation head may slice INSIDE the first live file (the
          // straddler stays; reads clamp) — a gap only exists if the
          // first live file starts ABOVE the head
          if (sorted.head.startOffset > head)
            issues += Issue(where, "offset-gap",
              s"segment $sid: head at $head but first live file starts at ${sorted.head.startOffset}")
          var pos = sorted.head.startOffset
          sorted.foreach { f =>
            if (f.startOffset != pos)
              issues += Issue(where, "offset-gap",
                s"segment $sid: expected offset $pos, file ${f.path} starts at ${f.startOffset}")
            pos = math.max(pos, f.endOffset)
          }
          if (pos != seg.tailOffset)
            issues += Issue(where, "tail-mismatch",
              s"segment $sid: files end at $pos, manifest tail is ${seg.tailOffset}")
      }
    }

    // segments claiming rows but owning no files at all (the groupBy
    // above only visits segments WITH files)
    val withFiles = meta.files.map(_.segmentId).toSet
    meta.segments.filterNot(s => withFiles(s.segmentId)).foreach { seg =>
      val head = math.max(meta.headCut.getOrElse(seg.segmentId, seg.startOffset), seg.startOffset)
      if (seg.tailOffset > head)
        issues += Issue(where, "tail-mismatch",
          s"segment ${seg.segmentId}: tail ${seg.tailOffset} above head $head with no live files")
    }

    // orphan data dirs: a batch/compaction/sink-epoch dir none of whose
    // files made it into the live manifest (or its pending-delete
    // tombstones) is a crashed writer's leak — invisible to readers
    // (plans come from the manifest, never listings), reclaimable.
    // Manifest paths may be scheme-less while listings are qualified —
    // compare scheme-less.
    def norm(p: String) = new Path(p).toUri.getPath
    val referencedPrefixes = (meta.files.map(_.path) ++
      meta.pendingDeletes.map(_.path)).map(norm)
    // The data dir comes from the catalog, not from file-path surgery, so
    // a fully-truncated/retention-swept stream (zero live files) still
    // gets its crashed-writer leaks scanned.
    locally {
      val dataDir = cat.dataDir(meta.scope, meta.name)
      val dfs = dataDir.getFileSystem(conf)
      try dfs.listStatus(dataDir)
        .filter(s => s.isDirectory && {
          val n = s.getPath.getName
          n.startsWith("batch-") || n.startsWith("compact-") ||
            n.startsWith("sinkstage-") || n.startsWith("txncommit-")
        })
        .map(_.getPath.toString)
        .filterNot(d => referencedPrefixes.exists(_.startsWith(norm(d) + "/")))
        .foreach(d => issues += Issue(where, "orphan-data",
          s"$d holds no manifest-referenced files (crashed writer leak; reclaimable)"))
      catch { case _: java.io.FileNotFoundException => }
    }

    // stuck transactions: an OPEN txn past its lease should have been
    // swept (Maintenance runs the sweep); a COMMITTING txn is mid-commit
    // and only a re-driven commit can finish it — both advisory
    val now = System.currentTimeMillis()
    meta.transactions.values.foreach { t =>
      if (t.expired(now))
        issues += Issue(where, "txn-lease-expired",
          s"open txn ${t.id} expired ${now - t.createdAt - t.leaseMillis} ms ago (run Maintenance)")
      else if (t.state == graft.core.TxnState.Committing)
        issues += Issue(where, "txn-stuck-committing",
          s"txn ${t.id} mid-commit (re-drive commitTxn)")
    }

    // open segments tile [0, 1)
    val open = meta.segments.filter(!_.isSealed).sortBy(_.keyLow)
    if (open.nonEmpty) {
      if (open.head.keyLow != 0.0 || open.last.keyHigh != 1.0 ||
          open.sliding(2).exists {
            case Seq(a, b) => a.keyHigh != b.keyLow
            case _         => false
          })
        issues += Issue(where, "key-range-gap",
          open.map(s => f"[${s.keyLow}%.4f,${s.keyHigh}%.4f)").mkString(" "))
    } else if (!meta.isSealed)
      issues += Issue(where, "no-open-segments", "unsealed stream with no open segments")

    issues.result()
  }

  def checkRoot(rootDir: String, onlyScope: Option[String] = None,
                hadoopConf: Option[org.apache.hadoop.conf.Configuration] = None): Seq[Issue] = {
    // an explicit conf wins (embedded use against a store the session
    // doesn't know); else the active session's Hadoop conf (credentials,
    // custom fs.* impls); a bare Configuration otherwise (CLI use)
    val conf = hadoopConf.orElse(
      org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sessionState.newHadoopConf()))
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val cat = new StreamCatalog(rootDir, conf)
    val scopes = onlyScope.map(Seq(_)).getOrElse(cat.listScopes())
    scopes.flatMap { scope =>
      val streamIssues = cat.listStreams(scope).flatMap { st =>
        // the chain audit reads the lag-compensated listing, independent
        // of state reconstruction: a mid-chain hole makes getStream fail
        // loudly, so the chain report must not depend on it
        cat.auditStream(scope, st).map(i => Issue(s"$scope/$st", i.kind, i.detail)) ++ (
          try checkStream(cat, cat.getStream(scope, st), conf)
          catch {
            case e: Exception =>
              Seq(Issue(s"$scope/$st", "manifest-unreadable", e.toString))
          })
      }
      val kvIssues = cat.listKeyValueTables(scope).flatMap { t =>
        (try { cat.getKeyValueTableConfig(scope, t); Seq.empty[Issue] }
        catch {
          case e: Exception =>
            Seq(Issue(s"$scope/$t", "kvt-config-unreadable", e.toString))
        }) ++ cat.auditKeyValueTable(scope, t).map(i => Issue(s"$scope/$t", i.kind, i.detail))
      }
      streamIssues ++ kvIssues
    }
  }

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      sys.error("usage: Fsck <rootDir> [scope]"))
    val issues = checkRoot(root, args.lift(1))
    if (issues.isEmpty) println(s"fsck: $root clean")
    else {
      issues.foreach(i => println(s"fsck: ${i.where} ${i.kind}: ${i.detail}"))
      sys.exit(1)
    }
  }
}
