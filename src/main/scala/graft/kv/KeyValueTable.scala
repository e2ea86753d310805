package graft.kv

import graft.catalog.{ChainIssue, ManifestChain}
import graft.core.{ConditionalCheckFailedException, GraftException, ManifestChainBrokenException}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.sources.GraftKvTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.RelationShim
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import java.nio.charset.StandardCharsets
import java.util.UUID

/** Versioned, partitioned key-value table
  * (client/.../tables/KeyValueTable.java:119,
  * KeyValueTableConfiguration.java:39-55) re-expressed as an LSM over
  * parquet: every update batch commits one delta file per touched part
  * index plus a manifest CAS; reads resolve base+deltas by latest commit
  * version per key; compaction rewrites the resolved state as a new base
  * (TableCompactor analog). Entry versions are commit versions — exactly
  * the reference's monotonic per-entry `Version` semantics.
  *
  * Scale: every read resolves through [[graft.sources.GraftKvScan]],
  * which relies on the write layout ([[KeyValueTable.partIndexOfBucket]]): a
  * key's whole history sits at one part index in every directory, so a
  * point read plans one partition, resolves without a shuffle, and reads
  * #deltas files, bounded by the compaction cadence. No driver-side state.
  */
final case class KvFile(path: String, kind: String, commitVersion: Long)
/** A compacted-away file awaiting physical deletion after its
  * reader-grace deadline (see StreamCatalog.sweepDeletes rationale).
  */
final case class KvPendingDelete(path: String, notBefore: Long)
final case class KvManifest(name: String, partitionCount: Int, version: Long,
                            files: Seq[KvFile],
                            pendingDeletes: Seq[KvPendingDelete] = Nil,
                            /** Wall-clock stamped at commit (CAS) time —
                              * the TIMESTAMP AS OF authority, mirroring
                              * StreamMetadata.committedAt. 0 = pre-upgrade
                              * manifest (resolution falls back to mtime).
                              */
                            committedAt: Long = 0L,
                            /** Creation identity of this table INCARNATION
                              * (mirrors StreamMetadata.incarnation): a fresh
                              * UUID stamped by the v1 commit — the table's
                              * first after (re)creation, since chains
                              * restart at 1 — and force-carried by every
                              * later commit. GC stamps it into the floor
                              * chain, so a floor chain that survived a
                              * delete+recreate (hand surgery / partial
                              * delete) is auditable as STALE by comparing
                              * against the live chain's identity ("" =
                              * pre-upgrade manifest, exempt).
                              */
                            incarnation: String = "")

object KeyValueTable {
  /** Conditional batches up to this many keys are compared on the
    * driver against a pk-literal (part-index-pruned) read; larger batches
    * fall back to a broadcast semi-join above the same scan.
    */
  val ConditionPruneLimit: Int = 1024

  /** A key's bucket: the write path's `pmod(xxhash64(pk), n)`, replicated
    * on the driver so a key becomes a literal without a Spark job.
    */
  def bucketOf(pk: String, partitionCount: Int): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(pk),
      org.apache.spark.sql.types.StringType, 42L)
    ((h % partitionCount) + partitionCount) % partitionCount
  }

  /** The part-file index a bucket lands at: the write path's
    * `repartition(n, bucket)` is Spark's hash partitioning,
    * `pmod(murmur3(bucket, 42), n)`, and each task writes `part-<index>`.
    * The co-located scan's pruning is sound only while this holds
    * (`KvLayoutSpec` checks it against the files).
    */
  def partIndexOfBucket(bucket: Long, partitionCount: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction.hash(
      bucket, org.apache.spark.sql.types.LongType, 42L).toInt
    ((h % partitionCount) + partitionCount) % partitionCount
  }

  /** The table's manifest chain: self-contained `manifest-%012d.json`
    * records under `_meta`. Versions start at 1 (an empty table is
    * version 0, so entry versions stay strictly positive and never
    * collide with the expectedVersion=0 "must not exist" sentinel); the
    * LIST-free tip walk is capped at 32 probes, about a few LIST pages'
    * worth of latency.
    */
  private[graft] def manifestChain(fsf: () => FileSystem, metaDir: Path): ManifestChain =
    new ManifestChain(fsf, metaDir, "manifest-", ".json", first = 1L, probeCap = 32)

  private def decode(bytes: Array[Byte]): KvManifest = {
    implicit val fmts: Formats = DefaultFormats
    Serialization.read[KvManifest](new String(bytes, StandardCharsets.UTF_8))
  }

  /** The chain half of fsck, without Spark: a version's base reads when
    * its manifest parses (KV manifests are self-contained); the live
    * identity is the newest readable manifest's incarnation.
    */
  def auditChain(chain: ManifestChain): Seq[ChainIssue] =
    chain.audit(v => scala.util.Try(decode(chain.bytes(v))).isSuccess,
      () => chain.readTip(v => decode(chain.bytes(v))).fold("")(_._2.incarnation))
}

class KeyValueTable(spark: SparkSession, rootDir: String, val name: String,
                    val partitionCount: Int = 16,
                    deleteGraceMillis: Long = graft.catalog.StreamCatalog.DefaultDeleteGraceMillis,
                    hadoopConf: Configuration = new Configuration()) {
  import spark.implicits._
  private implicit val fmts: Formats = DefaultFormats

  private val tableDir = new Path(new Path(rootDir), name)
  private val metaDir = new Path(tableDir, "_meta")
  private def fs: FileSystem = tableDir.getFileSystem(hadoopConf)

  // ------------------------------------------------------------- manifest io

  // the GC retention floor rides the chain: `floor-<seq>.json` records
  // under _meta, outside the `manifest-*` names
  private val chain = KeyValueTable.manifestChain(() => fs, metaDir)

  private def readManifest(v: Long): KvManifest = KeyValueTable.decode(chain.bytes(v))

  /** The newest committed manifest (empty table = version 0). Manifests
    * are SELF-CONTAINED, so whatever version the tip walk lands on reads
    * as exactly that version's full state — delete+recreate of the same
    * name can never mix incarnations.
    */
  private def latest(): KvManifest =
    chain.readTip(readManifest).map(_._2).getOrElse(KvManifest(name, partitionCount, 0L, Nil))

  /** CAS `m0` as its version; false = the version was already taken. */
  private def commit(m0: KvManifest, prevCommittedAt: Long): Boolean = {
    // the TIMESTAMP AS OF stamp, clamped monotone exactly as
    // StreamCatalog.writeManifest's
    // v1 = the incarnation's first commit: mint its identity here (the
    // CAS arbitrates racing first-committers, so exactly one identity
    // ever lands); every later commit carries the tip's forward
    val m = m0.copy(committedAt =
      math.max(System.currentTimeMillis(), prevCommittedAt),
      incarnation =
        if (m0.version == 1L) UUID.randomUUID().toString else m0.incarnation)
    chain.create(m.version, Serialization.write(m).getBytes(StandardCharsets.UTF_8))
  }

  // ------------------------------------------------------------------ write

  /** Apply a batch of modifications atomically. `ops` columns:
    * pk string, sk string, value binary, op string (PUT|REMOVE),
    * expectedVersion long (-1 = unconditional, 0 = must-not-exist i.e.
    * Insert, >0 = conditional Put/Remove on that exact version). A null
    * sk is stored as "" (the API's default sk). Returns the commit
    * version. Condition failures raise ConditionalCheckFailed before
    * anything becomes visible (BadKeyVersionException / table-segment
    * conditional-update analog,
    * segmentstore/contracts/.../tables/TableStore.java:114-242).
    */
  def update(ops: DataFrame): Long = {
    var attempts = 0
    val keyed = ops.withColumn("sk", coalesce($"sk", lit("")))
      .withColumn("bucket", pmod(xxhash64($"pk"), lit(partitionCount)))
    while (true) {
      val m = latest()
      val commitVersion = m.version + 1

      // conditional checks against the state of manifest m (the one
      // this commit CASes on), for the TOUCHED keys only: small batches
      // read their pk literals (one part index each) and compare on the
      // driver; oversized ones semi-join a broadcast of their keys.
      val conds = keyed.filter($"expectedVersion" >= 0)
      val condRows = conds.select($"pk", $"sk", $"expectedVersion")
        .limit(KeyValueTable.ConditionPruneLimit + 1).collect()
      if (condRows.nonEmpty) {
        def violates(expected: Long, actual: Option[Long]) =
          if (expected == 0L) actual.isDefined else !actual.contains(expected)
        val bad: Option[(String, Long, Option[Long])] =
          if (condRows.length <= KeyValueTable.ConditionPruneLimit) {
            val pks = condRows.map(_.getString(0)).distinct.toSeq
            val cur = read(m).filter($"pk".isin(pks: _*))
              .select($"pk", $"sk", $"version").collect()
              .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
            condRows.iterator.map(r =>
              (r.getString(0), r.getLong(2), cur.get((r.getString(0), r.getString(1)))))
              .find { case (_, e, v) => violates(e, v) }
          } else {
            val cur = read(m).select($"pk", $"sk", $"version").join(
              broadcast(conds.select($"pk", $"sk").distinct()), Seq("pk", "sk"), "left_semi")
            conds.join(cur, Seq("pk", "sk"), "left")
              .filter(
                ($"expectedVersion" === 0 && $"version".isNotNull) ||
                ($"expectedVersion" > 0 && ($"version".isNull || $"version" =!= $"expectedVersion")))
              .select($"pk", $"expectedVersion", $"version")
              .limit(1).collect().headOption
              .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long])))
          }
        bad.foreach { case (pk, e, v) =>
          throw new ConditionalCheckFailedException(
            s"kv $name: condition failed for pk=$pk expected=$e actual=${v.getOrElse("absent")}")
        }
      }

      val deltaDir = new Path(tableDir, s"delta-$commitVersion-${UUID.randomUUID()}")
      keyed
        .select($"bucket", $"pk", $"sk", $"value", $"op",
                lit(commitVersion).as("version"))
        // explicit count: one task per part index (AQE would coalesce the
        // small shuffle to one task and serialize the sort+encode); the
        // hash partitioning IS the layout (KeyValueTable.partIndexOfBucket)
        .repartition(partitionCount, $"bucket")
        .sortWithinPartitions($"bucket", $"pk", $"sk")
        .write.parquet(deltaDir.toString)

      if (commit(m.copy(version = commitVersion,
          files = m.files :+ KvFile(deltaDir.toString, "delta", commitVersion)),
          m.committedAt))
        return commitVersion
      fs.delete(deltaDir, true) // lost the race: re-check conditions on fresh state
      attempts += 1
      if (attempts > 10) throw new ConditionalCheckFailedException(s"kv $name: CAS lost $attempts times")
    }
    -1L // unreachable
  }

  /** Insert: fail if the key already exists (client/.../tables/Insert.java). */
  def insert(entries: DataFrame): Long =
    update(entries.withColumn("op", lit("PUT")).withColumn("expectedVersion", lit(0L)))

  /** Unconditional Put (client/.../tables/Put.java). */
  def put(entries: DataFrame): Long =
    update(entries.withColumn("op", lit("PUT")).withColumn("expectedVersion", lit(-1L)))

  /** Conditional Put against an exact entry version (>= 1: commit
    * versions start at 1). The other modes have their own calls.
    */
  def putIfVersion(entries: DataFrame, expectedVersion: Long): Long = {
    require(expectedVersion >= 1L,
      s"putIfVersion needs an entry version >= 1, got $expectedVersion: " +
        "use put for an unconditional write or insert to write only if absent")
    update(entries.withColumn("op", lit("PUT"))
      .withColumn("expectedVersion", lit(expectedVersion)))
  }

  /** Remove keys; `df` needs pk + sk. (client/.../tables/Remove.java). */
  def remove(keys: DataFrame): Long =
    update(keys.withColumn("value", lit(null).cast("binary"))
      .withColumn("op", lit("REMOVE")).withColumn("expectedVersion", lit(-1L)))

  // ------------------------------------------------------------------- read

  /** This table through the co-located scan, pinned to manifest `m`:
    * resolved latest-per-key state, or the raw delta feed after
    * `fromVersion`. Reading through THIS instance keeps its tip hint warm.
    */
  private def read(m: KvManifest, fromVersion: Option[Long] = None): DataFrame =
    RelationShim.dataFrame(spark, new GraftKvTable(this, name, None, Some(m)),
      fromVersion.fold(Map.empty[String, String])(v => Map("fromVersion" -> v.toString)))

  private def resolvedAt(m: KvManifest): DataFrame =
    read(m).select($"bucket", $"pk", $"sk", $"value", $"version")

  /** Latest live entries (bucket, pk, sk, value, version). */
  def entries(): DataFrame = resolvedAt(latest())

  /** Batched multiget (KeyValueTable.java:181 getAll): resolve ONLY the
    * requested keys — their pk literals plan only the part indices that
    * hold them and reach parquet row-group stats. Returns (pk, sk, value,
    * version) for keys that exist.
    */
  def getAll(keys: Seq[(String, String)]): DataFrame = {
    require(keys.nonEmpty, "getAll needs at least one key")
    val pks = keys.map(_._1).distinct
    val exact = keys.map { case (p, s) => $"pk" === p && $"sk" === s }.reduce(_ || _)
    entries().filter($"pk".isin(pks: _*) && exact)
      .select($"pk", $"sk", $"value", $"version")
  }

  /** Point lookup (KeyValueTable.java:181 get): one part index's files,
    * one Spark job, via the same path as [[getAll]].
    */
  def get(pk: String, sk: String = ""): Option[(Array[Byte], Long)] = {
    val rows = getAll(Seq((pk, sk))).select($"value", $"version").collect()
    rows.headOption.map(r => (r.getAs[Array[Byte]]("value"), r.getAs[Long]("version")))
  }

  def exists(pk: String, sk: String = ""): Boolean = get(pk, sk).isDefined

  /** Sorted prefix iteration (KeyValueTableIterator.java:64 forPrefix). */
  def scanPrefix(prefix: String): DataFrame =
    entries().filter($"pk".startsWith(prefix)).orderBy($"pk", $"sk")

  /** Sorted range iteration [fromPk, toPk) (KeyValueTableIterator.java:123). */
  def scanRange(fromPk: String, toPk: String): DataFrame =
    entries().filter($"pk" >= fromPk && $"pk" < toPk).orderBy($"pk", $"sk")

  /** One page of sorted iteration — the `maxIterationSize` paging of
    * KeyValueTableIterator.java:64,123. KEYSET pagination: the page holds
    * the first `pageSize` entries with (pk, sk) strictly after
    * `afterKey`; the caller passes the last row back as the continuation
    * token. Each page is an independent bounded query (limit → TakeOrdered,
    * no global sort, no offset skip-scan), and its key predicates reach
    * parquet stats below resolution, so paging cost does not grow with
    * position — the Spark shape of the reference's continuation-token
    * iterator.
    */
  def scanPage(fromPk: String, toPk: String, pageSize: Int,
               afterKey: Option[(String, String)] = None): DataFrame = {
    require(pageSize > 0, "pageSize must be positive")
    val base = entries().filter($"pk" >= fromPk && $"pk" < toPk)
    val paged = afterKey match {
      case Some((apk, ask)) =>
        base.filter($"pk" > apk || ($"pk" === apk && $"sk" > ask))
      case None => base
    }
    paged.orderBy($"pk", $"sk").limit(pageSize)
  }

  /** Paged prefix iteration (forPrefix + maxIterationSize). */
  def scanPrefixPage(prefix: String, pageSize: Int,
                     afterKey: Option[(String, String)] = None): DataFrame = {
    require(pageSize > 0, "pageSize must be positive")
    val base = entries().filter($"pk".startsWith(prefix))
    val paged = afterKey match {
      case Some((apk, ask)) =>
        base.filter($"pk" > apk || ($"pk" === apk && $"sk" > ask))
      case None => base
    }
    paged.orderBy($"pk", $"sk").limit(pageSize)
  }

  /** Changes since a commit version — the ReadTableEntriesDelta analog
    * (WireCommands.java:2718): every PUT/REMOVE with version > from.
    */
  def deltaSince(fromVersion: Long): DataFrame =
    read(latest(), Some(fromVersion))
      .select($"bucket", $"pk", $"sk", $"value", $"op", $"version")

  def currentVersion: Long = latest().version

  /** The GC retention floor: manifest versions below it are retired.
    * 0 = never GC'd.
    */
  def manifestFloor: Long = chain.floor()

  /** This table incarnation's creation identity (minted by the v1
    * commit, carried by every commit after it; "" before the first
    * commit and on pre-upgrade chains). See [[KvManifest.incarnation]].
    */
  def incarnation: String = latest().incarnation

  /** (chain seq, floor record) — the `kv_describe_retention` surface. */
  def floorWithSeq: (Long, graft.catalog.ManifestFloor) = chain.floorWithSeq()

  /** Exact-key probe of the floor chain's permanent anchor (false on a
    * never-GC'd table).
    */
  def floorAnchorPresent: Boolean = chain.floorAnchorPresent()

  /** Retire manifest history older than `keepVersions` behind the tip —
    * the KVT side of manifest-log retention (the chain otherwise grows
    * one file per commit forever). KV manifests are SELF-CONTAINED full
    * state, so unlike the stream log no checkpoint base is needed: any
    * retained version reconstructs alone. [[ManifestChain.gc]] commits the
    * floor (stamped with the table's incarnation, so a chain surviving a
    * delete+recreate audits as stale), then deletes manifests below it.
    * As-of reads (`entriesAt`, SQL `VERSION AS OF`) below the floor fail
    * loudly at resolution; `deltaSince` and live reads only ever read the
    * LATEST manifest and are unaffected. Returns the retired versions.
    */
  def gcManifests(keepVersions: Int): Seq[Long] = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    chain.gc() { _ =>
      val m = latest()
      val cut = m.version - keepVersions
      if (cut <= 0 || cut <= manifestFloor) None else Some((cut, m.incarnation))
    }
  }

  /** Snapshot (time-travel) read: the table as of commit `version`.
    * Every commit writes an immutable `manifest-v` (the same history the
    * delta feed walks), so an as-of read is just latest-version resolution
    * over THAT manifest's file list — no version predicate on the scan,
    * and key-literal pruning composes exactly as on [[entries]]. Commits
    * after `version` (including compactions, which only fold files visible
    * at their own commit) are invisible by construction.
    *
    * Horizon: a compaction tombstones the files it replaced with a
    * reader-grace deadline and [[sweepDeletes]] reclaims them after it —
    * so snapshots remain readable for at least the grace period, and a
    * snapshot older than the last sweep may reference deleted files
    * (the standard retention-bounded time-travel contract).
    */
  def entriesAt(version: Long): DataFrame = resolvedAt(manifestAt(Some(version)))

  /** Latest commit version stamped at or before `epochMillis` — the
    * `TIMESTAMP AS OF` resolution surface (see
    * [[ManifestChain.versionAtTime]]): max{v : stamp(v) <= t}, mtime
    * fallback for pre-upgrade manifests. None if the table had no commit
    * yet at t; [[graft.core.TruncatedDataException]] when the instant falls
    * inside GC-retired history — with no version 0, that includes an
    * instant before the first commit once a floor exists.
    */
  def versionAtTime(epochMillis: Long): Option[Long] =
    chain.versionAtTime(epochMillis, () => Some(latest().version))(
      b => KeyValueTable.decode(b).committedAt)

  /** The committed manifest at `version` (None = latest) — the planning
    * surface for the SQL read path (`sources.GraftKvTable`), which needs
    * FILE LISTS, not DataFrames, to build its own co-located partitions.
    */
  private[graft] def manifestAt(version: Option[Long]): KvManifest = version match {
    case None => latest()
    case Some(v) if v <= 0L => KvManifest(name, partitionCount, 0L, Nil)
    case Some(v) =>
      // deliberately no latest() in the message: resolving the tip costs
      // a probe walk/LIST, and error paths (e.g. probing retired versions)
      // must stay O(1) — the floor covers the common cause
      chain.readAt(v)(readManifest).getOrElse(throw new IllegalArgumentException(
        s"kv table $name has no commit $v" +
          (if (manifestFloor > 0L) s" (versions below $manifestFloor are GC-retired)" else "")))
  }

  /** Integrity audit of this table's own storage (the KVT counterpart
    * of `tools.Fsck`'s stream checks — O(metadata), no data scan): the
    * manifest chain audit ([[ManifestChain.audit]]: history for the delta
    * feed and as-of reads, torn tip, GC floor), every
    * LIVE file present, and directory-parquet files that are neither
    * live nor pending-delete flagged as orphans (a crashed writer's
    * leak — harmless to reads, reclaimable). Returns human-readable
    * issue lines; empty = clean.
    */
  private[kv] def tableDirPath: String = tableDir.toString
  private[kv] def liveFilePaths: Seq[String] = latest().files.map(_.path)

  def fsck(): Seq[String] = {
    val issues = Seq.newBuilder[String]
    issues ++= KeyValueTable.auditChain(chain).map(i => s"${i.kind}: ${i.detail}")
    // a floor naming an unreachable retained chain throws loudly in
    // latest(); the audit above reported it, and there is no live
    // manifest to check files against
    val m =
      try latest()
      catch { case _: ManifestChainBrokenException => return issues.result() }
    m.files.foreach { f =>
      if (!fs.exists(new Path(f.path)))
        issues += s"file-missing: live ${f.kind} file ${f.path} (commit ${f.commitVersion})"
    }
    orphanDirs(m).foreach(s =>
      issues += s"orphan-dir: ${s.getPath} (unreferenced; crashed writer leak)")
    issues.result()
  }

  /** Delta-/base- dirs referenced by neither the live manifest nor its
    * pending deletes — the single enumeration `fsck` reports from and
    * `sweepOrphans` reclaims from, so the two can never drift apart.
    * Manifests hold paths as written (often scheme-less); listStatus
    * returns fully-qualified URIs — compare on the scheme-less path.
    */
  private def orphanDirs(m: KvManifest): Seq[org.apache.hadoop.fs.FileStatus] = {
    def norm(p: String) = new Path(p).toUri.getPath
    val referenced = (m.files.map(_.path) ++ m.pendingDeletes.map(_.path))
      .map(norm).toSet
    try fs.listStatus(tableDir)
      .filter(s => s.isDirectory && (s.getPath.getName.startsWith("delta-") ||
        s.getPath.getName.startsWith("base-")))
      .filterNot(s => referenced.contains(norm(s.getPath.toString)))
      .toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  // -------------------------------------------------------------- compaction

  /** Fold all deltas into a fresh base (TableCompactor/HashTableCompactor
    * analog): one partition-parallel rewrite, old files leave the manifest
    * atomically and are deleted best-effort.
    */
  def compact(): Unit = {
    // reclaim past-grace tombstones from EARLIER compactions first —
    // compaction is the only producer of pending deletes, so sweeping on
    // its cadence bounds the dead-file backlog without a separate daemon
    sweepDeletes()
    val m = latest()
    if (m.files.isEmpty) return
    val baseDir = new Path(tableDir, s"base-${m.version}-${UUID.randomUUID()}")
    resolvedAt(m)
      .select($"bucket", $"pk", $"sk", $"value", lit("PUT").as("op"), $"version")
      .repartition(partitionCount, $"bucket")
      .sortWithinPartitions($"bucket", $"pk", $"sk")
      .write.parquet(baseDir.toString)
    // replaced files become tombstones with a reader-grace deadline —
    // an in-flight read planned from the old manifest can finish;
    // sweepDeletes() reclaims them afterwards
    val deadline = System.currentTimeMillis() + deleteGraceMillis
    if (!commit(KvManifest(name, partitionCount, m.version + 1,
        Seq(KvFile(baseDir.toString, "base", m.version)),
        m.pendingDeletes ++ m.files.map(f => KvPendingDelete(f.path, deadline)),
        incarnation = m.incarnation),
        m.committedAt)) {
      fs.delete(baseDir, true)
      throw new GraftException(s"kv $name: compaction lost CAS; rerun")
    }
  }

  /** Physically delete past-deadline tombstones and clear them from the
    * manifest (delete-then-clear: idempotent across crashes).
    */
  def sweepDeletes(): Seq[String] = {
    val now = System.currentTimeMillis()
    val m = latest()
    val due = m.pendingDeletes.filter(_.notBefore <= now)
    if (due.isEmpty) return Nil
    // only paths whose delete actually succeeded count as done — a
    // failed delete keeps its tombstone so the next sweep retries it
    // (reporting it reclaimed would leak the file forever)
    val donePaths = due.map(_.path)
      .filter(p => scala.util.Try(fs.delete(new Path(p), true)).getOrElse(false))
      .toSet
    // a lost CAS is fine: the files are gone, tombstones clear on a later sweep
    commit(m.copy(version = m.version + 1,
      pendingDeletes = m.pendingDeletes.filterNot(p => donePaths.contains(p.path))),
      m.committedAt): Unit
    donePaths.toSeq.sorted
  }

  /** Reclaim crashed-writer leaks: delta-/base- dirs referenced by
    * neither the live manifest nor its pending deletes (the orphans
    * `fsck()` reports). `graceMillis` shields an IN-FLIGHT writer that
    * has written its delta but not yet won the manifest CAS — deploy
    * with grace > the longest write (mirrors the stream side's
    * `GraftStreams.sweepOrphans` contract); a writer that LOSES the CAS
    * deletes its own dir, so only crashes leak. Returns reclaimed paths.
    */
  def sweepOrphans(graceMillis: Long = 3600000L): Seq[String] = {
    val cutoff = System.currentTimeMillis() - graceMillis
    val victims = orphanDirs(latest())
      .filter(_.getModificationTime <= cutoff)
      .map(_.getPath)
    // report only what was actually reclaimed — a failed delete stays an
    // orphan and fsck re-flags it next run, so claiming it swept would
    // make the admin output lie
    victims.filter(p => scala.util.Try(fs.delete(p, true)).getOrElse(false))
      .map(_.toString).sorted
  }
}
