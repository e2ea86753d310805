package graft.kv

import graft.catalog.{LogState, ManifestChain, ManifestLog}
import graft.core.{ConditionalCheckFailedException, GraftException, ManifestChainBrokenException, PendingDelete}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.sources.{GraftKvScan, GraftKvTable}
import graft.storage.TaskFileWriter
import graft.util.EventLog
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.Resolver
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Murmur3HashFunction, UnsafeRow, XxHash64Function}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.RelationShim
import org.apache.spark.sql.sources.{EqualTo, In}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import java.util.UUID

/** Versioned, partitioned key-value table
  * (client/.../tables/KeyValueTable.java:119,
  * KeyValueTableConfiguration.java:39-55) re-expressed as an LSM over
  * parquet: every update batch writes one delta directory holding one
  * file per part index it touches, through the task-side
  * [[graft.storage.TaskFileWriter]], and commits it with a manifest CAS.
  * A driver-local batch (a local relation) is checked and written on the
  * calling thread with no Spark job; any other is one write job, shuffled
  * by bucket first. Reads resolve base+deltas by latest commit
  * version per key; compaction rewrites the resolved state as a new base
  * (TableCompactor analog). Entry versions are commit versions — exactly
  * the reference's monotonic per-entry `Version` semantics.
  *
  * The manifest is the stream's log ([[graft.catalog.ManifestLog]]): a
  * commit appends one delta record naming the directories it added or
  * removed. Chains written as full state per commit read unchanged.
  *
  * Scale: every read resolves through [[graft.sources.GraftKvScan]],
  * which relies on the write layout ([[KeyValueTable.partIndexOfBucket]]): a
  * key's whole history sits at one part index in every directory, so a
  * point read plans one partition, resolves without a shuffle, and reads
  * #deltas files, bounded by the compaction cadence. A `get` runs that
  * partition on the driver and holds only the requested key's history;
  * no other driver-side state.
  */
final case class KvFile(path: String, kind: String, commitVersion: Long)
/** One file a KV write task wrote: its part index, rows and bytes. */
final case class KvPartFile(partIndex: Int, path: String, rows: Long, bytes: Long)
/** A table's state at one commit: its live delta/base directories and
  * the compacted-away ones awaiting deletion after their reader-grace
  * deadline (see StreamCatalog.sweepDeletes rationale).
  */
final case class KvManifest(name: String, partitionCount: Int, version: Long,
                            files: Seq[KvFile],
                            pendingDeletes: Seq[PendingDelete] = Nil,
                            /** As StreamMetadata.committedAt (0 = pre-upgrade). */
                            committedAt: Long = 0L,
                            /** As StreamMetadata.incarnation, minted in the
                              * v0 identity record ("" = pre-upgrade).
                              */
                            incarnation: String = "")

object KeyValueTable {
  /** Conditional batches up to this many keys are compared on the
    * driver against a pk-literal (part-index-pruned) read; larger batches
    * fall back to a broadcast semi-join above the same scan.
    */
  val ConditionPruneLimit: Int = 1024

  /** The columns a point read asks its scan for, in this order. */
  private val PointColumns: StructType =
    StructType.fromDDL("pk STRING, sk STRING, value BINARY, version BIGINT")

  /** The columns a conditional check reads, in this order. */
  private val CheckColumns: StructType = StructType.fromDDL("pk STRING, sk STRING, version BIGINT")

  /** Driver-side KV IO, which no task reports: one `event=kv.read` or
    * `event=kv.write` line per read or write on the `graft.kv` logger.
    */
  private[graft] val events = new EventLog("graft.kv")

  /** A key's bucket: the write path's `pmod(xxhash64(pk), n)`, replicated
    * on the driver so a key becomes a literal without a Spark job.
    */
  def bucketOf(pk: String, partitionCount: Int): Long = bucketOf(UTF8String.fromString(pk), partitionCount)

  private def bucketOf(pk: UTF8String, partitionCount: Int): Long = {
    val h = XxHash64Function.hash(pk, StringType, 42L)
    ((h % partitionCount) + partitionCount) % partitionCount
  }

  /** The part-file index a bucket lands at, `pmod(murmur3(bucket, 42), n)`:
    * every write names its files `part-<index>` by it, and it is also
    * Spark's hash partitioning, so `repartition(n, bucket)` puts a part
    * index in the task of that number. The co-located scan's pruning is
    * sound only while this holds (`KvLayoutSpec` checks it against the
    * files).
    */
  def partIndexOfBucket(bucket: Long, partitionCount: Int): Int = {
    val h = Murmur3HashFunction.hash(bucket, LongType, 42L).toInt
    ((h % partitionCount) + partitionCount) % partitionCount
  }

  /** [[partIndexOfBucket]] as a column: `hash` is Murmur3 with seed 42. */
  private def partIndex(bucket: Column, partitionCount: Int): Column =
    pmod(hash(bucket), lit(partitionCount))

  /** KV files: `part-NNNNN-<attempt>` per part index of the bucket
    * (column 0); with `version`, each row's version (column 5) is that
    * commit version, set in place.
    */
  private final class PartLayout(partitionCount: Int, version: Option[Long])
      extends TaskFileWriter.Layout[KvPartFile] {
    def schema: StructType = GraftKvTable.schema
    def fileKey(row: InternalRow): Long = partIndexOfBucket(row.getLong(0), partitionCount)
    def fileName(idx: Long, token: TaskFileWriter.Token): String = f"part-$idx%05d-${token.attempt}"
    def newFile(idx: Long): TaskFileWriter.FileRows[KvPartFile] = new TaskFileWriter.FileRows[KvPartFile] {
      def add(r: InternalRow, i: Long): InternalRow = version.fold(r) { v =>
        val m = r match { case u: UnsafeRow => u; case o => o.copy() }
        m.setLong(5, v)
        m
      }
      def entry(path: String, rows: Long, bytes: Long): KvPartFile =
        KvPartFile(idx.toInt, path, rows, bytes)
    }
  }

  /** A batch whose rows are already on the driver, so it is checked and
    * written on the calling thread: `rows` are the delta's rows in the
    * table schema (version 0 until [[PartLayout]] stamps the commit's),
    * sorted by (part index, bucket, pk, sk) in Spark's binary string
    * order, stably, so the files hold what the write job's
    * `sortWithinPartitions` writes; `conds` are its (pk, sk,
    * expectedVersion) conditions in row order.
    */
  private final case class LocalBatch(rows: Seq[InternalRow], conds: Seq[(String, String, Long)])

  private object LocalBatch {
    /** `frame`'s batch when its optimized plan is a local relation whose
      * columns have the types the table stores; None otherwise (the write
      * job then casts or rejects them as before). `fixed` is every row's
      * (op, expectedVersion) when the frame does not carry them; a REMOVE's
      * value is null.
      */
    def apply(frame: DataFrame, fixed: Option[(String, Long)], partitionCount: Int,
              resolver: Resolver): Option[LocalBatch] = frame.queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        def ord(col: String, t: DataType): Option[Int] =
          l.output.zipWithIndex.filter(a => resolver(a._1.name, col)) match {
            case Seq((a, i)) if a.dataType == t => Some(i)
            case _ => None
          }
        def str(r: InternalRow, i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i).clone()
        for {
          pk <- ord("pk", StringType)
          sk <- ord("sk", StringType)
          value <- if (fixed.exists(_._1 == "REMOVE")) Some(-1) else ord("value", BinaryType)
          op <- if (fixed.isDefined) Some(-1) else ord("op", StringType)
          expected <- if (fixed.isDefined) Some(-1) else ord("expectedVersion", LongType)
        } yield {
          val fixedOp = fixed.map(f => UTF8String.fromString(f._1)).orNull
          val keyed = l.data.map { r =>
            val p = str(r, pk)
            val bucket = bucketOf(p, partitionCount)
            val row = new GenericInternalRow(Array[Any](bucket, p,
              if (r.isNullAt(sk)) UTF8String.EMPTY_UTF8 else r.getUTF8String(sk).clone(),
              if (value < 0 || r.isNullAt(value)) null else r.getBinary(value),
              if (op < 0) fixedOp else str(r, op), 0L))
            val e = fixed.fold(if (r.isNullAt(expected)) -1L else r.getLong(expected))(_._2)
            (partIndexOfBucket(bucket, partitionCount), row, e)
          }
          LocalBatch(keyed.sorted(FileOrder).map(_._2),
            keyed.collect { case (_, r, e) if e >= 0L =>
              (Option(r.getUTF8String(1)).map(_.toString).orNull, r.getUTF8String(2).toString, e)
            })
        }
      case _ => None
    }

    /** (part index, bucket, pk, sk) ascending, a null pk first. */
    private val FileOrder: Ordering[(Int, InternalRow, Long)] = (a, b) => {
      val (x, y) = (a._2, b._2)
      def pk = (x.getUTF8String(1), y.getUTF8String(1)) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (p, q) => p.compareTo(q)
      }
      val c = Integer.compare(a._1, b._1)
      if (c != 0) c else {
        val d = java.lang.Long.compare(x.getLong(0), y.getLong(0))
        if (d != 0) d else {
          val e = pk
          if (e != 0) e else x.getUTF8String(2).compareTo(y.getUTF8String(2))
        }
      }
    }
  }

  /** How the manifest log reads and stamps a table's state. */
  private implicit object KvLog extends LogState[KvManifest, KvFile] {
    def version(m: KvManifest): Long = m.version
    def committedAt(m: KvManifest): Long = m.committedAt
    def incarnation(m: KvManifest): String = m.incarnation
    def files(m: KvManifest): Seq[KvFile] = m.files
    def pendingDeletes(m: KvManifest): Seq[PendingDelete] = m.pendingDeletes
    def path(f: KvFile): String = f.path
    def stamped(m: KvManifest, committedAt: Long, incarnation: String): KvManifest =
      m.copy(committedAt = committedAt, incarnation = incarnation)
    def withLists(m: KvManifest, files: Seq[KvFile], pendingDeletes: Seq[PendingDelete]): KvManifest =
      m.copy(files = files, pendingDeletes = pendingDeletes)
  }

  /** The table's manifest log under `metaDir`. Commit versions start at 1
    * (an empty table is version 0, so entry versions stay strictly
    * positive and never collide with the expectedVersion=0 "must not
    * exist" sentinel); version 0 is the identity record only.
    */
  private[graft] def manifestLog(fsf: () => FileSystem, metaDir: Path,
                                 label: String): ManifestLog[KvManifest, KvFile] =
    new ManifestLog[KvManifest, KvFile](fsf, metaDir, first = 1L,
      graft.catalog.StreamCatalog.DefaultCheckpointInterval, label, new IllegalArgumentException(_))
}

class KeyValueTable(spark: SparkSession, rootDir: String, val name: String,
                    val partitionCount: Int = 16,
                    deleteGraceMillis: Long = graft.catalog.StreamCatalog.DefaultDeleteGraceMillis,
                    hadoopConf: Configuration = new Configuration()) {
  import spark.implicits._

  private val tableDir = new Path(new Path(rootDir), name)
  private val metaDir = new Path(tableDir, "_meta")
  private def fs: FileSystem = tableDir.getFileSystem(hadoopConf)

  // ------------------------------------------------------------- manifest io

  // the GC retention floor rides the chain: `floor-<seq>.json` records
  // under _meta, outside the `manifest-*` names
  private val log = KeyValueTable.manifestLog(() => fs, metaDir, s"kv table $name")
  private def chain: ManifestChain = log.chain

  private def empty: KvManifest = KvManifest(name, partitionCount, 0L, Nil)

  /** The newest committed manifest (empty table = version 0). */
  private def latest(): KvManifest = log.tip().getOrElse(empty)

  /** `m`, once the log has its v0 identity record: the first commit
    * writes it (see [[ManifestLog.ensureIdentity]] for older chains).
    */
  private def identified(m: KvManifest): KvManifest =
    if (m.version > 0L) { log.ensureIdentity(empty, m.incarnation); m }
    else log.create(empty).orElse(log.at(0L))
      .getOrElse(throw new GraftException(s"kv $name: identity record unreadable"))

  /** CAS `next` on top of `prev`; false = the version was already taken. */
  private def commit(next: KvManifest, prev: KvManifest): Boolean =
    log.write(next, Some(identified(prev))).isDefined

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
  def update(ops: DataFrame): Long = updateWith(ops, None)

  /** [[update]] of `frame`, with every row's op and expectedVersion
    * `fixed` when given (a REMOVE's value is null). A batch whose rows are
    * on the driver ([[KeyValueTable.LocalBatch]]) is checked and written
    * on the calling thread with no Spark job; any other is one write job,
    * shuffled by bucket, one task per part index: without the shuffle
    * every input task would write its own file per part index, and every
    * get reads all of a part index's files.
    */
  private def updateWith(frame: DataFrame, fixed: Option[(String, Long)]): Long = {
    val local = KeyValueTable.LocalBatch(frame, fixed, partitionCount, spark.sessionState.conf.resolver)
    lazy val keyed = fixed.fold(frame) { case (op, expected) =>
      (if (op == "REMOVE") frame.withColumn("value", lit(null).cast("binary")) else frame)
        .withColumn("op", lit(op)).withColumn("expectedVersion", lit(expected))
    }.withColumn("sk", coalesce($"sk", lit("")))
      .withColumn("bucket", pmod(xxhash64($"pk"), lit(partitionCount)))
    lazy val conds = keyed.filter($"expectedVersion" >= 0)
    // the conditions, one past the limit: a batch within it is compared
    // on the driver, a larger one semi-joins a broadcast of its keys
    val condRows: Seq[(String, String, Long)] = local.fold(
      conds.select($"pk", $"sk", $"expectedVersion").limit(KeyValueTable.ConditionPruneLimit + 1)
        .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2))))(
      _.conds.take(KeyValueTable.ConditionPruneLimit + 1))
    var attempts = 0
    while (true) {
      val m = latest()
      val commitVersion = m.version + 1
      // conditional checks against the state of manifest m (the one
      // this commit CASes on), for the TOUCHED keys only
      if (condRows.nonEmpty)
        (if (condRows.length <= KeyValueTable.ConditionPruneLimit) violated(m, condRows)
         else violatedJoin(m, conds)).foreach { case (pk, e, v) =>
          throw new ConditionalCheckFailedException(
            s"kv $name: condition failed for pk=$pk expected=$e actual=${v.getOrElse("absent")}")
        }

      val deltaDir = new Path(tableDir, s"delta-$commitVersion-${UUID.randomUUID()}")
      val layout = new KeyValueTable.PartLayout(partitionCount, Some(commitVersion))
      local match {
        case Some(b) =>
          TaskFileWriter.writeHere(spark, "graft.kvUpdate", b.rows.iterator, deltaDir, layout) {
            (files, bytes, rows) =>
              KeyValueTable.events("kv.write", "table" -> name, "version" -> commitVersion,
                "files" -> files, "rows" -> rows, "bytes" -> bytes)
          }
          if (b.rows.isEmpty) fs.mkdirs(deltaDir)
        case None =>
          writeParts("graft.kvUpdate", keyed.select($"bucket", $"pk", $"sk", $"value", $"op",
            lit(0L).as("version")).repartition(partitionCount, $"bucket"), deltaDir, layout)
      }

      if (commit(m.copy(version = commitVersion,
          files = m.files :+ KvFile(deltaDir.toString, "delta", commitVersion)), m))
        return commitVersion
      fs.delete(deltaDir, true) // lost the race: re-check conditions on fresh state
      attempts += 1
      if (attempts > 10) throw new ConditionalCheckFailedException(s"kv $name: CAS lost $attempts times")
    }
    -1L // unreachable
  }

  private def violates(expected: Long, actual: Option[Long]): Boolean =
    if (expected == 0L) actual.isDefined else !actual.contains(expected)

  /** The first of `conds` (pk, sk, expectedVersion) that manifest `m`
    * violates, as (pk, expected, actual): the current versions are read
    * on the calling thread through pushed pk literals, one part index
    * per distinct pk.
    */
  private def violated(m: KvManifest, conds: Seq[(String, String, Long)]): Option[(String, Long, Option[Long])] = {
    val scan = new GraftKvScan(spark, this, None, None, None, KeyValueTable.CheckColumns,
      GraftKvTable.DefaultResolvedBudgetBytes, Array(In("pk", conds.map(_._1).distinct.toArray[Any])), Some(m))
    val cur = scan.readOnDriver()
      .map(r => (r.getUTF8String(0).toString, r.getUTF8String(1).toString) -> r.getLong(2)).toMap
    conds.iterator.map { case (pk, sk, e) => (pk, e, cur.get((pk, sk))) }
      .find { case (_, e, v) => violates(e, v) }
  }

  /** [[violated]] for batches past [[KeyValueTable.ConditionPruneLimit]]:
    * the scan of `m` semi-joins a broadcast of the conditioned keys.
    */
  private def violatedJoin(m: KvManifest, conds: DataFrame): Option[(String, Long, Option[Long])] = {
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

  /** Write `rows` (the table schema) into `dir` through [[TaskFileWriter]]:
    * each task sorts by (part index, bucket, pk, sk) and writes one
    * `part-NNNNN` file per part index it holds. An empty write still
    * leaves `dir`, so a committed directory always lists.
    */
  private def writeParts(name: String, rows: DataFrame, dir: Path, layout: KeyValueTable.PartLayout): Unit = {
    val files = TaskFileWriter.write(spark, name,
      rows.sortWithinPartitions(KeyValueTable.partIndex($"bucket", partitionCount),
        $"bucket", $"pk", $"sk"),
      dir, layout)
    if (files.isEmpty) fs.mkdirs(dir)
  }

  /** Insert: fail if the key already exists (client/.../tables/Insert.java). */
  def insert(entries: DataFrame): Long = updateWith(entries, Some(("PUT", 0L)))

  /** Unconditional Put (client/.../tables/Put.java). */
  def put(entries: DataFrame): Long = updateWith(entries, Some(("PUT", -1L)))

  /** Conditional Put against an exact entry version (>= 1: commit
    * versions start at 1). The other modes have their own calls.
    */
  def putIfVersion(entries: DataFrame, expectedVersion: Long): Long = {
    require(expectedVersion >= 1L,
      s"putIfVersion needs an entry version >= 1, got $expectedVersion: " +
        "use put for an unconditional write or insert to write only if absent")
    updateWith(entries, Some(("PUT", expectedVersion)))
  }

  /** Remove keys; `df` needs pk + sk. (client/.../tables/Remove.java). */
  def remove(keys: DataFrame): Long = updateWith(keys, Some(("REMOVE", -1L)))

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

  /** Point lookup (KeyValueTable.java:181 get): the scan [[getAll]]
    * runs, pushed `pk = <pk>` and pinned to the latest manifest, read on
    * the calling thread with no Dataset and no Spark job. It plans one
    * part index and folds only `pk`'s history.
    */
  def get(pk: String, sk: String = ""): Option[(Array[Byte], Long)] = {
    val scan = new GraftKvScan(spark, this, None, None, None, KeyValueTable.PointColumns,
      GraftKvTable.DefaultResolvedBudgetBytes, Array(EqualTo("pk", pk)), Some(latest()))
    scan.readOnDriver().collectFirst {
      case r if r.getUTF8String(0).toString == pk && r.getUTF8String(1).toString == sk =>
        (r.getBinary(2), r.getLong(3))
    }
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
    * (WireCommands.java:2718): the PUT/REMOVE rows with version > from in
    * the latest manifest's files. Horizon: `compact()` folds every file it
    * replaces into a base of the latest live row per key, so below the last
    * compaction the feed returns those live rows (at their entry versions),
    * not every PUT and REMOVE: after `put(a, b)`, `remove(a)`, `compact()`,
    * `deltaSince(0)` is `[b PUT 1]`.
    */
  def deltaSince(fromVersion: Long): DataFrame =
    read(latest(), Some(fromVersion))
      .select($"bucket", $"pk", $"sk", $"value", $"op", $"version")

  def currentVersion: Long = latest().version

  /** The GC retention floor: manifest versions below it are retired.
    * 0 = never GC'd.
    */
  def manifestFloor: Long = chain.floor()

  /** This table incarnation's creation identity (minted with the v0
    * identity record by the first commit, carried by every commit after
    * it; "" before the first commit and on pre-upgrade chains). See
    * [[KvManifest.incarnation]].
    */
  def incarnation: String = latest().incarnation

  /** (chain seq, floor record) — the `kv_describe_retention` surface. */
  def floorWithSeq: (Long, graft.catalog.ManifestFloor) = chain.floorWithSeq()

  /** Exact-key probe of the floor chain's permanent anchor (false on a
    * never-GC'd table).
    */
  def floorAnchorPresent: Boolean = chain.floorAnchorPresent()

  /** Retire manifest history older than `keepVersions` behind the tip
    * (see [[ManifestLog.gc]]; the chain otherwise grows one file per
    * commit forever). The floor is stamped with the table's incarnation,
    * so a chain surviving a delete+recreate audits as stale. As-of reads
    * (`entriesAt`, SQL `VERSION AS OF`) below the floor fail loudly at
    * resolution; `deltaSince` and live reads only ever read the LATEST
    * manifest and are unaffected. Returns the retired versions.
    */
  def gcManifests(keepVersions: Int): Seq[Long] = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    val m = latest()
    if (m.version == 0L) Nil else { identified(m); log.gc(keepVersions) }
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
    log.versionAtTime(epochMillis, () => Some(latest().version))

  /** The committed manifest at `version` (None = latest) — the planning
    * surface for the SQL read path (`sources.GraftKvTable`), which needs
    * FILE LISTS, not DataFrames, to build its own co-located partitions.
    */
  private[graft] def manifestAt(version: Option[Long]): KvManifest = version match {
    case None => latest()
    case Some(v) if v <= 0L => empty
    case Some(v) =>
      // deliberately no latest() in the message: resolving the tip costs
      // a probe walk/LIST, and error paths (e.g. probing retired versions)
      // must stay O(1) — the floor covers the common cause
      log.at(v).getOrElse(throw new IllegalArgumentException(
        s"kv table $name has no commit $v" +
          (if (manifestFloor > 0L) s" (versions below $manifestFloor are GC-retired)" else "")))
  }

  /** Every retained manifest version, ascending (see [[ManifestChain.list]]). */
  private[graft] def manifestVersions: Seq[Long] = chain.list()

  private[kv] def tableDirPath: String = tableDir.toString
  private[kv] def liveFilePaths: Seq[String] = latest().files.map(_.path)

  /** Integrity audit of this table's own storage (the KVT counterpart
    * of `tools.Fsck`'s stream checks — O(metadata), no data scan): the
    * manifest chain audit ([[ManifestChain.audit]]: history for the delta
    * feed and as-of reads, torn tip, GC floor), every
    * LIVE file present, and directory-parquet files that are neither
    * live nor pending-delete flagged as orphans (a crashed writer's
    * leak — harmless to reads, reclaimable). Returns human-readable
    * issue lines; empty = clean.
    */
  def fsck(): Seq[String] = {
    val issues = Seq.newBuilder[String]
    issues ++= log.audit().map(i => s"${i.kind}: ${i.detail}")
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
    writeParts("graft.kvCompact", resolvedAt(m)
      .select($"bucket", $"pk", $"sk", $"value", lit("PUT").as("op"), $"version")
      .repartition(partitionCount, $"bucket"), baseDir, new KeyValueTable.PartLayout(partitionCount, None))
    // replaced files become tombstones with a reader-grace deadline —
    // an in-flight read planned from the old manifest can finish;
    // sweepDeletes() reclaims them afterwards
    val deadline = System.currentTimeMillis() + deleteGraceMillis
    if (!commit(m.copy(version = m.version + 1,
        files = Seq(KvFile(baseDir.toString, "base", m.version)),
        pendingDeletes = m.pendingDeletes ++ m.files.map(f => PendingDelete(f.path, deadline))),
        m)) {
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
    // only paths that are gone count as done — a failed delete keeps its
    // tombstone so the next sweep retries it (reporting it reclaimed would
    // leak the file forever)
    val donePaths = ManifestChain.deleteTombstoned(fs, due.map(_.path)).toSet
    // a lost CAS is fine: the files are gone, tombstones clear on a later sweep
    commit(m.copy(version = m.version + 1,
      pendingDeletes = m.pendingDeletes.filterNot(p => donePaths.contains(p.path))), m): Unit
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
