package graft.sources

import graft.kv.{KeyValueTable, KvManifest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.graftshim.ParquetShim
import org.apache.spark.sql.sources.{And, EqualNullSafe, EqualTo, Filter, GreaterThan, In, IsNull, LessThanOrEqual, Or}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** SQL read surface for key-value tables — the reference's
  * `KeyValueTable` as a first-class queryable primitive
  * (client/.../tables/KeyValueTable.java:119, surfaced through
  * `KeyValueTableManager` the way streams surface through
  * StreamManager). Resolves `SELECT * FROM <cat>.<scope>.<kvt>` to the
  * RESOLVED LSM state (latest PUT per key wins, tombstones hide removed
  * keys), `VERSION AS OF v` to [[KeyValueTable.entriesAt]] semantics,
  * and read options `fromVersion`/`toVersion` to the
  * ReadTableEntriesDelta feed (WireCommands.java:2718): raw PUT/REMOVE
  * rows with commit version ∈ (from, to] in the files of the manifest at
  * `to`. Below that manifest's last compaction the feed returns the
  * base's latest live rows, not every PUT/REMOVE (see
  * [[KeyValueTable.deltaSince]]). Writes, TRUNCATE and
  * streaming reads are rejected — the typed API stays the mutation
  * surface, exactly like the reference keeps table writes behind the
  * client.
  *
  * Scale design: every KV write (update and compaction) names each file
  * by the part index of its rows' bucket
  * ([[KeyValueTable.partIndexOfBucket]]), one file per touched index, so
  * a key's ENTIRE history sits at the same part-file INDEX in every
  * delta/base directory (partitionCount is creation-time immutable).
  * The scan therefore plans one InputPartition per part index: each
  * reader merges only its own files — complete key groups, zero read
  * amplification, no shuffle, no window — and resolves latest-per-key in
  * a hash map bounded by live keys / partitionCount (the same
  * per-bucket memory bound compaction's shuffle and the reference's
  * fixed table-partition layout already assume; the knob is
  * partitionCount at creation). Column pruning reaches parquet — `value`
  * bytes are read only when the query asks for them; a pushed
  * `version > from` filter prunes delta-feed row groups, and whole
  * directories drop at plan time via the manifest's `commitVersion`.
  * `pk` literals map to their part indices through the same hashing
  * ([[KeyValueTable.partIndexOfBucket]]), so a point read plans one partition.
  *
  * This is the only KV resolver: the typed API ([[KeyValueTable]]
  * reads, conditional checks, compaction) reads through the same scan,
  * pinned to the manifest it already resolved. A point `get` runs that
  * scan's own planning and reader fold on the calling thread
  * ([[GraftKvScan.readOnDriver]]), with no Dataset and no Spark job;
  * every other read runs it as a Spark scan.
  */
object GraftKvTable {
  /** Raw file layout = table schema; resolved reads report op='PUT'. */
  val schema: StructType = StructType.fromDDL(
    "bucket BIGINT, pk STRING, sk STRING, value BINARY, op STRING, version BIGINT")

  /** Part index from the write path's deterministic file naming
    * (`part-00007-<uuid>…`); -1 for non-data entries.
    */
  def partIndexOf(fileName: String): Int =
    if (!fileName.startsWith("part-") || fileName.length < 10) -1
    else try fileName.substring(5, 10).toInt catch { case _: NumberFormatException => -1 }

  /** Default cap on one partition's resolved-key working set. The
    * resolved-mode reader folds latest-per-key in an in-heap map bounded
    * by live keys / partitionCount — a creation-time layout assumption
    * (the reference's fixed table-partition count makes the same one). A
    * misconfigured partitionCount must fail LOUDLY naming the remedy,
    * not OOM the executor; override per read with the
    * `resolvedBudgetBytes` option.
    */
  val DefaultResolvedBudgetBytes: Long = 2L << 30

  /** Columns constant within a key group: filters over only these are
    * sound below resolution.
    */
  val KeyColumns: Set[String] = Set("bucket", "pk", "sk")

  /** The pk values a conjunction of filters admits, when it names them
    * as literals (`pk = 'a'`, `pk IN (...)`, and their And/Or
    * combinations); None when some admitted row's pk is unbounded.
    */
  def pkLiterals(conjuncts: Seq[Filter]): Option[Set[String]] = {
    def of(f: Filter): Option[Set[String]] = f match {
      case EqualTo("pk", v: String) => Some(Set(v))
      case EqualNullSafe("pk", v: String) => Some(Set(v))
      case In("pk", vs) if vs.forall(_.isInstanceOf[String]) =>
        Some(vs.map(_.asInstanceOf[String]).toSet)
      case And(a, b) => both(of(a), of(b))
      case Or(a, b) => for (x <- of(a); y <- of(b)) yield x ++ y
      case _ => None
    }
    def both(a: Option[Set[String]], b: Option[Set[String]]) = (a, b) match {
      case (Some(x), Some(y)) => Some(x intersect y)
      case _ => a.orElse(b)
    }
    conjuncts.map(of).foldLeft(Option.empty[Set[String]])(both)
  }
}

class GraftKvTable(kvt: KeyValueTable, displayName: String, asOfVersion: Option[Long],
                   pinned: Option[KvManifest] = None) extends Table
    with SupportsRead {

  override def name(): String =
    s"graft-kv:$displayName" + asOfVersion.fold("")(v => s"@v$v")
  override def schema(): StructType = GraftKvTable.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val asOf = Option(options.get("asOfVersion")).map(_.toLong).orElse(asOfVersion)
    val fromV = Option(options.get("fromVersion")).map(_.toLong)
    val toV = Option(options.get("toVersion")).map(_.toLong)
    require(fromV.isDefined || toV.isEmpty,
      "toVersion requires fromVersion (the delta feed reads (from, to])")
    require(fromV.isEmpty || asOf.isEmpty,
      "fromVersion/toVersion (delta feed) and VERSION AS OF are mutually exclusive")
    val budget = Option(options.get("resolvedBudgetBytes")).map(_.toLong)
      .getOrElse(GraftKvTable.DefaultResolvedBudgetBytes)
    new GraftKvScanBuilder(SparkSession.active, kvt, asOf, fromV, toV, budget, pinned)
  }
}

/** Filter pushdown over the KEY columns (bucket, pk, sk). Each is
  * constant within a key group, so a filter over them keeps or drops
  * whole groups and may reach parquet row-group stats BELOW resolution
  * without changing which version wins. `pk` equality/IN literals also
  * prune whole part indices at plan time. Every filter is returned to
  * Spark for re-evaluation: pruning changes what is read, never an
  * answer.
  */
class GraftKvScanBuilder(spark: SparkSession, kvt: KeyValueTable,
                         asOf: Option[Long], fromV: Option[Long], toV: Option[Long],
                         budgetBytes: Long, pinned: Option[KvManifest])
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = GraftKvTable.schema
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(s: StructType): Unit = required = s
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(_.references.forall(GraftKvTable.KeyColumns))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan =
    new GraftKvScan(spark, kvt, asOf, fromV, toV, required, budgetBytes, pushed, pinned)
}

class GraftKvScan(spark: SparkSession, kvt: KeyValueTable,
                  asOf: Option[Long], fromV: Option[Long], toV: Option[Long],
                  required: StructType,
                  budgetBytes: Long, private[graft] val pushedFilters: Array[Filter],
                  pinned: Option[KvManifest])
    extends Scan with Batch with SupportsReportStatistics {
  private val delta = fromV.isDefined
  // parquet read set: requested columns plus what the mode itself keys
  // on — resolution needs (pk, sk, op, version); the delta filter needs
  // version. Table order is file order, so the subset stays aligned.
  private[sources] val parquetReadSchema: StructType = readSchemaInternal
  private def readSchemaInternal: StructType = {
    val need = required.fieldNames.toSet ++
      (if (delta) Set("version") else Set("pk", "sk", "op", "version"))
    StructType(GraftKvTable.schema.fields.filter(f => need.contains(f.name)))
  }
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val mode =
      if (delta) s"delta (${fromV.get}, ${toV.fold("latest")(_.toString)}]"
      else asOf.fold("resolved")(v => s"resolved@v$v")
    s"graft-kv ${kvt.name} $mode, read=${parquetReadSchema.fieldNames.mkString(",")}" +
      s", pushed=[${pushedFilters.mkString(", ")}]"
  }

  /** The manifest this scan reads: the delta feed reads the file set AT
    * toVersion (bounded history); resolved/as-of reads the manifest they
    * resolve against; typed API reads arrive with the manifest they
    * already resolved.
    */
  private lazy val manifest: KvManifest = pinned.getOrElse(kvt.manifestAt(if (delta) toV else asOf))

  /** Part indices a pk literal set touches (None = no pk literal bound). */
  private lazy val touchedParts: Option[Set[Int]] =
    GraftKvTable.pkLiterals(pushedFilters).map(_.map(pk =>
      KeyValueTable.partIndexOfBucket(KeyValueTable.bucketOf(pk, kvt.partitionCount),
        kvt.partitionCount)))

  /** (part index, files) for every planned index, listed once per scan
    * and shared by statistics and planning.
    */
  private lazy val planned: Seq[(Int, Vector[PartitionedFile])] = {
    // dir-level pruning: delta dirs wholly outside (from, to] never list
    val dirs = manifest.files.filter(f => !delta || f.commitVersion > fromV.get)
    val keep = touchedParts.getOrElse((0 until kvt.partitionCount).toSet)
    val conf = spark.sessionState.newHadoopConf()
    val byIdx = scala.collection.mutable.Map.empty[Int, Vector[PartitionedFile]]
    dirs.foreach { d =>
      val p = new Path(d.path)
      val fs = p.getFileSystem(conf)
      fs.listStatus(p).foreach { st =>
        val idx = GraftKvTable.partIndexOf(st.getPath.getName)
        if (idx >= 0 && keep(idx))
          byIdx(idx) = byIdx.getOrElse(idx, Vector.empty) :+
            ParquetShim.partitionedFile(InternalRow.empty, st)
      }
    }
    byIdx.toSeq.sortBy(_._1)
  }

  // planned file bytes, as a parquet relation reports them: without
  // statistics Spark sizes a DSv2 scan at spark.sql.defaultSizeInBytes
  // and never plans a join with KV entries as a broadcast
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(planned.iterator.flatMap(_._2).map(_.length).sum)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  override def supportedCustomMetrics(): Array[CustomMetric] = Array(new KvRowsReadMetric)

  override def planInputPartitions(): Array[InputPartition] =
    planned.map { case (idx, pfs) =>
      GraftKvInputPartition(idx, FilePartition(idx, pfs.toArray))
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    // pushed version bounds prune delta-feed row groups via parquet stats
    val versionBounds: Array[Filter] =
      if (!delta) Array.empty
      else Array[Filter](GreaterThan("version", fromV.get)) ++
        toV.map(t => LessThanOrEqual("version", t))
    // key filters prune row groups in every mode. A stored null sk reads
    // as "" (see the reader), so a filter over sk also keeps null-sk rows
    // and the reader's fold sees the whole ("" sk) key group.
    val keyFilters = pushedFilters.map(f =>
      if (f.references.contains("sk")) Or(f, IsNull("sk")) else f)
    new GraftKvReaderFactory(
      ParquetShim.parquetReaderFactory(spark, GraftKvTable.schema,
        new StructType(), parquetReadSchema, versionBounds ++ keyFilters),
      parquetReadSchema.fieldNames, required.fieldNames,
      delta, fromV.getOrElse(-1L), toV.getOrElse(Long.MaxValue),
      budgetBytes, kvt.partitionCount, GraftKvTable.pkLiterals(pushedFilters))
  }

  /** This scan's rows, read on the calling thread: its own planning and
    * reader factory, every partition drained and closed in turn. For
    * reads small enough to hold on the driver, such as a point read or a
    * conditional put's check. No task reports this read, so it is one
    * `event=kv.read` line on the `graft.kv` logger: the manifest version,
    * the files planned, the rows read from them and their bytes.
    */
  private[graft] def readOnDriver(): Seq[InternalRow] = {
    val factory = createReaderFactory()
    var rowsRead = 0L
    val out = planInputPartitions().toSeq.flatMap { p =>
      val reader = factory.createReader(p)
      try {
        val rows = Vector.newBuilder[InternalRow]
        while (reader.next()) rows += reader.get().copy()
        rowsRead += reader.currentMetricsValues().map(_.value).sum
        rows.result()
      } finally reader.close()
    }
    val files = planned.flatMap(_._2)
    KeyValueTable.events("kv.read", "table" -> kvt.name, "version" -> manifest.version,
      "files" -> files.size, "rows" -> rowsRead, "bytes" -> files.map(_.length).sum)
    out
  }
}

final case class GraftKvInputPartition(partIdx: Int, files: FilePartition)
    extends InputPartition

/** Row-mode readers over the stock vectorized-parquet delegate. Resolved
  * mode folds its partition's complete key histories into a hash map
  * (latest version wins, REMOVE winners drop) and emits the live rows;
  * delta mode streams rows through a version-window filter. With `pks`
  * (the pushed pk literals), the fold skips rows of every other pk: key
  * filters keep or drop whole key groups, so this changes what is held,
  * never an answer.
  */
final class GraftKvReaderFactory(delegate: PartitionReaderFactory,
    readNames: Array[String], outNames: Array[String],
    delta: Boolean, fromV: Long, toV: Long,
    budgetBytes: Long = GraftKvTable.DefaultResolvedBudgetBytes,
    partitionCount: Int = -1,
    pks: Option[Set[String]] = None) extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val inner = delegate.createReader(p.asInstanceOf[GraftKvInputPartition].files)
    def ord(n: String) = readNames.indexOf(n)
    val (bkO, pkO, skO, vaO, opO, veO) =
      (ord("bucket"), ord("pk"), ord("sk"), ord("value"), ord("op"), ord("version"))
    val outOrds = outNames.map(n => readNames.indexOf(n))
    if (delta) new KvReader(inner) {
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (innerNext()) {
          val r = inner.get()
          val v = r.getLong(veO)
          if (v > fromV && v <= toV) {
            val out = new GenericInternalRow(outOrds.length)
            var i = 0
            while (i < outOrds.length) {
              out.update(i, copyOf(r, outOrds(i), outNames(i))); i += 1
            }
            row = out
            return true
          }
        }
        false
      }
      override def get(): InternalRow = row
    } else new KvReader(inner) {
      // (pk, sk) -> (version, bucket, isPut, value) — complete key
      // histories live in this partition by the write-layout invariant,
      // so latest-wins folds locally; bounded by live keys / partitions
      private var it: Iterator[InternalRow] = _
      private def resolveAll(): Iterator[InternalRow] = {
        val m = new java.util.HashMap[(String, String), (Long, Long, Boolean, Array[Byte])]()
        // retained-bytes estimate (keys + values + per-entry overhead):
        // fail LOUDLY naming the remedy instead of OOMing the executor
        // when the creation-time layout assumption is violated
        var retained = 0L
        def guard(): Unit =
          if (retained > budgetBytes) throw new graft.core.GraftException(
            s"resolved-mode KV scan: one partition's live-key working set " +
              s"exceeded the $budgetBytes-byte budget (${m.size} keys so far). " +
              s"The table was created with partitionCount=$partitionCount — " +
              s"recreate it with a higher partitionCount so live keys / " +
              s"partition fit in memory, or raise the resolvedBudgetBytes " +
              s"read option if the executor heap allows.")
        def entryBytes(key: (String, String), value: Array[Byte]): Long =
          2L * (key._1.length + key._2.length) +
            (if (value == null) 0L else value.length.toLong) + 120L
        def fold(r: InternalRow): Unit = {
          val key = (r.getUTF8String(pkO).toString,
            if (r.isNullAt(skO)) "" else r.getUTF8String(skO).toString)
          val v = r.getLong(veO)
          val prev = m.get(key)
          if (prev == null || v > prev._1) {
            val isPut = r.getUTF8String(opO).toString == "PUT"
            val value =
              if (vaO < 0 || !isPut || r.isNullAt(vaO)) null
              else r.getBinary(vaO).clone()
            if (prev != null) retained -= entryBytes(key, prev._4)
            retained += entryBytes(key, value)
            m.put(key, (v, if (bkO >= 0) r.getLong(bkO) else -1L, isPut, value))
            guard()
          }
        }
        val keep = pks.map(_.map(UTF8String.fromString))
        while (innerNext()) {
          val r = inner.get()
          if (keep.forall(_.contains(r.getUTF8String(pkO)))) fold(r)
        }
        val rows = Vector.newBuilder[InternalRow]
        m.forEach { (key, win) =>
          if (win._3) {
            val out = new GenericInternalRow(outOrds.length)
            var i = 0
            while (i < outNames.length) {
              out.update(i, outNames(i) match {
                case "bucket" => win._2
                case "pk" => UTF8String.fromString(key._1)
                case "sk" => UTF8String.fromString(key._2)
                case "value" => win._4
                case "op" => UTF8String.fromString("PUT")
                case "version" => win._1
              })
              i += 1
            }
            rows += out
          }
        }
        rows.result().iterator
      }
      private var row: InternalRow = _
      override def next(): Boolean = {
        if (it == null) it = resolveAll()
        if (it.hasNext) { row = it.next(); true } else false
      }
      override def get(): InternalRow = row
    }
  }

  /** Deep-copy a field out of a (possibly reused) reader row. */
  private def copyOf(r: InternalRow, ord: Int, name: String): Any =
    if (r.isNullAt(ord)) null
    else name match {
      case "pk" | "sk" | "op" => r.getUTF8String(ord).copy()
      case "value" => r.getBinary(ord).clone()
      case _ => r.getLong(ord)
    }
}

/** A KV partition reader over its files' rows, counting the rows it has
  * read from them (the scan's `rowsRead` metric).
  */
private abstract class KvReader(files: PartitionReader[InternalRow])
    extends PartitionReader[InternalRow] {
  private var rowsRead = 0L
  protected def innerNext(): Boolean = {
    val more = files.next()
    if (more) rowsRead += 1
    more
  }
  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(new CustomTaskMetric {
    override def name(): String = KvRowsReadMetric.Name
    override def value(): Long = rowsRead
  })
  override def close(): Unit = files.close()
}

/** Rows a KV scan read from its files, before resolution. */
final class KvRowsReadMetric extends CustomSumMetric {
  override def name(): String = KvRowsReadMetric.Name
  override def description(): String = "rows read from KV files"
}

object KvRowsReadMetric {
  val Name = "rowsRead"
}
