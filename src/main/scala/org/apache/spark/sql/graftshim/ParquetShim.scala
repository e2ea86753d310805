package org.apache.spark.sql.graftshim

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.execution.datasources.{FilePartition, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetPartitionReaderFactory, ParquetScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.HadoopFSUtils

import scala.jdk.CollectionConverters._

/** Per-session setup that readers and writers would otherwise rebuild,
  * and re-broadcast, on every call: a few values per [[SparkContext]],
  * keyed by what they were primed from, most recently used kept. Values
  * of a stopped context are dropped on the next miss. Safe under
  * concurrent callers; two racing misses may both build, one is kept.
  */
private[graftshim] final class PrimedCache[K, V <: AnyRef](capacity: Int) {
  private val m = new java.util.LinkedHashMap[(SparkContext, K), V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(SparkContext, K), V]): Boolean =
      size() > capacity
  }

  def apply(sc: SparkContext, key: K)(build: => V): V = {
    val k = (sc, key)
    val hit = m.synchronized(m.get(k))
    if (hit != null) hit
    else {
      val v = build
      m.synchronized {
        m.keySet.removeIf(_._1.isStopped)
        val prev = m.putIfAbsent(k, v)
        if (prev == null) v else prev
      }
    }
  }
}

private[graftshim] object PrimedCache {
  /** A Hadoop conf's entries: the key part that makes a change to a
    * session SQL conf or to `sparkContext.hadoopConfiguration` prime anew.
    */
  def contents(conf: Configuration): Map[String, String] =
    conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
}

/** The graft streaming source is a DSv2 `MicroBatchStream` that plans its
  * own `FilePartition`s straight from stream manifests, but delegates the
  * actual reading to Spark's parquet connector so every micro-batch rides
  * the vectorized columnar reader with all session parquet conf applied.
  * The builders that make that possible live behind `private[sql]`;
  * this shim re-exports them, plus the driver-side footer schema read
  * `graft.Tables` loads with. (Unlike the retired V1
  * `StreamingShim`, nothing here fakes streaming plan internals — it only
  * reuses the stock parquet reader factory as a library.)
  */
object ParquetShim {

  private val readers =
    new PrimedCache[(StructType, StructType, StructType, Map[String, String]),
      ParquetPartitionReaderFactory](capacity = 16)

  /** A serializable, conf-primed parquet PartitionReaderFactory for files
    * of `dataSchema`, reading only `readDataSchema` (column pruning —
    * parquet skips the byte streams of unrequested columns entirely) and
    * appending `partitionSchema` columns from each PartitionedFile's
    * partitionValues. `filters` reach parquet's row-group/page-level
    * stats pruning (they must reference only `readDataSchema` columns).
    * The primed factory is built by constructing a stock ParquetScan
    * (over an empty index — createReaderFactory never touches the index)
    * so Hadoop-conf priming stays Spark's own code. It is built once per
    * (schemas, session Hadoop conf contents) and shared: each call
    * returns a copy with its own `filters` and the caller's SQL conf, on
    * the same broadcast Hadoop conf.
    */
  def parquetReaderFactory(spark: SparkSession, dataSchema: StructType,
                           partitionSchema: StructType,
                           readDataSchema: StructType = null,
                           filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
      : PartitionReaderFactory = {
    val classic = spark.asInstanceOf[ClassicSession]
    val read = Option(readDataSchema).getOrElse(dataSchema)
    val hadoopConf = classic.sessionState.newHadoopConf()
    val primed = readers(classic.sparkContext,
        (dataSchema, read, partitionSchema, PrimedCache.contents(hadoopConf))) {
      val emptyIndex = new InMemoryFileIndex(classic, Nil, Map.empty, Some(dataSchema))
      ParquetScan(classic, hadoopConf, emptyIndex, dataSchema, read, partitionSchema,
        Array.empty, CaseInsensitiveStringMap.empty()).createReaderFactory()
        .asInstanceOf[ParquetPartitionReaderFactory]
    }
    // the SQL conf the copy reads its flags from is the caller's: the
    // key matched the caller's conf contents, not the primer's live conf
    val sqlConf = classic.sessionState.conf
    primed.copy(sqlConf = sqlConf, filters = filters,
      options = new ParquetOptions(Map.empty[String, String], sqlConf))
  }

  /** The schema `spark.read.parquet(path)` infers for a parquet file or a
    * flat directory of them, resolved on the driver: the footer of the
    * file Spark's inference picks (`_common_metadata`, else `_metadata`,
    * else the first data file by path), read with Spark's own converter
    * and session conf, but no job. (Spark's inference reads that one
    * footer in a one-task job.) None where Spark would read more than one
    * footer or discover partitions: schema merging on, or subdirectories.
    */
  def parquetSchema(spark: SparkSession, path: Path): Option[StructType] = {
    val sql = spark.asInstanceOf[ClassicSession].sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = path.getFileSystem(hadoopConf)
    val st = fs.getFileStatus(path)
    val files =
      if (st.isFile) Seq(st)
      else fs.listStatus(path).toSeq.filterNot(f => HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
        .sortBy(_.getPath.toString)
    if (sql.isParquetSchemaMergingEnabled || files.exists(_.isDirectory)) return None
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .map { f =>
        // the converter Spark's mergeSchemasInParallel builds, flag for flag
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = sql.isParquetBinaryAsString,
          assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
          inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
          nanosAsLong = sql.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
        val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter).asNullable
      }
  }

  def partitionedFile(partitionValues: InternalRow, st: FileStatus): PartitionedFile =
    PartitionedFile(partitionValues, SparkPath.fromPath(st.getPath), 0L, st.getLen,
      Array.empty, st.getModificationTime, st.getLen)

  /** Build a PartitionedFile from a path + known length, with no
    * getFileStatus round trip — the tail reader's hot path, where the
    * manifest already records the committed file's byte size.
    */
  def partitionedFileAt(partitionValues: InternalRow,
      path: org.apache.hadoop.fs.Path, len: Long): PartitionedFile =
    PartitionedFile(partitionValues, SparkPath.fromPath(path), 0L, len,
      Array.empty, 0L, len)

  /** Bin-pack PartitionedFiles into FilePartitions with Spark's own
    * size-aware packing (maxSplitBytes from session conf + open cost).
    */
  def pack(spark: SparkSession, files: Seq[PartitionedFile]): Seq[FilePartition] = {
    val classic = spark.asInstanceOf[ClassicSession]
    val openCost = classic.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(classic,
      files.map(_.length + openCost).sum)
    FilePartition.getFilePartitions(classic, files, maxSplit)
  }

  /** One whole file as one FilePartition — used executor-side by the
    * real-time tail reader, which discovers files one at a time as the
    * manifest grows and cannot go through driver-side packing.
    */
  def singlePartition(pf: PartitionedFile): FilePartition =
    FilePartition(0, Array(pf))
}
