package graft.sources

import graft.catalog.StreamCatalog
import graft.core.{NoSuchStreamException, StreamConfig}
import graft.storage.GraftStreams
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, Column, Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL surface for the stream control plane (SURVEY §2.9 through DSv2
  * `TableCatalog`): register with
  *
  *   spark.sql.catalog.graft         = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.rootDir = <engine root>
  *
  * and scopes become namespaces, streams become tables —
  * `CREATE NAMESPACE graft.s` = createScope, `SHOW TABLES IN graft.s` =
  * listStreams, `SELECT ... FROM graft.s.ev` = a bounded batch read
  * through the manifest planner, `spark.readStream.table("graft.s.ev")`
  * = a reader group, `DROP TABLE` = seal + delete (the reference's
  * two-step delete contract). Per-read cut/pacing options still apply
  * via `.option(...)` — they overlay the scan, never the table identity.
  *
  * (StreamManager analog: client/.../admin/StreamManager.java:71-232 —
  * create/list/seal/delete surfaced as SQL DDL instead of an RPC admin
  * client.)
  */
class GraftCatalog extends CatalogPlugin with TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var rootDir: String = _
  private def cat: StreamCatalog = new StreamCatalog(rootDir)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    rootDir = Option(options.get("rootDir")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.rootDir"))
  }

  override def name(): String = catalogName

  private def scopeOf(ns: Array[String]): String = ns match {
    case Array(scope) => scope
    case other => throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      other.toSeq)
  }

  // ------------------------------------------------------------ procedures

  /** `CALL <cat>.system.<proc>(...)` — the maintenance plane in SQL
    * (compact / truncate_at / scale_to / maintenance / sweep / seal /
    * save_cut / fsck); outcomes return as relations. See
    * [[GraftProcedures]].
    */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace().sameElements(Array("system")))
      throw new IllegalArgumentException(
        s"procedures live in the 'system' namespace; got ${ident.namespace().mkString(".")}")
    GraftProcedures.load(ident.name(), rootDir)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  // ---------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val scope = scopeOf(namespace)
    if (!cat.scopeExists(scope))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace.toSeq)
    // streams and KV tables share the namespace (their physical homes —
    // <scope>/<name>/_meta vs <scope>/_kvt/<name> — keep them disjoint,
    // so a name can never resolve to both)
    (cat.listStreams(scope) ++ cat.listKeyValueTables(scope))
      .map(st => Identifier.of(namespace, st)).toArray
  }

  /** KeyValueTable analog (client/.../tables/KeyValueTable.java:119) as
    * a queryable SQL table: resolved LSM state; reads only. See
    * [[GraftKvTable]].
    */
  private def loadKvTable(scope: String, name: String, asOf: Option[Long]): Table = {
    val cfg = cat.getKeyValueTableConfig(scope, name)
    val spark = org.apache.spark.sql.SparkSession.active
    val kvt = new graft.kv.KeyValueTable(spark, new Path(new Path(rootDir, scope), "_kvt").toString,
      name, partitionCount = cfg.partitionCount, hadoopConf = spark.sessionState.newHadoopConf())
    new GraftKvTable(kvt, s"$scope/$name", asOf)
  }

  override def loadTable(ident: Identifier): Table = {
    val scope = scopeOf(ident.namespace())
    if (!cat.streamExists(scope, ident.name())) {
      if (cat.keyValueTableExists(scope, ident.name()))
        return loadKvTable(scope, ident.name(), None)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    }
    val props = new java.util.HashMap[String, String]()
    props.put("rootDir", rootDir)
    props.put("scope", scope)
    props.put("stream", ident.name())
    new GraftStreamTable(props)
  }

  /** `SELECT ... FROM g.scope.stream VERSION AS OF <v>` — the committed
    * state at manifest version v: file list, head/tail cuts, truncation
    * and compaction all as of that CAS. Readable within the physical
    * retention horizon (files swept later fail loudly at scan time —
    * the Delta VACUUM contract). Historical tables reject writes,
    * streaming reads and TRUNCATE.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft time travel versions are manifest numbers; got '$version'")
    }
    val scope = scopeOf(ident.namespace())
    if (!cat.streamExists(scope, ident.name())) {
      if (cat.keyValueTableExists(scope, ident.name())) {
        // fail at resolution, not scan — mirrors the stream path. Opened
        // through the catalog so the PERSISTED partitionCount rides
        // along (a default-layout instance on a non-default table would
        // silently mis-bucket any layout-dependent call).
        cat.openKeyValueTable(org.apache.spark.sql.SparkSession.active,
          scope, ident.name()).manifestAt(Some(v))
        return loadKvTable(scope, ident.name(), Some(v))
      }
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    }
    cat.getStreamAt(scope, ident.name(), v) // fail at resolution, not scan
    val props = new java.util.HashMap[String, String]()
    props.put("rootDir", rootDir)
    props.put("scope", scope)
    props.put("stream", ident.name())
    props.put("asOfVersion", v.toString)
    new GraftStreamTable(props)
  }

  /** `TIMESTAMP AS OF <t>` (micros): the latest manifest committed at or
    * before t, by the commit stamp written inside each manifest at CAS
    * time — for streams AND key-value tables (KV manifests carry
    * record-level `committedAt` exactly like stream manifests).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val scope = scopeOf(ident.namespace())
    if (!cat.streamExists(scope, ident.name())) {
      if (cat.keyValueTableExists(scope, ident.name())) {
        val kvt = cat.openKeyValueTable(
          org.apache.spark.sql.SparkSession.active, scope, ident.name())
        val v = kvt.versionAtTime(timestamp / 1000L).getOrElse(
          throw new IllegalArgumentException(
            s"kv table $scope/${ident.name()} has no commit at or before " +
              s"${java.time.Instant.ofEpochMilli(timestamp / 1000L)}"))
        return loadKvTable(scope, ident.name(), Some(v))
      }
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    }
    val millis = timestamp / 1000L
    val v = cat.versionAtTime(scope, ident.name(), millis).getOrElse(
      throw new IllegalArgumentException(
        s"stream $scope/${ident.name()} has no manifest committed at or before " +
          s"${java.time.Instant.ofEpochMilli(millis)}"))
    loadTable(ident, v.toString)
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().length == 1 &&
      (cat.streamExists(ident.namespace()(0), ident.name()) ||
        cat.keyValueTableExists(ident.namespace()(0), ident.name()))

  override def createTable(ident: Identifier, columns: Array[Column],
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table =
    createTable(ident,
      StructType(columns.map(c =>
        org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable()))),
      partitions, properties)

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    val scope = scopeOf(ident.namespace())
    // the event schema is the engine's contract — a CREATE TABLE either
    // declares it verbatim or omits columns entirely
    if (schema.nonEmpty && schema != GraftStreams.eventSchema)
      throw new IllegalArgumentException(
        s"graft streams have the fixed event schema ${GraftStreams.eventSchema.simpleString}; " +
          s"got ${schema.simpleString}")
    val segments = Option(properties.get("initialSegments")).map(_.toInt).getOrElse(4)
    cat.createStream(scope, ident.name(), StreamConfig(initialSegments = segments))
    loadTable(ident)
  }

  /** `ALTER TABLE ... SET TBLPROPERTIES` = updateStream / tag update
    * (StreamManager.java:130 update path; controller
    * UpdateStreamTask.java): `'tags'` is a comma list; the scaling /
    * retention policy keys mirror StreamConfig. All changes in one
    * statement commit through a single manifest CAS; the policy change
    * takes effect at the next auto-scale / retention evaluation, like
    * the reference's controller applying an updated StreamConfiguration.
    * `UNSET TBLPROPERTIES` resets a key to its StreamConfig default
    * (tags: empty).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val scope = scopeOf(ident.namespace())
    val stream = ident.name()
    if (!cat.streamExists(scope, stream))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val edits: Seq[(String, Option[String])] = changes.map {
      case s: TableChange.SetProperty => s.property() -> Some(s.value())
      case r: TableChange.RemoveProperty => r.property() -> None
      case other => throw new UnsupportedOperationException(
        s"graft streams support only SET/UNSET TBLPROPERTIES, got $other " +
          "(the event schema and segment layout are engine-managed)")
    }
    val defaults = StreamConfig()
    // Every edit parses into a typed mutation BEFORE the manifest CAS
    // closure runs: a malformed value must fail fast with a clear error
    // naming the property and expected type, never surface as a raw
    // NumberFormatException mid-CAS (potentially after retry work).
    def longOr(key: String, value: Option[String], dflt: Long): Long =
      value.fold(dflt) { s =>
        try s.trim.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"graft stream property '$key' expects a long integer, got '$s'")
        }
      }
    def intOr(key: String, value: Option[String], dflt: Int): Int =
      value.fold(dflt) { s =>
        try s.trim.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"graft stream property '$key' expects an integer, got '$s'")
        }
      }
    type State = (StreamConfig, Set[String])
    val mutations: Seq[State => State] = edits.map { case (key, value) =>
      key.toLowerCase(java.util.Locale.ROOT) match {
        case "tags" =>
          val t = value.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
            .getOrElse(Set.empty[String])
          st: State => (st._1, t)
        case "targetratepersegment" =>
          val v = longOr(key, value, defaults.targetRatePerSegment)
          st: State => (st._1.copy(targetRatePerSegment = v), st._2)
        case "scalefactor" =>
          val v = intOr(key, value, defaults.scaleFactor)
          st: State => (st._1.copy(scaleFactor = v), st._2)
        case "minsegments" =>
          val v = intOr(key, value, defaults.minSegments)
          st: State => (st._1.copy(minSegments = v), st._2)
        case "retentionmillis" =>
          val v = longOr(key, value, defaults.retentionMillis)
          st: State => (st._1.copy(retentionMillis = v), st._2)
        case "retentionmaxrows" =>
          val v = longOr(key, value, defaults.retentionMaxRows)
          st: State => (st._1.copy(retentionMaxRows = v), st._2)
        case "manifestkeepversions" =>
          val v = intOr(key, value, defaults.manifestKeepVersions)
          st: State => (st._1.copy(manifestKeepVersions = v), st._2)
        case "initialsegments" => throw new UnsupportedOperationException(
          "initialSegments describes creation-time layout and is immutable " +
            "(scaling changes the live segment count)")
        case other => throw new UnsupportedOperationException(
          s"unknown graft stream property '$other' — settable: tags, " +
            "targetRatePerSegment, scaleFactor, minSegments, " +
            "retentionMillis, retentionMaxRows, manifestKeepVersions")
      }
    }
    cat.update(scope, stream) { m =>
      if (m.isSealed) throw new graft.core.GraftException(
        s"stream $scope/$stream is sealed")
      val (c, tags) = mutations.foldLeft((m.config, m.tags))((st, f) => f(st))
      require(c.minSegments >= 1, "minSegments must be >= 1")
      require(c.scaleFactor >= 2, "scaleFactor must be >= 2")
      m.copy(config = c, tags = tags)
    }
    loadTable(ident)
  }

  /** DROP TABLE = seal, then delete — the reference's delete contract
    * (a live stream must be sealed first; SQL DROP does both).
    */
  override def dropTable(ident: Identifier): Boolean = {
    val scope = scopeOf(ident.namespace())
    try {
      cat.sealStream(scope, ident.name())
      cat.deleteStream(scope, ident.name())
      true
    } catch {
      case _: NoSuchStreamException =>
        // DROP TABLE on a KVT = deleteKeyValueTable — unconditional like
        // the reference (KeyValueTableManager.java:70; no seal step)
        cat.deleteKeyValueTable(scope, ident.name())
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft streams cannot be renamed")

  // ------------------------------------------------------------ namespaces

  override def listNamespaces(): Array[Array[String]] =
    cat.listScopes().map(s => Array(s)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (cat.scopeExists(scopeOf(namespace))) Array.empty
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && cat.scopeExists(namespace(0))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace.toSeq)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit = {
    cat.createScope(scopeOf(namespace))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft scopes carry no mutable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val scope = scopeOf(namespace)
    if (!cat.scopeExists(scope)) false
    else {
      // surface the standard SQL error, not the engine's GraftException,
      // so DROP NAMESPACE behaves like any other Spark catalog
      if (!cascade &&
          (cat.listStreams(scope).nonEmpty || cat.listKeyValueTables(scope).nonEmpty))
        throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(
          namespace, s"scope $scope contains streams or key-value tables")
      if (cascade) cat.listStreams(scope).foreach { st =>
        cat.sealStream(scope, st); cat.deleteStream(scope, st)
      }
      cat.deleteScope(scope, recursive = cascade)
    }
  }
}
