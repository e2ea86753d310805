package graft.sources

import graft.storage.{GraftStreams, Maintenance}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL stored procedures for the engine's maintenance plane
  * (Spark 4 `CALL cat.system.<proc>(...)` via ProcedureCatalog) — the
  * ops the reference exposes through its admin CLI and controller REST
  * API (cli/admin command tree; controller/.../rest), surfaced where a
  * Spark user actually lives: plain SQL.
  *
  *   CALL g.system.redact('scope', 'stream', 'routingKey')
  *   CALL g.system.compact('scope', 'stream')
  *   CALL g.system.truncate_at('scope', 'stream', 1000)
  *   CALL g.system.scale_to('scope', 'stream', 8)
  *   CALL g.system.maintenance('scope', 'stream')
  *   CALL g.system.sweep('scope', 'stream', 0)
  *   CALL g.system.seal('scope', 'stream')
  *   CALL g.system.save_cut('scope', 'stream', 'name')
  *   CALL g.system.fsck('scope')
  *   CALL g.system.describe_retention('scope', 'stream')
  *   CALL g.system.kv_describe_retention('scope', 'kvt')
  *   CALL g.system.kv_compact('scope', 'kvt')
  *   CALL g.system.kv_sweep('scope', 'kvt', 0)
  *   CALL g.system.kv_fsck('scope', 'kvt')
  *   CALL g.system.bs_fsck('', 'scope', 'bytestream')      -- '' = this root
  *   CALL g.system.bs_sweep('/other/root', 'scope', 'bs', 0)
  *
  * Every procedure returns its outcome as rows (LocalScan), so results
  * compose with SQL (`CALL` output is a relation). All metadata-plane:
  * manifest CAS commits, no data IO except compaction's rewrite.
  */
object GraftProcedures {

  val names: Seq[String] = Seq("redact", "compact", "truncate_at", "scale_to",
    "maintenance", "sweep", "seal", "save_cut", "fsck", "gc_manifests",
    "describe_retention",
    "kv_compact", "kv_sweep", "kv_fsck", "kv_gc_manifests",
    "kv_describe_retention",
    "bs_fsck", "bs_sweep")

  private def in(name: String, dt: DataType) = ProcedureParameter.in(name, dt).build()

  private def str(r: InternalRow, i: Int): String = r.getUTF8String(i).toString

  /** One-partition in-driver result relation: maintenance outcomes are
    * O(few rows) by construction.
    */
  private final class ResultScan(schema: StructType, data: Seq[Seq[Any]])
      extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = data.map { vals =>
      InternalRow.fromSeq(vals.map {
        case s: String => UTF8String.fromString(s)
        case other => other
      })
    }.toArray
  }

  private def proc(procName: String, params: Seq[ProcedureParameter],
                   outSchema: StructType)(body: InternalRow => Seq[Seq[Any]]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft maintenance procedure $procName"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = s"graft maintenance procedure $procName"
        override def parameters(): Array[ProcedureParameter] = params.toArray
        override def isDeterministic: Boolean = false // mutates the manifest
        override def call(input: InternalRow): java.util.Iterator[Scan] =
          java.util.Collections.singletonList(
            new ResultScan(outSchema, body(input)): Scan).iterator()
      }
    }

  def load(name: String, rootDir: String): UnboundProcedure = {
    def g = new GraftStreams(SparkSession.active, rootDir)
    val ss = Seq(in("scope", StringType), in("stream", StringType))
    // kv_* procedures bind a key-value TABLE, not a stream — the named-
    // argument SQL surface (`table => 'kt'`) must say so
    val kvp = Seq(in("scope", StringType), in("table", StringType))
    name match {
      case "redact" =>
        // right-to-be-forgotten: CALL g.system.redact('scope', 'stream', 'key')
        proc("redact", ss :+ in("routing_key", StringType), StructType(Seq(
          StructField("rows_redacted", LongType, nullable = false)))) { r =>
          Seq(Seq(g.redactStream(str(r, 0), str(r, 1), str(r, 2))))
        }
      case "compact" =>
        proc("compact", ss, StructType(Seq(
          StructField("files_before", LongType, nullable = false),
          StructField("files_after", LongType, nullable = false)))) { r =>
          val eng = g
          val before = eng.catalog.getStream(str(r, 0), str(r, 1)).files.size.toLong
          eng.compactStream(str(r, 0), str(r, 1))
          val after = eng.catalog.getStream(str(r, 0), str(r, 1)).files.size.toLong
          Seq(Seq(before, after))
        }
      case "truncate_at" =>
        proc("truncate_at", ss :+ in("approx_rows", LongType), StructType(Seq(
          StructField("head_cut", StringType, nullable = false)))) { r =>
          val eng = g
          val (scope, stream) = (str(r, 0), str(r, 1))
          val head = eng.catalog.getStream(scope, stream).headStreamCut
          val cut = eng.nextStreamCut(scope, stream, head, r.getLong(2))
          eng.catalog.truncateStream(scope, stream, cut)
          Seq(Seq(cut.positions.toSeq.sortBy(_._1)
            .map { case (s, o) => s"$s:$o" }.mkString(",")))
        }
      case "scale_to" =>
        proc("scale_to", ss :+ in("segments", IntegerType), StructType(Seq(
          StructField("segments_before", IntegerType, nullable = false),
          StructField("segments_after", IntegerType, nullable = false)))) { r =>
          val eng = g
          val (scope, stream) = (str(r, 0), str(r, 1))
          def open = eng.catalog.getStream(scope, stream).segments.count(!_.isSealed)
          val before = open
          eng.scaleStream(scope, stream, r.getInt(2))
          Seq(Seq(before, open))
        }
      case "maintenance" =>
        proc("maintenance", ss, StructType(Seq(
          StructField("swept_txns", IntegerType, nullable = false),
          StructField("reclaimed_files", IntegerType, nullable = false),
          StructField("orphans", IntegerType, nullable = false)))) { r =>
          val rep = new Maintenance(g).run(str(r, 0), str(r, 1))
          Seq(Seq(rep.sweptTxns.size, rep.reclaimedFiles.size, rep.reclaimedOrphans.size))
        }
      case "gc_manifests" =>
        // manifest-log retention: CALL g.system.gc_manifests('s','x', 1000)
        proc("gc_manifests", ss :+ in("keep_versions", IntegerType), StructType(Seq(
          StructField("retired", LongType, nullable = false),
          StructField("floor", LongType, nullable = false)))) { r =>
          val eng = g
          val n = eng.catalog.gcManifests(str(r, 0), str(r, 1), r.getInt(2)).size.toLong
          Seq(Seq(n, eng.catalog.manifestFloor(str(r, 0), str(r, 1))))
        }
      case "describe_retention" =>
        // one-stream retention introspection — the ops-loop twin of fsck:
        // CALL g.system.describe_retention('s','x') →
        // (floor, chain seq, stamping/live incarnations, anchor, tip,
        //  retained count, checkpoint base readable). Read-only.
        proc("describe_retention", ss, StructType(Seq(
          StructField("floor", LongType, nullable = false),
          StructField("floor_seq", LongType, nullable = false),
          StructField("floor_incarnation", StringType, nullable = false),
          StructField("live_incarnation", StringType, nullable = false),
          StructField("anchor_present", BooleanType, nullable = false),
          StructField("tip_version", LongType, nullable = false),
          StructField("retained_versions", LongType, nullable = false),
          StructField("checkpoint_base_ok", BooleanType, nullable = false)))) { r =>
          val c = g.catalog
          val (scope, stream) = (str(r, 0), str(r, 1))
          val (seq, rec) = c.manifestFloorWithSeq(scope, stream)
          val tip = c.getStream(scope, stream)
          val baseOk = rec.floor <= 0L ||
            (try { c.getStreamAt(scope, stream, rec.floor); true }
             catch { case _: Exception => false })
          // v0 is always retained alongside [max(1, floor), tip]
          val retained = tip.version - math.max(1L, rec.floor) + 2L
          Seq(Seq(rec.floor, seq, rec.incarnation, tip.incarnation,
            c.floorAnchorPresent(scope, stream), tip.version, retained, baseOk))
        }
      case "sweep" =>
        proc("sweep", ss :+ in("grace_ms", LongType), StructType(Seq(
          StructField("reclaimed", StringType, nullable = false)))) { r =>
          val eng = g
          val paths = eng.sweepOrphans(str(r, 0), str(r, 1), r.getLong(2)) ++
            eng.catalog.sweepDeletes(str(r, 0), str(r, 1))
          if (paths.isEmpty) Seq(Seq("none")) else paths.map(p => Seq(p))
        }
      case "seal" =>
        proc("seal", ss, StructType(Seq(
          StructField("sealed", BooleanType, nullable = false)))) { r =>
          g.catalog.sealStream(str(r, 0), str(r, 1))
          Seq(Seq(true))
        }
      case "save_cut" =>
        proc("save_cut", ss :+ in("name", StringType), StructType(Seq(
          StructField("cut", StringType, nullable = false)))) { r =>
          val cut = g.saveStreamCut(str(r, 0), str(r, 1), str(r, 2))
          Seq(Seq(cut.positions.toSeq.sortBy(_._1)
            .map { case (s, o) => s"$s:$o" }.mkString(",")))
        }
      case "fsck" =>
        proc("fsck", Seq(in("scope", StringType)), StructType(Seq(
          StructField("kind", StringType, nullable = false),
          StructField("where", StringType, nullable = false),
          StructField("detail", StringType, nullable = false)))) { r =>
          val issues = graft.tools.Fsck.checkRoot(rootDir, Some(str(r, 0)))
          if (issues.isEmpty) Seq(Seq("clean", str(r, 0), "no issues"))
          else issues.map(i => Seq(i.kind, i.where, i.detail))
        }
      case "kv_compact" =>
        proc("kv_compact", kvp, StructType(Seq(
          StructField("entries", LongType, nullable = false)))) { r =>
          val eng = g
          val t = eng.catalog.openKeyValueTable(eng.spark, str(r, 0), str(r, 1))
          t.compact()
          Seq(Seq(t.entries().count()))
        }
      case "kv_sweep" =>
        proc("kv_sweep", kvp :+ in("grace_ms", LongType), StructType(Seq(
          StructField("orphans", IntegerType, nullable = false),
          StructField("tombstones", IntegerType, nullable = false)))) { r =>
          val eng = g
          val t = eng.catalog.openKeyValueTable(eng.spark, str(r, 0), str(r, 1))
          Seq(Seq(t.sweepOrphans(r.getLong(2)).size, t.sweepDeletes().size))
        }
      case "kv_gc_manifests" =>
        proc("kv_gc_manifests", kvp :+ in("keep_versions", IntegerType), StructType(Seq(
          StructField("retired", LongType, nullable = false),
          StructField("floor", LongType, nullable = false)))) { r =>
          val eng = g
          val t = eng.catalog.openKeyValueTable(eng.spark, str(r, 0), str(r, 1))
          Seq(Seq(t.gcManifests(r.getInt(2)).size.toLong, t.manifestFloor))
        }
      case "kv_describe_retention" =>
        proc("kv_describe_retention", kvp, StructType(Seq(
          StructField("floor", LongType, nullable = false),
          StructField("floor_seq", LongType, nullable = false),
          StructField("floor_incarnation", StringType, nullable = false),
          StructField("live_incarnation", StringType, nullable = false),
          StructField("anchor_present", BooleanType, nullable = false),
          StructField("tip_version", LongType, nullable = false),
          StructField("retained_versions", LongType, nullable = false)))) { r =>
          val eng = g
          val t = eng.catalog.openKeyValueTable(eng.spark, str(r, 0), str(r, 1))
          val (seq, rec) = t.floorWithSeq
          val tip = t.currentVersion
          // the retained range is [max(1, floor), tip]; v0, the identity
          // record, is not a commit
          Seq(Seq(rec.floor, seq, rec.incarnation, t.incarnation,
            t.floorAnchorPresent, tip, tip - math.max(1L, rec.floor) + 1L))
        }
      case "kv_fsck" =>
        proc("kv_fsck", kvp, StructType(Seq(
          StructField("issue", StringType, nullable = false)))) { r =>
          val eng = g
          val issues = eng.catalog.openKeyValueTable(eng.spark, str(r, 0), str(r, 1)).fsck()
          if (issues.isEmpty) Seq(Seq("clean")) else issues.map(i => Seq(i))
        }
      // byte streams have no catalog identity (COVERAGE seam: they are
      // raw chunk dirs under any root), so the bs_* procedures take the
      // ROOT PATH directly — '' falls back to this catalog's root — and
      // complete the integrity plane for the third storage primitive
      case "bs_fsck" =>
        proc("bs_fsck", Seq(in("root", StringType)) ++ ss, StructType(Seq(
          StructField("issue", StringType, nullable = false)))) { r =>
          val root = if (str(r, 0).isEmpty) rootDir else str(r, 0)
          val bs = new graft.storage.ByteStreams(root,
            SparkSession.active.sessionState.newHadoopConf())
          val issues = bs.fsck(str(r, 1), str(r, 2))
          if (issues.isEmpty) Seq(Seq("clean")) else issues.map(i => Seq(i))
        }
      case "bs_sweep" =>
        proc("bs_sweep", Seq(in("root", StringType)) ++ ss :+ in("grace_ms", LongType),
          StructType(Seq(
            StructField("reclaimed", StringType, nullable = false)))) { r =>
          val root = if (str(r, 0).isEmpty) rootDir else str(r, 0)
          val bs = new graft.storage.ByteStreams(root,
            SparkSession.active.sessionState.newHadoopConf())
          val swept = bs.sweep(str(r, 1), str(r, 2), r.getLong(3))
          if (swept.isEmpty) Seq(Seq("none")) else swept.map(p => Seq(p))
        }
      case other =>
        throw new IllegalArgumentException(
          s"unknown procedure '$other' (have: ${names.mkString(", ")})")
    }
  }
}
