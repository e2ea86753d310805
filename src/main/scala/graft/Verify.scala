package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * `graft.Verify <sfDir> <outDir> [name,name,...]` — the optional list
  * dumps only those queries and their oracle SQL (unknown names are
  * rejected), so one query's oracle row can be checked without a full
  * pass. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, names) = args match {
      case Array(sf, out) => (sf, out, None)
      case Array(sf, out, list) =>
        val wanted = list.split(',').map(_.trim).filter(_.nonEmpty).toSet
        val missing = wanted.diff(SparkEntry.queries.keySet)
        require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
        (sf, out, Some(wanted))
      case _ => throw new IllegalArgumentException(
        "usage: graft.Verify <sfDir> <outDir> [name,name,...]")
    }
    def picked(name: String): Boolean = names.forall(_(name))
    // Same fast-scratch substrate as Bench (shuffle dirs, fixture
    // workspaces); result parquet still lands at the caller's outDir.
    System.setProperty("java.io.tmpdir", graft.util.WorkDirs.scratchRoot)
    val spark = graft.util.LocalSession(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => picked(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => picked(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
