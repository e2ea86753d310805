package graft.util

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Source rules over `src/main/scala`, one scanner for all of them
  * (comments may name what a rule forbids; code lines may not):
  *   - every main builds its session through [[LocalSession]], so the
  *     mains' conf cannot drift apart again;
  *   - every pin goes through [[Pin]], so each is released in `finally`;
  *   - the engine packages report through logs, not `println` or env
  *     switches;
  *   - parquet writers are opened only in `storage/TaskFileWriter`, so a
  *     second file loop cannot come back.
  */
class LocalSessionSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** Code lines matching `rule` in the `.scala` files under `dirs`, outside `allowed`. */
  private def offenders(rule: Regex, allowed: String = "", dirs: Seq[String] = Seq("")): Seq[String] = {
    assert(Files.isRegularFile(root.resolve("graft/Bench.scala")),
      s"run from the project root: ${root.toAbsolutePath}")
    val files: Seq[Path] = dirs.map(root.resolve).flatMap { d =>
      assert(Files.isDirectory(d), s"no source dir $d")
      Files.walk(d).iterator().asScala.toSeq
    }.filter(p => p.toString.endsWith(".scala") && p != root.resolve(allowed))
    files.flatMap { p =>
      val code = Files.readString(p).replaceAll("(?s)/\\*.*?\\*/", "")
      code.linesIterator.map(_.replaceAll("//.*", ""))
        .filter(l => rule.findFirstIn(l).isDefined)
        .map(l => s"${root.relativize(p)}: ${l.trim}")
    }
  }

  private def assertNone(found: Seq[String]): Unit =
    assert(found.isEmpty, found.mkString("\n", "\n", ""))

  test("SparkSession.builder appears in main code only inside LocalSession") {
    assertNone(offenders("""SparkSession\s*\.\s*builder""".r, "graft/util/LocalSession.scala"))
  }

  test("persist, cache and unpersist appear in main code only inside Pin") {
    assertNone(offenders("""\.(persist|unpersist)\(|\.cache\(\)""".r, "graft/util/Pin.scala"))
  }

  test("parquet writers are opened only in TaskFileWriter, the one file loop") {
    assertNone(offenders("""\bParquetWriteShim\b""".r, "graft/storage/TaskFileWriter.scala", Seq("graft")))
  }

  test("no println and no sys.env in the engine packages") {
    assertNone(offenders("""\bprintln\b|\bsys\.env\b""".r,
      dirs = Seq("operators", "queries", "catalog", "kv", "sources", "storage").map("graft/" + _)))
  }
}
