package graft.util

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every main builds its session through [[LocalSession]], so the mains'
  * conf cannot drift apart again: outside the helper, no code line in
  * `src/main/scala` calls `SparkSession.builder` (comments may name it).
  */
class LocalSessionSpec extends AnyFunSuite {
  test("SparkSession.builder appears in main code only inside LocalSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val helper = root.resolve("graft/util/LocalSession.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != helper).toSeq
    assert(files.contains(root.resolve("graft/Bench.scala")), s"no mains under $root")
    val builder = """SparkSession\s*\.\s*builder""".r
    val offenders = files.flatMap { p =>
      val code = Files.readString(p).replaceAll("(?s)/\\*.*?\\*/", "")
      code.linesIterator.map(_.replaceAll("//.*", ""))
        .filter(l => builder.findFirstIn(l).isDefined)
        .map(l => s"${root.relativize(p)}: ${l.trim}")
    }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
