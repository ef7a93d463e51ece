package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the process surface: the objects with a `def main` under
  * `src/main/scala`, and the `"SPARK_GRAFT_*"` environment variables read
  * there, must be exactly those the README "Entry points" table lists. A
  * new main or variable that is not documented, or a documented one that
  * is gone, fails the suite. */
class EntryPointSpec extends AnyFunSuite {
  private val root = Paths.get(sys.props("user.dir"))

  private def sources: Seq[String] = {
    val files = Files.walk(root.resolve("src/main/scala"))
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map((p: Path) => Files.readString(p)).toList
    finally files.close()
  }

  /** `package.Object` of every object whose body defines `main`. */
  private def codeMains: Set[String] = {
    val pkg = "(?m)^package ([\\w.]+)".r
    val obj = "(?m)^object (\\w+)".r
    sources.flatMap { src =>
      val p = pkg.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      val objs = obj.findAllMatchIn(src).toList
      objs.zipWithIndex.collect {
        case (m, i) if src.substring(m.start, objs.lift(i + 1).fold(src.length)(_.start))
            .contains("def main(args: Array[String])") => p + m.group(1)
      }
    }.toSet
  }

  private def codeEnv: Set[String] = {
    val literal = "\"(SPARK_GRAFT_[A-Z0-9_]+)\"".r
    sources.flatMap(literal.findAllMatchIn(_).map(_.group(1))).toSet
  }

  /** First-column names of the README "Entry points" table: `graft.*`
    * mains and `SPARK_GRAFT_*` variables. */
  private def documented: Set[String] = {
    val lines = Files.readAllLines(root.resolve("README.md")).asScala
    val row = "^\\| `([\\w.]+)`.*".r
    lines.dropWhile(_ != "### Entry points").drop(1)
      .takeWhile(!_.startsWith("#"))
      .collect { case row(name) => name }.toSet
  }

  test("objects with def main in src/main equal the README Entry points table") {
    val code = codeMains
    val docs = documented.filterNot(_.startsWith("SPARK_GRAFT_"))
    assert(code.nonEmpty && docs.nonEmpty)
    assert((code -- docs).isEmpty, s"mains not documented: ${code -- docs}")
    assert((docs -- code).isEmpty, s"mains documented but gone: ${docs -- code}")
  }

  test("SPARK_GRAFT_* variables read in src/main equal the README Entry points table") {
    val code = codeEnv
    val docs = documented.filter(_.startsWith("SPARK_GRAFT_"))
    assert(code.nonEmpty && docs.nonEmpty)
    assert((code -- docs).isEmpty, s"variables read but not documented: ${code -- docs}")
    assert((docs -- code).isEmpty, s"variables documented but not read: ${docs -- code}")
  }
}
