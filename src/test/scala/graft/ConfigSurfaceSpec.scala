package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the engine's configuration surface: the `"spark.graft.*"` keys
  * read anywhere in `src/main/scala` must be exactly the keys listed in the
  * README "Configuration" table. An undocumented knob, or a documented one
  * that the code no longer reads, fails the suite. */
class ConfigSurfaceSpec extends AnyFunSuite {
  private val root = Paths.get(sys.props("user.dir"))

  private def codeKeys: Set[String] = {
    val literal = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
    val files = Files.walk(root.resolve("src/main/scala"))
    try files.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap((p: Path) =>
        literal.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    finally files.close()
  }

  private def documentedKeys: Set[String] = {
    val lines = Files.readAllLines(root.resolve("README.md")).asScala
    val row = "^\\| `(spark\\.graft\\.[A-Za-z0-9_.]+)` \\|.*".r
    lines.dropWhile(_ != "## Configuration").drop(1)
      .takeWhile(!_.startsWith("## "))
      .collect { case row(k) => k }.toSet
  }

  test("spark.graft.* keys read in src/main equal the README Configuration table") {
    val code = codeKeys
    val docs = documentedKeys
    assert(code.nonEmpty && docs.nonEmpty)
    assert((code -- docs).isEmpty, s"keys read but not documented: ${code -- docs}")
    assert((docs -- code).isEmpty, s"keys documented but not read: ${docs -- code}")
  }
}
