package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** README.md's "Settings" table must name exactly the `spark.graft.*` keys
  * and environment variables the engine (`src/main`) reads, both ways: a
  * new setting fails here until it has a row saying who sets it and why,
  * and a deleted one fails here until its row goes. Reads are found as
  * string literals in comment-stripped source, so a setting whose name is
  * built at run time fails the literal check instead of escaping the table.
  */
class SettingsInventorySpec extends AnyFunSuite {
  private val KeyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
  private val EnvLiteral =
    "(?:sys\\.env(?:\\.getOrElse|\\.get|\\.contains|\\.apply)?|System\\.getenv)\\(\\s*\"([A-Z][A-Z0-9_]*)\"".r
  private val EnvAccess = "sys\\.env|System\\.getenv".r

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** `src/main` Scala sources with block and line comments removed. */
  private lazy val mainCode: Seq[(Path, String)] = {
    val s = Files.walk(Paths.get("src/main"))
    val files = try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
    files.sorted.map { f =>
      val noBlocks = read(f).replaceAll("(?s)/\\*.*?\\*/", "")
      f -> noBlocks.replaceAll("(?m)(^|\\s)//[^\"\\n]*$", "$1")
    }
  }

  private def readIn(lit: scala.util.matching.Regex): Set[String] =
    mainCode.flatMap { case (_, code) => lit.findAllMatchIn(code).map(_.group(1)) }.toSet

  private lazy val table: Set[String] = {
    val lines = read(Paths.get("README.md")).linesIterator
      .dropWhile(_ != "## Settings").drop(1).takeWhile(!_.startsWith("## ")).toList
    assert(lines.nonEmpty, "README.md has no \"## Settings\" section")
    lines.filter(_.startsWith("| `")).map(_.split('|')(1).trim.stripPrefix("`").stripSuffix("`")).toSet
  }

  test("README Settings table lists exactly the spark.graft keys src/main reads") {
    val code = readIn(KeyLiteral)
    val doc = table.filter(_.startsWith("spark.graft."))
    assert((code -- doc).isEmpty, s"read in src/main but missing from README Settings: ${code -- doc}")
    assert((doc -- code).isEmpty, s"in README Settings but read nowhere in src/main: ${doc -- code}")
  }

  test("README Settings table lists exactly the env vars src/main reads") {
    val code = readIn(EnvLiteral)
    val doc = table.filterNot(_.startsWith("spark.graft."))
    assert((code -- doc).isEmpty, s"read in src/main but missing from README Settings: ${code -- doc}")
    assert((doc -- code).isEmpty, s"in README Settings but read nowhere in src/main: ${doc -- code}")
  }

  test("every setting src/main reads is named by a plain string literal") {
    for ((f, code) <- mainCode) {
      assert("spark\\.graft\\.".r.findAllMatchIn(code).size == KeyLiteral.findAllMatchIn(code).size,
        s"$f builds a spark.graft key at run time")
      assert(EnvAccess.findAllMatchIn(code).size == EnvLiteral.findAllMatchIn(code).size,
        s"$f reads an environment variable by a computed name")
    }
  }
}
