package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Settings inventory: every `spark.graft.*` key and `SPARK_GRAFT_*`
  * environment variable spelled as a string literal in the program has one
  * row in README.md's "Settings" table, and every row names a setting the
  * program still reads — so a new setting cannot land unlisted, and a
  * removed one cannot linger in the docs. */
class SettingsSuite extends AnyFunSuite {

  private val Literal = "\"(spark\\.graft\\.[A-Za-z0-9_.]+|SPARK_GRAFT_[A-Z0-9_]+)\"".r
  private val Row = "^\\| `(spark\\.graft\\.[A-Za-z0-9_.]+|SPARK_GRAFT_[A-Z0-9_]+)` \\|".r

  test("README's Settings table lists exactly the settings src/main/scala reads") {
    val root = Paths.get("src/main/scala")
    val readme = Paths.get("README.md")
    assert(Files.isDirectory(root) && Files.exists(readme), "run from the repo root")
    val inCode: Set[String] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap((p: Path) => Literal.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    val rows: Seq[String] = Files.readAllLines(readme).asScala.toSeq
      .flatMap(l => Row.findFirstMatchIn(l).map(_.group(1)))
    assert(rows.distinct == rows, s"settings listed twice: ${rows.diff(rows.distinct)}")
    val unlisted = inCode -- rows
    val stale = rows.toSet -- inCode
    assert(unlisted.isEmpty && stale.isEmpty,
      s"read but not in README's Settings table: ${unlisted.toSeq.sorted.mkString(", ")}; " +
        s"in the table but read nowhere: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
