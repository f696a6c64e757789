package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Settings and entry-points inventories: every `spark.graft.*` key and
  * `SPARK_GRAFT_*` environment variable spelled as a string literal in the
  * program has one row in README.md's "Settings" table, and every row
  * names a setting the program still reads — so a new setting cannot land
  * unlisted, and a removed one cannot linger in the docs. Likewise every
  * object with a `main` has one row in README's "Entry points" table, and
  * `Plans.truncate` is the one place the program truncates lineage. */
class SettingsSuite extends AnyFunSuite {

  private val Literal = "\"(spark\\.graft\\.[A-Za-z0-9_.]+|SPARK_GRAFT_[A-Z0-9_]+)\"".r
  private val Row = "^\\| `(spark\\.graft\\.[A-Za-z0-9_.]+|SPARK_GRAFT_[A-Z0-9_]+)` \\|".r
  private val MainRow = "^\\| `(graft\\.[A-Za-z0-9_.]+)[ `]".r

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

  test("src/main/scala truncates lineage only inside Plans.truncate") {
    val Call = "localCheckpoint\\(|\\.checkpoint\\(".r
    val plans = Paths.get("src/main/scala/graft/Plans.scala")
    val plansLines = Files.readAllLines(plans).asScala.toIndexedSeq
    // Plans.truncate's body: its def line through its closing brace
    val from = plansLines.indexWhere(_.contains("def truncate("))
    val body = if (from < 0) Range(0, 0) else from to plansLines.indexWhere(_ == "  }", from)
    val outside = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices
          .filter(i => Call.findFirstIn(lines(i)).nonEmpty)
          .filterNot(i => p.endsWith(plans) && body.contains(i))
          .map(i => s"$p:${i + 1}")
      }
    assert(outside.isEmpty,
      s"lineage truncated outside Plans.truncate: ${outside.sorted.mkString(", ")}")
    assert(from >= 0, "Plans.truncate not found")
  }

  test("README's Entry points table lists exactly the objects in src/main/scala with a main") {
    // the object a main belongs to is the last one declared before it
    val mains: Set[String] = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString).flatMap { src =>
      val pkg = "(?m)^package ([A-Za-z0-9_.]+)".r.findFirstMatchIn(src).map(_.group(1))
      val objects = "\\bobject ([A-Za-z0-9_]+)".r.findAllMatchIn(src).toSeq
      "def main\\(args: Array\\[String\\]\\)".r.findAllMatchIn(src).map { m =>
        val obj = objects.takeWhile(_.start < m.start).last.group(1)
        pkg.fold(obj)(p => s"$p.$obj")
      }
    }.toSet
    val section = Files.readAllLines(Paths.get("README.md")).asScala.toSeq
      .dropWhile(_ != "## Entry points").drop(1).takeWhile(!_.startsWith("## "))
    val rows = section.flatMap(l => MainRow.findFirstMatchIn(l).map(_.group(1)))
    assert(rows.nonEmpty, "README has no \"## Entry points\" table")
    assert(rows.distinct == rows, s"mains listed twice: ${rows.diff(rows.distinct)}")
    val unlisted = mains -- rows
    val stale = rows.toSet -- mains
    assert(unlisted.isEmpty && stale.isEmpty,
      s"mains not in README's Entry points table: ${unlisted.toSeq.sorted.mkString(", ")}; " +
        s"in the table but no such main: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
