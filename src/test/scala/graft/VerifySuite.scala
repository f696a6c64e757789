package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Verify's JSON writer (oracle_sql.json, errors.json), read back by a
  * real JSON parser, and its query-subset argument. */
class VerifySuite extends AnyFunSuite {

  private def parse(json: String): Map[String, String] =
    new ObjectMapper().readTree(json).properties().asScala
      .map(e => e.getKey -> e.getValue.textValue).toMap

  test("the JSON writer escapes quotes, backslashes and control characters") {
    val key = "k\"\\\n\r\t\u0001"
    val sql = "SELECT '\"', '\\'\n\r\t\u0001 FROM t"
    assert(parse(Verify.jsonObject(Seq(key -> sql, "plain" -> ""))) == Map(key -> sql, "plain" -> ""))
  }

  test("the oracle JSON has one key per registered query, with its SQL") {
    val parsed = parse(Verify.jsonObject(SparkEntry.oracleSql))
    assert(parsed.size == 277)
    assert(parsed.keySet == SparkEntry.registry.map(_.name).toSet)
    assert(parsed == SparkEntry.registry.map(q => q.name -> q.oracleSql).toMap)
  }

  test("an unknown query name fails before any Spark session starts") {
    assert(Verify.selected(Some("events_cms,q5_nation_revenue,events_cms")).map(_.name) ==
      Seq("events_cms", "q5_nation_revenue"))
    val tmp = java.nio.file.Files.createTempDirectory("verify-suite")
    val out = tmp.resolve("out")
    val names = "q5_nation_revenue,no_such_query"
    val mains: Seq[(String, Array[String] => Unit, Array[String])] = Seq(
      ("Verify", Verify.main, Array("never-read-sf-dir", out.toString, names)),
      ("ScaleProbe", graft.tools.ScaleProbe.main, Array("1", "never-read-sf-dir", out.toString, names)),
      ("Invariance", graft.tools.Invariance.main, Array("never-read-sf-dir", "2", names)))
    try mains.foreach { case (tool, main, args) =>
      val before = SparkSession.getDefaultSession
      val e = intercept[NoSuchElementException](main(args))
      assert(e.getMessage == "unknown query: no_such_query", tool)
      assert(SparkSession.getDefaultSession == before, s"$tool started a Spark session")
      assert(!java.nio.file.Files.exists(out), s"$tool created its output dir")
    } finally Seq(out, tmp).foreach(java.nio.file.Files.deleteIfExists)
  }
}
