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
    val before = SparkSession.getDefaultSession
    val tmp = java.nio.file.Files.createTempDirectory("verify-suite")
    val out = tmp.resolve("out")
    try {
      val e = intercept[NoSuchElementException](
        Verify.main(Array("never-read-sf-dir", out.toString, "q5_nation_revenue,no_such_query")))
      assert(e.getMessage == "unknown query: no_such_query")
      assert(SparkSession.getDefaultSession == before, "Verify started a Spark session")
      assert(!java.nio.file.Files.exists(out), "Verify created its output dir")
    } finally Seq(out, tmp).foreach(java.nio.file.Files.deleteIfExists)
  }
}
