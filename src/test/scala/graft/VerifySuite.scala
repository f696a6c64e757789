package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Verify's JSON writer (oracle_sql.json, errors.json), read back by a
  * real JSON parser. */
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
}
