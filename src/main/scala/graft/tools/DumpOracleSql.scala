package graft.tools

import java.nio.file.{Files, Paths}

import graft.{SparkEntry, Verify}

/** Dev harness: write SparkEntry.oracleSql as JSON without a Spark session,
  * for tools/spotcheck.py's targeted DuckDB diff. Not part of the driver
  * contract (the driver gets the same map from Verify's oracle_sql.json). */
object DumpOracleSql {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/oracle_sql.json")
    Files.writeString(Paths.get(out), Verify.jsonObject(SparkEntry.oracleSql))
  }
}
