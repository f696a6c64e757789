package graft
import java.nio.file.{Files, Paths}

import graft.plans.GraftSession

/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** `{"k": "v",…}` with every key and value a JSON string. Escapes
    * backslash, quote, and ALL control chars (<0x20) — a tab or CR in the
    * oracle SQL would otherwise make the reader's json.load fail and
    * silently zero the correctness check. */
  def jsonObject(entries: Iterable[(String, String)]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    entries.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder(Conf.cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_MANAGED=1: run the WHOLE registry in managed-catalog CBO
    // mode (ANALYZEd tables + cost-based optimizer + join-reorder, the
    // gates standing down via Plans.statsTrusted) — the correctness half
    // of the CBO posture: the dump this produces must oracle-match
    // registry-wide, not just on CboBench's multi-join probe subset.
    if (sys.env.get("SPARK_GRAFT_MANAGED").contains("1")) {
      Tables.materializeCatalog(spark, sfDir, "graft_verify")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      System.err.println("[verify] managed-catalog CBO mode ON (graft_verify)")
    }
    new java.io.File(outDir).mkdirs()
    // Capture every failure as data, not just a log line: a query that
    // throws at analysis time produces no parquet dir, and a dump-dir-driven
    // compare would silently OMIT it (round 8's 18-query outage looked like
    // a clean 92-green artifact). errors.json keeps the invariant
    // |dumped| + |errors| == |SparkEntry.registry| auditable.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.registry.foreach { case SparkEntry.Query(name, run, _) =>
      try run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.toString).linesIterator.next()
        errors(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
      }
      finally Caches.drain()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/errors.json"), jsonObject(errors))
    val n = SparkEntry.registry.size
    System.err.println(s"[verify-summary] ${n - errors.size}/$n dumped, ${errors.size} failed")
    if (sys.env.get("SPARK_GRAFT_MANAGED").contains("1"))
      spark.sql("DROP DATABASE IF EXISTS graft_verify CASCADE")
    spark.stop()
  }
}
