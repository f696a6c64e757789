package graft
import java.nio.file.{Files, Paths}

import graft.plans.GraftSession

/** Correctness dump, `graft.Verify <sfDir> <outDir> [q1,q2,…]`: each
  * registered query's result → parquet, plus oracle_sql.json, for a DuckDB
  * oracle compare (`tools/oracle_check.py`). The optional third argument
  * limits the dump, oracle_sql.json and the summary line to the named
  * queries; with two arguments every registered query is dumped. */
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

  /** The queries one run dumps: the whole registry, or the comma-separated
    * names in `only`, each resolved through [[SparkEntry.query]] — an
    * unknown name throws `unknown query: <name>`. */
  def selected(only: Option[String]): Seq[SparkEntry.Query] =
    only.fold(SparkEntry.registry)(_.split(',').toSeq.distinct.map(SparkEntry.query))

  def main(args: Array[String]): Unit = {
    if (args.length != 2 && args.length != 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [q1,q2,...]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    // resolved before the session starts: a typo fails in milliseconds
    val queries = selected(args.lift(2))
    val spark = GraftSession.builder(Conf.cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Capture every failure as data, not just a log line: a query that
    // throws at analysis time produces no parquet dir, and a dump-dir-driven
    // compare would silently OMIT it (round 8's 18-query outage looked like
    // a clean 92-green artifact). errors.json keeps the invariant
    // |dumped| + |errors| == |queries| auditable.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case SparkEntry.Query(name, run, _) =>
      try run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.toString).linesIterator.next()
        errors(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
      }
      finally Caches.drain()
    }
    val names = queries.map(_.name).toSet
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObject(SparkEntry.oracleSql.filter { case (n, _) => names(n) }))
    Files.writeString(Paths.get(s"$outDir/errors.json"), jsonObject(errors))
    val n = queries.size
    System.err.println(s"[verify-summary] ${n - errors.size}/$n dumped, ${errors.size} failed")
    spark.stop()
  }
}
