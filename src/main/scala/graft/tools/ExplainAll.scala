package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.plans.GraftSession

/** Dumps the formatted physical plan of every registered query — the
  * scale-review artifact: check pushed filters, pruned read schemas,
  * broadcast joins on dimensions, and whole-stage-codegen coverage. */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/plans.txt"
    val spark = GraftSession.builder(graft.Conf.cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    SparkEntry.registry.sortBy(_.name).foreach { q =>
      sb ++= s"\n===== ${q.name} =====\n"
      try sb ++= q.run(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      catch { case e: Throwable => sb ++= s"ERROR: ${e.getMessage}\n" }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
