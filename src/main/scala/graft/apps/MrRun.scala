package graft.apps

import graft.core.MapReduceJob
import graft.plans.GraftSession

/** CLI driver for the MapReduce parity apps — the analog of the reference's
  * `mrcoordinator pg*.txt` + `mrworker wc.so` pair
  * (`/root/reference/src/main/mrcoordinator.go`, `mrworker.go`), collapsed
  * into one Spark submission.
  *
  * Usage: MrRun <wc|indexer|filestats|perfile|plugin:FQCN> <inputGlob> <outDir> [nReduce]
  * Output: sorted-mergeable `"key value"` text, one file per reduce
  * partition (`sort part-* | grep .` gives the reference's merged view).
  *
  * `plugin:<fully.qualified.Name>` loads a user [[graft.core.MrPlugin]]
  * from the classpath at runtime — the `mrworker wc.so` analog; see
  * [[graft.core.MrPlugin]].
  */
object MrRun {
  private val apps: Map[String, MapReduceJob] = Map(
    "wc" -> ReferenceApps.wcJob,
    "indexer" -> ReferenceApps.indexerJob,
    "filestats" -> ReferenceApps.fileStatsJob,
    "perfile" -> ReferenceApps.perFileCountJob)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: MrRun <app> <inputGlob> <outDir> [nReduce]")
    val Array(app, glob, outDir) = args.take(3)
    val base =
      if (app.startsWith("plugin:")) graft.core.MrPlugin.load(app.stripPrefix("plugin:")).job
      else apps.getOrElse(app,
        throw new IllegalArgumentException(s"unknown app '$app'; have ${apps.keys.mkString(",")} or plugin:<FQCN>"))
    val job = base.withNReduce(graft.Conf.positiveInt("nReduce", args.lift(3), base.nReduce))
    val spark = GraftSession.builder(graft.Conf.cpus.toString).appName(s"mr-$app").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    job.runToText(spark, glob, outDir)
    spark.stop()
  }
}
