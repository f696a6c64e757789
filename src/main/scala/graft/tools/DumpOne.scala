package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode

import graft.SparkEntry
import graft.plans.GraftSession

/** Dev harness: dump ONE registered query's result as sorted CSV lines to
  * stdout, for targeted oracle diffing without a full Verify pass. Goes
  * through a CSV sink (like Verify's parquet dump), not a driver collect.
  * `runMain graft.tools.DumpOne <query> [sfDir]`. Not part of the driver
  * contract. */
object DumpOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: DumpOne <query> [sfDir]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val query = SparkEntry.query(name)
    val spark = GraftSession.builder(graft.Conf.cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = query.run(spark, sfDir)
    val cols = df.columns.sorted
    val out = java.nio.file.Files.createTempDirectory("dumpone").toString
    df.select(cols.head, cols.tail: _*)
      .write.mode(SaveMode.Overwrite).csv(out)
    graft.Caches.drain()
    println(s"[dumpone] columns: ${cols.mkString(",")}")
    java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator().asScala
      .filter(_.toString.endsWith(".csv"))
      .flatMap(p => java.nio.file.Files.readAllLines(p).asScala)
      .toSeq.sorted
      .foreach(l => println(s"[dumpone] $l"))
    spark.stop()
  }
}
