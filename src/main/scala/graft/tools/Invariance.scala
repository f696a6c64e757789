package graft.tools

import org.apache.spark.SparkFiles
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caches, Conf, Memo, Plans, SparkEntry, Verify}
import graft.plans.GraftSession

/** Invariance check — does a query's result stay the same when only the
  * execution changes? The analog of the reference's `test-mr.sh` (a
  * distributed run against the sequential one) and `test-mr-many.sh`
  * (`src/main/test-mr-many.sh:8-23`: the whole suite rerun N times,
  * because one green pass proves little about flakiness).
  *
  * Each query runs through the fixed table of [[Legs]]: the defaults
  * [[Repeats]] times (the first run is the baseline), then every gated
  * broadcast forced to shuffled-hash. Every leg starts memo-cold
  * (`Memo.evictSession`), so the artifacts a query builds — trained
  * models, edge lists, label tables — are rebuilt under that leg's confs;
  * a leg that reused them would prove nothing about the gated joins or
  * nondeterminism inside their builds. A leg's result is the order-free
  * [[RowFingerprint]] of the query's rows, or the error it threw.
  *
  * `runMain graft.tools.Invariance [sfDir] [k] [q1,q2,...]` (defaults
  * sf0.01, k = 1, every registered query): with k > 1 the data is first
  * replicated k× (ScaleProbe's disjoint-shingle documents/events/
  * embeddings plus [[replicateRelational]]) into the application's scratch
  * root. Prints one line per (query, leg) — wall and MATCH/MISMATCH/ERROR
  * — and exits 1 on any mismatch or error. */
object Invariance {

  /** One execution of a query: a name and the session confs it sets. */
  final case class Leg(name: String, confs: Map[String, String])

  /** Runs at the defaults; the first is the baseline. */
  val Repeats = 3

  val Legs: Seq[Leg] =
    Seq.fill(Repeats)(Leg("default", Map.empty)) :+
      Leg("gates-off", Map(Plans.BroadcastRowLimitKey -> "0", Plans.BroadcastByteLimitKey -> "0"))

  /** One (query, leg): its fingerprint or error, its wall time, and
    * whether it equals the baseline's fingerprint. */
  final case class Result(
      query: String, leg: String, fingerprint: Either[String, (Long, Long)],
      wallSec: Double, matches: Boolean) {
    def status: String = if (fingerprint.isLeft) "ERROR" else if (matches) "MATCH" else "MISMATCH"
  }

  def check(spark: SparkSession, dir: String, queries: Seq[SparkEntry.Query]): Seq[Result] =
    queries.flatMap { case SparkEntry.Query(name, run, _) =>
      val runs = Legs.map(leg => (leg, runLeg(spark, dir, run, leg)))
      val baseline = runs.head._2._1
      runs.map { case (leg, (fp, sec)) =>
        Result(name, leg.name, fp, sec, fp.isRight && fp == baseline)
      }
    }

  /** One memo-cold run under `leg`'s confs: the fingerprint or the first
    * line of the error, and the wall time (as in Bench, without the drain). */
  private def runLeg(spark: SparkSession, dir: String, run: (SparkSession, String) => DataFrame,
      leg: Leg): (Either[String, (Long, Long)], Double) = {
    Memo.evictSession(spark)
    leg.confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val t0 = System.nanoTime()
    try {
      val fp =
        try Right(RowFingerprint(run(spark, dir)))
        catch { case e: Throwable => Left(e.toString.linesIterator.next()) }
      (fp, (System.nanoTime() - t0) / 1e9)
    } finally {
      leg.confs.keys.foreach(spark.conf.unset)
      Caches.drain()
    }
  }

  /** k× replication of the TPC-H-shaped tables with consistent per-replica
    * key offsets — the honest growth mode for the relational queries: facts
    * AND dimensions grow k× (the point of the gates-off leg is precisely
    * that dimensions outgrow broadcast), replicas never cross-join (all
    * foreign keys offset by the same replica stride), and nation/region
    * stay the constant-size tables they are at every SF. */
  private def replicateRelational(spark: SparkSession, srcDir: String, k: Int, outDir: String): Unit = {
    def src(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L
    val strides = Map(
      "part" -> stride(src("part"), "p_partkey"),
      "supplier" -> stride(src("supplier"), "s_suppkey"),
      "customer" -> stride(src("customer"), "c_custkey"),
      "orders" -> stride(src("orders"), "o_orderkey"))
    // constant dims: copy as-is
    for (t <- Seq("region", "nation"))
      src(t).write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
    // which key columns shift by which stride, per table
    val shifts: Map[String, Seq[(String, String)]] = Map(
      "part" -> Seq("p_partkey" -> "part"),
      "supplier" -> Seq("s_suppkey" -> "supplier"),
      "customer" -> Seq("c_custkey" -> "customer"),
      "orders" -> Seq("o_orderkey" -> "orders", "o_custkey" -> "customer"),
      "lineitem" -> Seq("l_orderkey" -> "orders", "l_partkey" -> "part",
        "l_suppkey" -> "supplier"))
    shifts.foreach { case (t, keyShifts) =>
      val base = src(t)
      (0 until k).map { r =>
        keyShifts.foldLeft(base) { case (df, (c, s)) =>
          df.withColumn(c, col(c) + lit(r * strides(s)))
        }
      }.reduce(_ unionAll _)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val k = args.lift(1).map(_.toInt).getOrElse(1)
    require(k >= 1, s"k must be at least 1, got $k")
    // resolved before the session starts: a typo fails in milliseconds
    val queries = Verify.selected(args.lift(2))
    val spark = GraftSession.builder(Conf.cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir =
      if (k == 1) sfDir
      else {
        val out = s"${SparkFiles.getRootDirectory()}/invariance-k$k"
        ScaleProbe.replicate(spark, sfDir, k, out)
        replicateRelational(spark, sfDir, k, out)
        out
      }
    // one query at a time, so each query's lines print as soon as it is done
    val results = queries.flatMap { q =>
      val rs = check(spark, dir, Seq(q))
      rs.foreach { r =>
        val detail = r.fingerprint.fold(identity, fp => s"rows=${fp._1} fp=${fp._2}")
        println(f"[invariance] k=$k ${r.query}%-28s ${r.leg}%-9s ${r.wallSec}%7.2f s  ${r.status} $detail")
      }
      rs
    }
    spark.stop()
    val failed = results.filter(_.status != "MATCH")
    println(s"[invariance] done: ${queries.size} queries x ${Legs.size} legs, " +
      s"${failed.count(_.status == "MISMATCH")} mismatches, ${failed.count(_.status == "ERROR")} errors")
    failed.foreach(r => println(s"[invariance] ${r.status}: ${r.query} ${r.leg}"))
    if (failed.nonEmpty) sys.exit(1)
  }
}
