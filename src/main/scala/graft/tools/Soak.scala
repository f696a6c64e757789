package graft.tools

import graft.{Caches, SparkEntry}
import graft.plans.GraftSession

/** Soak/repetition harness — the analog of the reference's
  * `test-mr-many.sh` (`/root/reference/src/main/test-mr-many.sh:8-23`, which
  * reruns the whole suite N times because single-pass green proves little
  * about flakiness).
  *
  * `runMain graft.tools.Soak [trials] [sfDir]` (defaults 3, sf0.01) runs
  * every registered query `trials` times and fails (exit 1) on:
  *   - any query error in any trial;
  *   - any cross-trial RESULT divergence — each trial takes the result
  *     set's order-free [[RowFingerprint]] (rows, fingerprint), and a pair
  *     that isn't identical across trials means the query is
  *     nondeterministic, which a hash-compared oracle cannot tolerate.
  * Per-query median wall times across trials are printed at the end — the
  * stable number a single contended pass can't fake (r5's driver bench
  * reported a 55× phantom regression exactly because it ran once). */
object Soak {
  def main(args: Array[String]): Unit = {
    val trials = args.headOption.map(_.toInt).getOrElse(3)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // per query: (rows, fingerprint) per trial (None = the trial failed)
    // + wall seconds per trial
    val names = SparkEntry.queries.keys.toSeq.sorted
    val digests = collection.mutable.Map.empty[String, Vector[Option[(Long, Long)]]]
      .withDefaultValue(Vector.empty)
    val times = collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)

    for (t <- 1 to trials; name <- names) {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val digest =
        try Some(RowFingerprint(fn(spark, sfDir)))
        catch { case e: Throwable => System.err.println(s"[soak] trial $t $name FAILED: ${e.getMessage}"); None }
        finally Caches.drain()
      digests(name) = digests(name) :+ digest
      times(name) = times(name) :+ (System.nanoTime() - t0) / 1e9
      if (names.indexOf(name) == names.size - 1)
        println(f"[soak] trial $t/$trials done (${times.values.map(_.last).sum}%.1f s)")
    }

    val errored = names.filter(n => digests(n).contains(None))
    val flaky = names.filter(n => digests(n).distinct.size > 1)
    names.foreach { n =>
      val ts = times(n).sorted
      val median = ts(ts.size / 2)
      val mark = if (digests(n).contains(None)) " ERROR"
        else if (digests(n).distinct.size > 1) " FLAKY"
        else ""
      println(f"[soak] $n%-28s median ${median}%7.2f s  (${ts.map(x => f"$x%.2f").mkString(", ")})$mark")
    }
    spark.stop()
    if (errored.nonEmpty || flaky.nonEmpty) {
      System.err.println(s"[soak] FAILED — errors: ${errored.mkString(",")} flaky: ${flaky.mkString(",")}")
      sys.exit(1)
    }
    println(s"[soak] PASSED: ${names.size} queries x $trials trials, deterministic")
  }
}
