package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caches, Conf, Memo, SparkEntry, Tables}
import graft.plans.GraftSession

/** Bench variant that runs the REGISTERED multi-join queries in
  * managed-catalog CBO mode and diffs plans + results against the
  * raw-parquet mode the driver benches.
  *
  * Raw mode plans stats-blind over parquet paths: join sizing comes from
  * file footers and the library's explicit size gates, and join ORDER is
  * syntactic (every hint excludes its join from `CostBasedJoinReorder`).
  * Managed mode ([[Tables.materializeCatalog]]) gives Catalyst ANALYZE
  * row counts + column stats, the gates stand down
  * ([[graft.Plans.statsTrusted]]), and the CBO both sizes joins from
  * evidence and is free to reorder the q5/q9-class dimension chains —
  * the posture a 100 TB warehouse deployment would run. This tool proves
  * the mode on the real registry: per query it records both modes' walls,
  * join-leaf orders, whether the order changed, and a fingerprint
  * equality check (the reorder must be invisible in the bytes), and
  * writes the whole record as one JSON artifact (BENCH_CBO.json by
  * default) so the benched posture is a committed number, not a log line.
  *
  * Noise discipline (round-12 lesson, same as Bench.scala): a single wall
  * per mode manufactured 8 phantom 1.3–2.75× "CBO regressions" out of
  * contention windows. Each mode therefore runs one UNTIMED warm pass
  * (which doubles as the fingerprint + janino/JIT warm for that mode's
  * plan shapes) followed by `SPARK_GRAFT_CBO_REPS` (default 3) timed reps,
  * interleaved round-robin across probes so an external contention window
  * inflates one rep of many probes instead of all reps of a few. The
  * artifact carries median AND min per (probe, mode) — min is the
  * contention-free estimator — plus a `noisy` flag (max/min > 2) matching
  * Bench's convention; the regression gate must read `*_min`.
  *
  * Probe selection is evidence-based and INVERTED from a hand-list (r12
  * ADVICE): every registry query is a candidate by default. A candidate
  * is excluded only on observed behavior, each exclusion logged with its
  * reason: (a) its DataFrame CONSTRUCTION runs Spark jobs — it builds
  * memoized session artifacts (or iterates driver-side), so its wall
  * re-measures artifact reuse, not per-mode planning; detected by a
  * job-counting listener around construction at the cheap warm dir, not
  * by name; (b) its RAW optimized plan carries < 2 Join operators — with
  * at most 2 join participants `CostBasedJoinReorder` has nothing to
  * re-sequence, and admitting UNION-shaped plans would pad the totals
  * with structurally non-reorderable rows. A new registry family is thus
  * picked up automatically; nothing can silently drop on a name regex.
  *
  * `runMain graft.tools.CboBench [sfDir] [queries] [artifactPath]`
  */
object CboBench {

  // identify a leaf relation by its column-name prefix — works identically
  // for path relations (whose toString omits the file path) and catalog
  // tables, since both expose the same schema
  private val PrefixTable = Seq(
    "l_" -> "lineitem", "o_" -> "orders", "c_" -> "customer",
    "s_" -> "supplier", "p_" -> "part", "n_" -> "nation", "r_" -> "region",
    "doc_" -> "documents", "vec_" -> "embeddings", "event_" -> "events")

  private def leafOrder(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.output.headOption.map(_.name).getOrElse(""))
      .map(c => PrefixTable.collectFirst {
        case (p, t) if c.startsWith(p) => t
      }.getOrElse("?"))

  private def joinCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size

  /** Counts JobStart events; remembers the last job-group id seen so
    * [[syncedJobs]] can flush the async listener bus deterministically. */
  private class JobCounter extends SparkListener {
    val starts = new AtomicInteger
    @volatile var lastGroup: String = ""
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      starts.incrementAndGet()
      val g = Option(js.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) lastGroup = g
    }
  }

  private var syncN = 0

  /** Number of non-sentinel jobs started so far, read through a barrier:
    * submits a tagged sentinel job and waits until the listener has
    * processed its JobStart — the bus is FIFO, so every earlier JobStart
    * is counted by then. Each sentinel increments both `starts` and
    * `syncN`, so the difference stays the non-sentinel count. */
  private def syncedJobs(spark: SparkSession, c: JobCounter): Int = {
    syncN += 1
    val tag = s"cbobench-sync-$syncN"
    spark.sparkContext.setJobGroup(tag, tag)
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (c.lastGroup != tag && System.nanoTime() < deadline) Thread.sleep(2)
    if (c.lastGroup != tag)
      System.err.println(s"[cbobench] WARNING: listener bus did not flush $tag in 30 s")
    c.starts.get() - syncN
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One mode's measurements for one probe. */
  private case class ModeRun(order: Seq[String], fp: (Long, Long),
                             walls: Seq[Double], fpStable: Boolean) {
    def med: Double = median(walls)
    def min: Double = walls.min
    def noisy: Boolean = walls.max / walls.min > 2.0
  }

  /** Warm pass (untimed; computes the mode's fingerprint + leaf order),
    * then `reps` timed fingerprint evaluations per probe, interleaved
    * round-robin across the probe list. */
  private def runMode(spark: SparkSession, sfDir: String, probes: Seq[String],
                      reps: Int, mode: String): Map[String, ModeRun] = {
    val order = probes.map { n =>
      n -> leafOrder(SparkEntry.query(n).run(spark, sfDir))
    }.toMap
    val fp = probes.map { n =>
      val f = RowFingerprint(SparkEntry.query(n).run(spark, sfDir))
      Caches.drain()
      n -> f
    }.toMap
    System.err.println(s"[cbobench] $mode warm pass done (${probes.size} probes)")
    val walls = collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val stable = collection.mutable.Map.empty[String, Boolean].withDefaultValue(true)
    for (r <- 1 to reps; n <- probes) {
      val t0 = System.nanoTime()
      val f = RowFingerprint(SparkEntry.query(n).run(spark, sfDir))
      walls(n) = walls(n) :+ (System.nanoTime() - t0) / 1e9
      if (f != fp(n)) stable(n) = false
      Caches.drain()
      if (n == probes.last) System.err.println(s"[cbobench] $mode rep $r/$reps done")
    }
    probes.map(n => n -> ModeRun(order(n), fp(n), walls(n), stable(n))).toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val artifact = args.lift(2).getOrElse("BENCH_CBO.json")
    val reps = Conf.env("SPARK_GRAFT_CBO_REPS", 3)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.builder(Conf.cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probes = args.lift(1)
      .map(_.split(',').toSeq.map(n => SparkEntry.query(n.trim).name))
      .filter(_.nonEmpty)
      .getOrElse {
        val counter = new JobCounter
        spark.sparkContext.addSparkListener(counter)
        // prime the Tables schema memo for warmDir so the first candidate
        // doesn't absorb the one-time footer-inference jobs
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
          .foreach(t => Tables.table(spark, warmDir, t))
        // SESSION-OWNERSHIP CONTRACT: this classifier (and the timed
        // passes below) evicts session memos and drains the cache registry
        // per candidate — other tools' memoized state does NOT survive it.
        // CboBench must OWN its SparkSession for the whole run; never point
        // it at a session shared with Verify/Bench/a live shell, or their
        // memo-dependent invariants (and walls) silently break.
        val admitted = SparkEntry.registry.map(_.name).sorted.filter { n =>
          // evict memos so classification is order-independent: a memo
          // HIT would make an artifact consumer look construction-clean
          // just because an earlier candidate built the artifact
          Memo.evictSession(spark)
          Caches.drain()
          val before = syncedJobs(spark, counter)
          try {
            val jc = joinCount(SparkEntry.query(n).run(spark, warmDir))
            val jobs = syncedJobs(spark, counter) - before
            if (jobs > 0) {
              System.err.println(s"[cbobench] exclude $n: $jobs construction job(s) — artifact build or driver-side iteration")
              false
            } else if (jc < 2) {
              System.err.println(s"[cbobench] exclude $n: $jc join(s) — nothing to reorder")
              false
            } else true
          } catch { case e: Throwable =>
            System.err.println(s"[cbobench] exclude $n: plan failed (${e.getMessage})"); false
          }
        }
        // release whatever the classification pass memoized at warmDir
        Memo.evictSession(spark)
        Caches.drain()
        spark.sparkContext.removeSparkListener(counter)
        admitted
      }
    System.err.println(s"[cbobench] ${probes.size} multi-join probes: ${probes.mkString(", ")}")

    // raw-mode pass first (the confs route loaders per-dir, so order matters)
    val raw = runMode(spark, sfDir, probes, reps, "raw")
    Tables.materializeCatalog(spark, sfDir, "graft_bench")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    val cbo = runMode(spark, sfDir, probes, reps, "cbo")

    var mismatches = 0
    var reordered = 0
    val records = probes.map { n =>
      val r = raw(n); val c = cbo(n)
      val ok = r.fp == c.fp && r.fpStable && c.fpStable
      if (!ok) mismatches += 1
      val moved = r.order != c.order
      if (moved) reordered += 1
      val noisy = r.noisy || c.noisy
      println(f"[cbobench] $n%-28s raw=${r.med}%5.2f s (min ${r.min}%5.2f) " +
        f"cbo=${c.med}%5.2f s (min ${c.min}%5.2f) " +
        f"${if (moved) "REORDERED" else "same-order"} ${if (ok) "MATCH" else "MISMATCH"}" +
        (if (noisy) " NOISY" else ""))
      if (moved)
        println(s"[cbobench]   raw: ${r.order.mkString(" > ")}\n[cbobench]   cbo: ${c.order.mkString(" > ")}")
      (n, r, c, moved, ok, noisy)
    }
    println(s"[cbobench] done: ${probes.size} queries, $reordered reordered, $mismatches mismatches")
    def f2(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val json = records.map { case (n, r, c, m, ok, noisy) =>
      s""""$n":{"raw_sec":${f2(r.med)},"raw_min":${f2(r.min)},""" +
        s""""cbo_sec":${f2(c.med)},"cbo_min":${f2(c.min)},""" +
        s""""reordered":$m,"match":$ok,"noisy":$noisy}"""
    }.mkString(
      s"""{"metric":"cbo_bench","sf":"$sfDir","reps":$reps,"n_probes":${records.size},""" +
        s""""reordered":$reordered,"mismatches":$mismatches,""" +
        s""""raw_total_sec":${f2(records.map(_._2.med).sum)},""" +
        s""""raw_total_min":${f2(records.map(_._2.min).sum)},""" +
        s""""cbo_total_sec":${f2(records.map(_._3.med).sum)},""" +
        s""""cbo_total_min":${f2(records.map(_._3.min).sum)},"queries":{""",
      ",", "}}\n")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact), json)
    catch { case e: Throwable => System.err.println(s"[cbobench] artifact write failed: ${e.getMessage}") }
    spark.sql("DROP DATABASE IF EXISTS graft_bench CASCADE")
    spark.stop()
    if (mismatches > 0) sys.exit(1)
  }
}
