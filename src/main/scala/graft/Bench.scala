package graft

import graft.plans.GraftSession

/** Benchmark main: runs every registered query against
  * `SPARK_GRAFT_SF_DIR` and prints, as the LAST line on stdout, ONE compact
  * JSON object `{"metric":"total","value":…,"unit":"sec","queries":{…},…}`.
  *
  * Two hard-won constraints shape the output:
  *
  *   1. **The final line must fit the harness's tail capture.** The driver
  *      keeps only the last ~2000 characters of stdout; every earlier
  *      round's bench line overflowed that window (verbose per-rep arrays
  *      inline) and parsed as nothing. The compact line therefore carries
  *      per-query MEDIANS only, at centisecond resolution — and when the
  *      query set outgrows the window, it keeps the SLOWEST k queries at
  *      full 2-decimal resolution (always including every query ≥ 0.5 s
  *      and every failed one) and folds the fast remainder into one
  *      `others` bucket (count / sum / max): resolution is spent where the
  *      signal is, instead of flooring sub-second queries to 0 across the
  *      board. The line length is a hard bound: if a wide outage makes
  *      every query "mandatory", k keeps shrinking toward 0 (failed names
  *      survive in the size-capped errors object) — an unbounded line
  *      head-truncates in the artifact and loses everything. The full
  *      per-rep wall and CPU detail is printed on an earlier
  *      `"metric":"detail"` line (readable in the full log, sacrificial in
  *      the tail).
  *
  *   2. **Repetitions are interleaved, not consecutive.** Round-robin
  *      (rep 1 of every query, then rep 2, …) decorrelates external
  *      contention from any single query: a noisy window on a shared box
  *      inflates one rep of many queries — survivable by a per-query
  *      median — rather than all reps of a few queries, which is exactly
  *      how r6's bench manufactured a phantom 8–27 s block out of
  *      sub-second queries even WITH median-of-3.
  *
  *   3. **Median alone is not decision-grade on a shared box.** Round 11's
  *      median-of-3 read 2–5× high on several queries (item_cf_recs 7.15 s
  *      median vs ~3.5 s isolated; ivf_silhouette 2.69 vs ~0.6) because two
  *      of three reps landed in contention windows — phantom regressions
  *      that defeat the 2× gate the artifact feeds. So: reps default to 5,
  *      every query reports its MIN wall alongside the median (min is the
  *      contention-free estimator — local mode has no cache-warming
  *      confound across reps since `Caches.drain()` runs between reps and
  *      the OS page cache is shared by all reps equally), and a query whose
  *      max/min wall ratio exceeds [[NoisyRatio]] is flagged `noisy`: for
  *      flagged rows the reader (human or gate) must trust min, not median.
  *      The compact tail line carries the flagged names with their min
  *      walls (bounded, like the errors object); the full artifact carries
  *      min + dispersion for every query.
  *
  * Failure accounting: a query with zero successful reps reports -1 and is
  * excluded from the total; a query with ANY failed rep counts toward
  * `failed` and appears in an `errors` object (name → failed-rep count,
  * omitted when empty), so an intermittent failure can never hide behind
  * one lucky rep's clean median. All numbers are formatted with an
  * explicit ROOT locale — a comma-decimal default locale must not be able
  * to emit invalid JSON. */
object Bench {

  /** max/min wall ratio beyond which a query's reps are flagged as
    * contention-noisy (scaladoc point 3). 2.0 matches the driver's own
    * regression threshold: dispersion that could manufacture a phantom
    * 2× must be flagged. */
  private val NoisyRatio = 2.0

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** (wall seconds, process-CPU seconds) for one evaluation of `body`. */
  private def timed(body: => Unit): (Double, Double) = {
    val c0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    body
    ((System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9)
  }

  private def fmt(d: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(d))

  /** Numeric scale factor from the data dir name ("…/sf0.1" or "…/sf0.1/"
    * → "0.1"); "-1" when the dir does not encode one (a custom path). */
  private[graft] def sfNum(dir: String): String =
    "sf([0-9]*\\.?[0-9]+)$".r.findFirstMatchIn(dir.replaceAll("/+$", ""))
      .map(_.group(1)).getOrElse("-1")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Conf.cpus
    val reps = Conf.env("SPARK_GRAFT_REPS", 5)
    val spark = GraftSession.builder(cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup outside the timed region, like any JVM benchmark:
    // run every query once at sf0.001 so janino compilation and JIT of each
    // plan shape happen before timing starts — otherwise whichever query
    // runs first absorbs the session's whole cold-start cost (r3:
    // corpus_pipeline at position 2 measured 28 s of which ~20 s was
    // first-touch codegen for the dedup machinery). The compiled classes
    // reach the timed reps only because GraftSession sizes Spark's codegen
    // cache above the registry's census (3,175 classes for this warm-up
    // plus one sf0.1 pass; 160 of them new at sf0.1). Under Spark's
    // default 100 entries the round-robin reps evicted nearly all of them
    // and recompiled every query's code in every rep. Guarded: a broken
    // warmup dir must still produce the JSON result line.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    SparkEntry.registry.foreach { q =>
      try q.run(spark, warmDir).count()
      catch { case e: Throwable => System.err.println(s"[bench] warmup ${q.name} failed: ${e.getMessage}") }
      finally Caches.drain()
    }
    val registry = SparkEntry.registry.sortBy(_.name)
    val names = registry.map(_.name)
    // samples(name): (wall, cpu) of each successful rep; failures(name):
    // count of reps that threw. Reps run round-robin across queries (see
    // scaladoc point 2).
    val samples = collection.mutable.Map.empty[String, Vector[(Double, Double)]].withDefaultValue(Vector.empty)
    val failures = collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for (r <- 1 to reps; SparkEntry.Query(name, run, _) <- registry) {
      try samples(name) = samples(name) :+ timed(run(spark, sfDir).count())
      catch {
        case e: Throwable =>
          failures(name) += 1
          System.err.println(s"[bench] rep $r $name FAILED: ${e.getMessage}")
      }
      finally Caches.drain()
      if (name == names.last)
        System.err.println(s"[bench] rep $r/$reps done")
    }
    // Median by wall time; the CPU reported on the detail line is the
    // median-wall rep's, so the two numbers describe the same execution.
    // wall >> cpu/cores on a rep whose siblings are fast means external
    // contention, not a slower plan (local mode: this JVM is the cluster).
    val medians = names.map { name =>
      val ss = samples(name)
      if (ss.isEmpty) name -> (-1.0, -1.0)
      else { val byWall = ss.sortBy(_._1); name -> byWall(byWall.size / 2) }
    }
    // Contention-free estimator + dispersion flag (scaladoc point 3).
    val mins: Map[String, Double] = names.map { name =>
      val ws = samples(name).map(_._1)
      name -> (if (ws.isEmpty) -1.0 else ws.min)
    }.toMap
    val noisy: Seq[String] = names.filter { name =>
      val ws = samples(name).map(_._1)
      ws.size > 1 && ws.min > 0 && ws.max / ws.min > NoisyRatio
    }
    def obj(entries: Seq[(String, String)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // Full per-rep detail first: this line may be (harmlessly) cut from the
    // harness tail; the compact line below must come LAST.
    println(obj(Seq(
      "metric" -> "\"detail\"",
      "queries_reps" -> obj(names.map(n => n -> samples(n).map(s => fmt(s._1, 3)).mkString("[", ",", "]"))),
      "queries_cpu" -> obj(names.map(n => n -> samples(n).map(s => fmt(s._2, 3)).mkString("[", ",", "]"))))))
    val total = medians.collect { case (_, (w, _)) if w >= 0 => w }.sum
    val nFailed = names.count(n => failures(n) > 0 || samples(n).isEmpty)
    // The errors object must itself be bounded, or a wide outage (r8: 18
    // failed queries) re-overflows the tail window it exists to survive —
    // list the first 12 by name, fold the rest into a count.
    val trailer =
      // Flagged-noisy queries with their MIN walls: the rows where the
      // median must not drive the 2× gate. Bounded like errors — a fully
      // contended run (every query noisy) must not overflow the tail.
      (if (noisy.nonEmpty) {
        val (shown, rest) = noisy.sortBy(n => -mins(n)).splitAt(12)
        Seq("noisy" -> obj(
          shown.map(n => n -> fmt(mins(n), 2)) ++
          (if (rest.nonEmpty) Seq("_more" -> rest.size.toString) else Nil)))
      } else Nil) ++
      (if (failures.nonEmpty) {
        val sortedF = failures.toSeq.sortBy(_._1)
        val (shown, rest) = sortedF.splitAt(12)
        Seq("errors" -> obj(
          shown.map { case (n, c) => n -> c.toString } ++
          (if (rest.nonEmpty) Seq("_more" -> rest.size.toString) else Nil)))
      } else Nil) ++
      // "sf" is NUMERIC per the driver contract ({"sf": 0.1, ...}); the
      // r01–r15 lines carried the data dir string here, which a schema-
      // checking parser would reject. The dir moves to "sf_dir".
      Seq("sf" -> sfNum(sfDir), "sf_dir" -> ("\"" + sfDir + "\""))
    // Slowest first (failed queries sort as slowest: they must never fall
    // into the bucket); ties broken by name for a stable line.
    val byWallDesc = medians.sortBy { case (n, (w, _)) => (if (w < 0) -1e18 else -w, n) }
    def compactTop(k: Int): String = {
      val (shown, rest) = byWallDesc.splitAt(k)
      obj(Seq(
        "metric" -> "\"total\"",
        "value" -> fmt(total, 2),
        "unit" -> "\"sec\"",
        "queries" -> obj(shown.map { case (n, (w, _)) => n -> fmt(w, 2) }),
        "reps" -> reps.toString,
        "failed" -> nFailed.toString) ++
        (if (rest.nonEmpty) Seq("others" -> obj(Seq(
          "n" -> rest.size.toString,
          "sum" -> fmt(rest.map(_._2._1).sum, 2),
          "max" -> fmt(rest.map(_._2._1).max, 2))))
        else Nil) ++
        trailer)
    }
    // Tail-window guard: the driver keeps ~2000 chars and sbt appends a
    // ~90-char footer after us. Spend the budget on the slowest queries:
    // largest k that fits, never dropping a ≥0.5 s or failed query below
    // the bucket; if even those overflow, degrade to 1-decimal for the
    // shown set rather than lose queries.
    val nMandatory = byWallDesc.count { case (_, (w, _)) => w >= 0.5 || w < 0 }
    // Preference order: largest k that fits with every mandatory (≥0.5 s or
    // failed) query shown; if even the mandatory set overflows — a wide
    // outage makes EVERY query mandatory via its -1 — keep shrinking k to 0
    // rather than ever print an unbounded line (r8's fallback printed all
    // 110 queries and the artifact head-truncated). Failed names below the
    // cut survive in the bounded errors object.
    val line = ((names.size to nMandatory by -1) ++ (nMandatory.min(names.size) to 0 by -1))
      .view.map(compactTop).find(_.length <= 1850).getOrElse(compactTop(0))
    // The full, untruncated record also goes to a FILE the round commit
    // picks up (BENCH_FULL.json): every per-query median at 3 decimals,
    // per-rep walls, CPU, and failures — the tail-window compaction above
    // is for the driver's 2000-char capture only and must never be the
    // sole surviving artifact (r8: per-query medians for the alphabetical
    // head of the query set were unrecoverable from the truncated tail).
    val full = obj(Seq(
      "metric" -> "\"bench_full\"",
      // raw parquet is the only posture; the key stays so every round's
      // artifact has the same key set
      "mode" -> "\"raw\"",
      "sf" -> ("\"" + sfDir + "\""),
      "reps" -> reps.toString,
      "total_sec" -> fmt(total, 3),
      "failed" -> nFailed.toString,
      "medians" -> obj(names.map(n => n -> fmt(medians.toMap.apply(n)._1, 3))),
      "mins" -> obj(names.map(n => n -> fmt(mins(n), 3))),
      "noisy" -> noisy.map("\"" + _ + "\"").mkString("[", ",", "]"),
      "reps_wall" -> obj(names.map(n => n -> samples(n).map(s => fmt(s._1, 3)).mkString("[", ",", "]"))),
      "reps_cpu" -> obj(names.map(n => n -> samples(n).map(s => fmt(s._2, 3)).mkString("[", ",", "]"))),
      "errors" -> obj(failures.toSeq.sortBy(_._1).map { case (n, c) => n -> c.toString })))
    // Written twice: the unsuffixed file and a per-core-count snapshot next
    // to it. The bench runs at TWO core counts in one round, and r15's
    // 8-core run clobbered the 32-core full artifact (the r15 32c
    // per-query mins are gone). The unsuffixed name stays the diff
    // baseline; the suffixed one survives.
    for (p <- Seq("BENCH_FULL.json", s"BENCH_FULL_c$cpus.json")) {
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), full + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] $p write failed: ${e.getMessage}") }
    }
    println(line)
    spark.stop()
  }
}
