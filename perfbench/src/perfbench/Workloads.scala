package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.{Caches, Memo, SparkEntry, Tables}
import graft.apps.ReferenceApps
import graft.core.MapReduceJob
import graft.tools.RowFingerprint

/** Timing of operations and passes shared by the pass-based workloads. */
object Passes {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Time one operation as construction (`construct`, which may run jobs of
    * its own), action, and the `Caches.drain()` the harness contract asks
    * for after every operation. */
  def op[T](spark: SparkSession, name: String)(construct: => T)(action: T => Unit): OpSample = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.PhaseKey, "construct")
    val t0 = System.nanoTime()
    try {
      val built = construct
      val t1 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseKey, "action")
      action(built)
      val t2 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseKey, null)
      Caches.drain()
      val t3 = System.nanoTime()
      OpSample(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    } finally sc.setLocalProperty(Tracer.PhaseKey, null)
  }

  /** Run `warmPasses` untimed passes (the JIT keeps speeding passes up
    * for several after the first), then timed passes until `seconds`
    * have elapsed (at least one). Each pass starts memo-cold; `verify`
    * runs after each pass, outside its wall time. The op latencies a run
    * reports are each operation's median over the timed passes, so one
    * slow repetition of one operation does not move them. */
  def run(spark: SparkSession, rec: Recorder, seconds: Double, warmPasses: Int)(
      pass: Int => Seq[OpSample])(verify: Int => Unit): Unit = {
    (-warmPasses until 0).foreach { p =>
      Memo.evictSession(spark)
      pass(p)
      verify(p)
    }
    val start = System.nanoTime()
    var p = 0
    while (p == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      p += 1
      val c0 = cpuS
      val w0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      Memo.evictSession(spark)
      val evictS = (System.nanoTime() - w0) / 1e9
      val ops = pass(p)
      val wallS = (System.nanoTime() - w0) / 1e9
      val endMs = System.currentTimeMillis()
      val cpu = cpuS - c0
      val cachedMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      rec.passes += PassSample(p, wallS, cpu, evictS, startMs, endMs, ops, cachedMb)
      verify(p)
    }
    rec.latenciesMs ++= rec.passes.flatMap(_.ops).groupBy(_.name).values
      .map(ss => Stats.median(ss.map(_.latencyMs).toSeq))
  }

  /** Per-layer metrics of one traced pass (see BENCHMARK.json). */
  def layers(p: PassSample, tracer: Tracer): Map[String, Double] = {
    val a = tracer.pass(p.index)
    // core time over the whole traced interval, which for stream_upsert is
    // its schedule, not its wall
    val coreS = (p.endMs - p.startMs) / 1000.0 * Main.Cores
    val idle = tracer.idleCoreSeconds(p.startMs, p.endMs)
    val runS = a.runMs / 1000.0
    val overheadS = (a.spanMs - a.runMs) / 1000.0
    val construct = p.ops.map(_.constructS).sum
    val action = p.ops.map(_.actionS).sum
    val drain = p.ops.map(_.drainS).sum
    Map(
      "trace.wall_s" -> p.wallS,
      "trace.wall_gap" -> math.abs(p.wallS - (construct + action + drain + p.evictS)) / p.wallS,
      // listener task spans against sampled scheduler occupancy
      "trace.core_gap" -> math.abs(coreS - (runS + overheadS + idle)) / coreS,
      // the two-term account, which leaves the task overhead out
      "trace.core_residual" -> (coreS - (runS + idle)) / coreS,
      "construct.s" -> construct,
      "construct.jobs" -> a.constructJobs.toDouble,
      "action.s" -> action,
      "tables.scan_mb" -> a.inputB / 1e6,
      "tables.scan_rows" -> a.inputRows.toDouble,
      "memo.cached_mb" -> p.cachedMb,
      "memo.evict_s" -> p.evictS,
      "caches.drain_s" -> drain,
      "plan.exchanges" -> a.exchanges.toDouble,
      "plan.broadcasts" -> a.broadcasts.toDouble,
      "plan.smj" -> a.smj.toDouble,
      "plan.shj" -> a.shj.toDouble,
      "plan.bhj" -> a.bhj.toDouble,
      "sched.jobs" -> a.jobs.toDouble,
      "sched.stages" -> a.stages.toDouble,
      "sched.tasks" -> a.tasks.toDouble,
      "sched.single_task_stages" -> a.singleTaskStages.toDouble,
      "sched.idle_core_s" -> idle,
      "sched.task_overhead_s" -> overheadS,
      "sched.busy_ratio" -> runS / coreS,
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> a.cpuNs / 1e9,
      "exec.gc_s" -> a.gcMs / 1000.0,
      "exec.shuffle_write_mb" -> a.shuffleWriteB / 1e6,
      "exec.shuffle_read_mb" -> a.shuffleReadB / 1e6,
      "exec.fetch_wait_s" -> a.fetchWaitMs / 1000.0,
      "exec.spill_mb" -> a.spillB / 1e6)
  }

  /** Median over passes of each per-layer metric. */
  def medianLayers(perPass: Seq[Map[String, Double]]): Map[String, Double] =
    perPass.flatMap(_.keys).distinct.map(k => k -> Stats.median(perPass.flatMap(_.get(k)))).toMap
}

// ---------------------------------------------------------------- queries

/** Expected (row count, fingerprint) of each registered query, per scale;
  * a fingerprint of None means the query's output is not bit-stable and is
  * checked on its row count only. */
object Expectations {
  def load(file: String, scale: String): Map[String, (Long, Option[Long])] =
    Files.readAllLines(Paths.get(file)).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t"))
      .collect { case Array(s, q, rows, fp) if s == scale =>
        q -> (rows.toLong, if (fp == "-") None else Some(fp.toLong))
      }.toMap
}

object QueryMix {
  /** 5 of the 62 `graft.relational` and 4 of the 60 `graft.events` queries
    * (a seeded draw: Python `random.Random(2024)`, `sample` of 5 from the
    * sorted relational names, then of 4 from the sorted events names),
    * plus the one `graft.sources` query. */
  val Names = Seq(
    "lineitem_unpivot", "orders_above_avg", "part_skyline", "q12_priority_class",
    "q20_concentrated_suppliers",
    "events_cms", "events_latest_per_user", "events_top3_per_type", "events_user_quartiles",
    "bucketed_priority_revenue")

}

/** query_mix: a closed loop with one client; each pass issues every query
  * of the list, in an order drawn from the seed. */
final class QueryMix(a: Main.Args, work: String) extends Workload {
  private var dir: String = _
  private val registry = SparkEntry.queries
  private val order = {
    val r = new SplittableRandom(a.seed)
    val arr = QueryMix.Names.toArray
    for (i <- arr.indices.reverse) { val j = r.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t }
    arr.toSeq
  }
  private lazy val expected = {
    val e = Expectations.load(a.expectFile, a.scale.name)
    if (!a.corrupt) e
    else e.map { case (q, (rows, fp)) => q -> (if (q == order.head) (rows + 1, fp.map(_ + 1)) else (rows, fp)) }
  }
  private val recorded = mutable.ArrayBuffer.empty[String]

  def makeInputs(): Unit = {
    val root = a.dataRoot
    if (!Files.exists(Paths.get(DataGen.tablesDir(root, a.scale), "_COMPLETE"))) {
      val spark = Main.session(work, traced = false)
      try DataGen.ensureTables(spark, root, a.scale) finally spark.stop()
    }
    dir = DataGen.tablesDir(root, a.scale)
  }

  def prepare(spark: SparkSession): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
      .foreach(t => Tables.table(spark, dir, t))

  private def check(rec: Recorder, q: String, rows: Long, fp: Option[Long]): Unit = {
    val problem = expected.get(q) match {
      case None => Some("no expected result stored")
      case Some((r, _)) if r != rows => Some(s"rows $rows, expected $r")
      case Some((_, Some(f))) if fp.exists(_ != f) => Some(s"fingerprint ${fp.get}, expected $f")
      case _ => None
    }
    rec.check(q, problem)
  }

  /** Timed action: write every row through the no-op sink, which computes
    * every output column (unlike `count()`, which lets Catalyst prune the
    * final projection), observing the row count on the way. */
  private def noopWrite(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  def warm(spark: SparkSession, rec: Recorder): Unit = {
    Memo.evictSession(spark)
    order.foreach { q =>
      try {
        val (rows, fp) = RowFingerprint(registry(q)(spark, dir))
        recorded += s"${a.scale.name}\t$q\t$rows\t$fp"
        check(rec, q, rows, Some(fp))
      } catch { case e: Exception => rec.check(q, Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")) }
      finally Caches.drain()
    }
    a.record.foreach(f => Files.write(Paths.get(f), recorded.asJava))
  }

  def timed(spark: SparkSession, rec: Recorder, tracer: Option[Tracer], seconds: Double): Unit =
    // after the verifying warm() pass; passes keep speeding up by about a
    // third over the first six while the JIT compiles
    Passes.run(spark, rec, seconds, warmPasses = 5) { p =>
      order.flatMap { q =>
        val tag = s"${a.workload}/$q/$p"
        tracer.foreach(_.begin(tag))
        try {
          var rows = -1L
          val s = Passes.op(spark, q)(registry(q)(spark, dir))(df => rows = noopWrite(df))
          check(rec, q, rows, None)
          Some(s)
        } catch {
          case e: Exception =>
            rec.check(q, Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
            Caches.drain()
            None
        } finally tracer.foreach(_.end())
      }
    }(_ => ())

  def layerMetrics(spark: SparkSession, rec: Recorder, tracer: Tracer): Seq[(String, Double)] =
    Layers.report(Passes.medianLayers(rec.passes.toSeq.map(Passes.layers(_, tracer))))
}

// ---------------------------------------------------------------- mr_corpus

/** mr_corpus: the paper's job. Each pass runs wc (holistic groupByKey),
  * indexer, and wc through `runAggregated`, writing each through
  * `writeText`; outputs are checked against the generator's exact counts
  * and postings after the pass. */
final class MrCorpus(a: Main.Args, work: String) extends Workload {
  private var corpus: DataGen.Corpus = _
  private def glob = s"${corpus.dir}/*.txt"
  private def out(job: String, pass: Int) = s"$work/mr-out/$job-$pass"

  def makeInputs(): Unit = corpus = DataGen.corpus(s"$work/corpus", a.scale, a.seed)

  def prepare(spark: SparkSession): Unit = MapReduceJob.wholeFiles(spark, glob).count()

  override def inputStats: Seq[(String, Double)] = Seq(
    "corpus_bytes" -> corpus.bytes.toDouble,
    "corpus_tokens" -> corpus.tokens.toDouble,
    "corpus_distinct_words" -> corpus.counts.size.toDouble)

  private val jobs: Seq[(String, SparkSession => org.apache.spark.sql.Dataset[(String, String)])] = Seq(
    "wc" -> (s => ReferenceApps.wcJob.run(s, glob)),
    "indexer" -> (s => ReferenceApps.indexerJob.run(s, glob)),
    "wc_agg" -> { s =>
      import s.implicits._
      MapReduceJob.runAggregated(s, glob, ReferenceApps.wcMap, count(lit(1)))
        .select(col("key").as("_1"), col("value").as("_2")).as[(String, String)]
    })

  private def pass(spark: SparkSession, rec: Recorder, p: Int, tracer: Option[Tracer]): Seq[OpSample] =
    jobs.flatMap { case (name, build) =>
      tracer.foreach(_.begin(s"${a.workload}/$name/$p"))
      try Some(Passes.op(spark, name)(build(spark))(ds => MapReduceJob.writeText(ds, out(name, p))))
      catch {
        case e: Exception =>
          rec.check(s"$name pass $p", Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
          None
      } finally tracer.foreach(_.end())
    }

  private def readOutput(dir: String): Map[String, String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f).asScala)
      .map { l => val i = l.indexOf(' '); l.substring(0, i) -> l.substring(i + 1) }
      .toMap

  private def verify(rec: Recorder, p: Int): Unit = {
    val counts = if (a.corrupt) corpus.counts.updated(corpus.counts.head._1, -1L) else corpus.counts
    val wantWc = counts.map { case (w, n) => w -> n.toString }
    val wantIdx = corpus.postings.map { case (w, docs) => w -> s"${docs.size} ${docs.mkString(",")}" }
    Seq("wc" -> wantWc, "indexer" -> wantIdx, "wc_agg" -> wantWc).foreach { case (job, want) =>
      val dir = out(job, p)
      val problem =
        if (!Files.exists(Paths.get(dir))) Some("no output")
        else {
          val got = readOutput(dir)
          if (got == want) None
          else {
            val bad = (got.keySet ++ want.keySet).find(k => got.get(k) != want.get(k)).get
            Some(s"${got.size} keys (expected ${want.size}); '$bad' -> ${got.get(bad)}, expected ${want.get(bad)}")
          }
        }
      rec.check(s"$job pass $p", problem)
      DataGen.deleteRec(Paths.get(dir))
    }
  }

  def warm(spark: SparkSession, rec: Recorder): Unit = ()

  def timed(spark: SparkSession, rec: Recorder, tracer: Option[Tracer], seconds: Double): Unit =
    Passes.run(spark, rec, seconds, warmPasses = 8)(p => pass(spark, rec, p, tracer))(p => verify(rec, p))

  def layerMetrics(spark: SparkSession, rec: Recorder, tracer: Tracer): Seq[(String, Double)] = {
    val perPass = rec.passes.toSeq.map { p =>
      val agg = tracer.pass(p.index)
      def job(n: String) = p.ops.find(_.name == n).map(_.latencyMs / 1000.0).getOrElse(0.0)
      Passes.layers(p, tracer) ++ Map(
        "mr_mb_per_s" -> jobs.size * corpus.bytes / 1e6 / p.wallS,
        "core.job_s.wc" -> job("wc"),
        "core.job_s.indexer" -> job("indexer"),
        "core.job_s.wc_agg" -> job("wc_agg"),
        "core.shuffle_bytes_per_input_byte" ->
          (if (agg.inputB > 0) agg.shuffleWriteB.toDouble / agg.inputB else 0.0),
        "core.output_mb" -> agg.outputB / 1e6)
    }
    Layers.report(Passes.medianLayers(perPass))
  }
}

/** The per-layer metric names, in BENCHMARK.json order. A workload reports
  * 0 for a layer it does not exercise. */
object Layers {
  val names: Seq[String] = Seq(
    "trace.wall_s", "trace.wall_gap", "trace.core_gap", "trace.core_residual",
    "mr_mb_per_s", "core.job_s.wc", "core.job_s.indexer", "core.job_s.wc_agg",
    "core.shuffle_bytes_per_input_byte", "core.output_mb",
    "construct.s", "construct.jobs", "action.s",
    "tables.scan_mb", "tables.scan_rows",
    "memo.cached_mb", "memo.evict_s", "caches.drain_s",
    "plan.exchanges", "plan.broadcasts", "plan.smj", "plan.shj", "plan.bhj",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.single_task_stages",
    "sched.idle_core_s", "sched.task_overhead_s", "sched.busy_ratio",
    "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_mb",
    "exec.shuffle_read_mb", "exec.fetch_wait_s", "exec.spill_mb",
    "stream.trigger_ms", "stream.add_batch_ms", "stream.backlog_max", "stream.gen_late_ms",
    "kv.lookup_p50_ms", "kv.lookup_p90_ms", "kv.files_written", "kv.state_bytes_per_live_byte")

  def report(values: Map[String, Double]): Seq[(String, Double)] =
    names.map(n => n -> values.getOrElse(n, 0.0))
}
