package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.plans.GraftSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * Shape of every run:
  *   1. make the inputs (tables are cached per checkout, the corpus and the
  *      op stream come from the seed) — not timed;
  *   2. set up [[SetupTrials]] times (session + the workload's first
  *      touch of its inputs) and report the median as `setup_s`;
  *   3. untimed warm-up, which also verifies every output;
  *   4. timed passes until `--seconds` have elapsed.
  *
  * Prints one JSON line: `correct`, `attempted`, `failed`, and the raw
  * metrics of the trace mode asked for. */
object Main {
  val Cores = 4
  val SetupTrials = 3

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean, scale: Scale,
      dataRoot: String, workRoot: String, launchEpochMs: Long, expectFile: String,
      corrupt: Boolean, record: Option[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = req("workload"), seed = req("seed").toLong, seconds = req("seconds").toDouble,
      trace = req("trace") == "1", scale = Scale(kv.getOrElse("scale", "bench")),
      dataRoot = req("data-root"), workRoot = req("work-root"),
      launchEpochMs = kv.get("launch-epoch-ms").map(_.toLong).getOrElse(0L),
      expectFile = req("expect"), corrupt = kv.get("corrupt").contains("1"),
      record = kv.get("record"))
  }

  def main(argv: Array[String]): Unit = {
    val entryMs = System.currentTimeMillis()
    val a = parse(argv)
    val jvmStartS =
      if (a.launchEpochMs > 0) (entryMs - a.launchEpochMs) / 1000.0
      else ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val work = Paths.get(a.workRoot, s"run-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val result =
      try run(a, work.toString, jvmStartS)
      finally DataGen.deleteRec(work)
    println(result)
  }

  def session(work: String, traced: Boolean): SparkSession = {
    val b = GraftSession.builder(Cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def run(a: Args, work: String, jvmStartS: Double): String = {
    val wl: Workload = a.workload match {
      case "mr_corpus" => new MrCorpus(a, work)
      case "query_mix" => new QueryMix(a, work)
      case "stream_upsert" => new StreamUpsert(a, work)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    wl.makeInputs()

    val nTrials = if (a.scale.name == "smoke") 1 else SetupTrials
    val trials = (1 to nTrials).map { i =>
      val t0 = System.nanoTime()
      val spark = session(work, a.trace)
      wl.prepare(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < nTrials) { wl.release(); spark.stop() }
      dt
    }
    val spark = SparkSession.active
    val rec = new Recorder
    try {
      wl.warm(spark, rec)
      val tracer = if (a.trace) Some(new Tracer(spark, a.workload)) else None
      wl.timed(spark, rec, tracer, a.seconds)
      tracer.foreach(_.close())
      val metrics =
        if (a.trace) wl.layerMetrics(spark, rec, tracer.get)
        else Seq(
          "setup_s" -> (jvmStartS + Stats.median(trials)),
          "wall_s" -> Stats.median(rec.passes.map(_.wallS).toSeq),
          "cpu_s" -> Stats.median(rec.passes.map(_.cpuS).toSeq),
          "op_p50_ms" -> Stats.quantile(rec.latenciesMs.toSeq, 0.5),
          "op_p90_ms" -> Stats.quantile(rec.latenciesMs.toSeq, 0.9))
      val opMs = rec.passes.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, ss) => s"op_ms.$n" -> Stats.median(ss.map(_.latencyMs).toSeq) }
      val extra = Seq(
        "passes" -> rec.passes.size.toDouble,
        "op_samples" -> rec.latenciesMs.size.toDouble,
        "setup_trials_s" -> trials.sum) ++ wl.inputStats ++ opMs ++
        rec.passes.map(p => s"pass_wall.${p.index}" -> p.wallS)
      Json.result(rec.failed == 0, rec.attempted, rec.failed, metrics, extra, rec.failures.take(20).toSeq)
    } finally {
      wl.release()
      spark.stop()
    }
  }
}

/** One timed operation's phases, in seconds. */
final case class OpSample(name: String, constructS: Double, actionS: Double, drainS: Double) {
  def latencyMs: Double = (constructS + actionS) * 1000.0
}

/** One timed pass over the workload's fixed unit of work. */
final case class PassSample(
    index: Int, wallS: Double, cpuS: Double, evictS: Double, startMs: Long, endMs: Long,
    ops: Seq[OpSample], cachedMb: Double)

/** What a run measured and checked. */
final class Recorder {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val passes = mutable.ArrayBuffer.empty[PassSample]
  /** Latencies behind op_p50_ms/op_p90_ms: per operation, the median over
    * timed passes of construction plus action for a job or query; due time
    * to commit for a stream batch. */
  val latenciesMs = mutable.ArrayBuffer.empty[Double]

  /** Count one checked operation; `problem` is None when it was correct. */
  def check(what: String, problem: Option[String]): Boolean = synchronized {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      failures += s"$what: $p"
      System.err.println(s"[perfbench] FAILED $what: $p")
    }
    problem.isEmpty
  }
}

/** A workload: inputs, set-up, an untimed verifying warm pass, timed passes,
  * and its per-layer report. */
trait Workload {
  def makeInputs(): Unit
  def prepare(spark: SparkSession): Unit
  def release(): Unit = ()
  /** Sizes of the generated inputs, printed beside the result. */
  def inputStats: Seq[(String, Double)] = Nil
  def warm(spark: SparkSession, rec: Recorder): Unit
  def timed(spark: SparkSession, rec: Recorder, tracer: Option[Tracer], seconds: Double): Unit
  def layerMetrics(spark: SparkSession, rec: Recorder, tracer: Tracer): Seq[(String, Double)]
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Json {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double)],
      extra: Seq[(String, Double)], failures: Seq[String]): String = {
    val m = metrics.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    val e = extra.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $m, """ +
      s""""extra": $e, "failures": ${failures.map(str).mkString("[", ", ", "]")}}"""
  }
}
