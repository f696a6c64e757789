package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}

import graft.{Caches, Conf, SparkEntry}
import graft.plans.GraftSession

/** Dev timing harness: time a comma-separated list of registered queries,
  * `reps` each, interleaved round-robin like Bench, in one JVM, after one
  * untimed run of each (janino/JIT and session memos stay out of rep 1).
  * As in Bench, a rep's wall excludes the `Caches.drain()` after it.
  *
  * Per rep it prints the wall time, the row count, and the task-metric
  * aggregates that separate "the plan got slower" from "the box got busy":
  *   - `tasks`, `run_ms` — Σ executorRunTime: work the tasks did. Flat
  *     across reps while wall swings ⇒ the delta is outside the tasks.
  *   - `cpu_s` — Σ executorCpuTime. run ≫ cpu ⇒ tasks were runnable but
  *     descheduled (external contention) or blocked.
  *   - `gc_ms` — Σ jvmGCTime; `drvgc_ms` — the driver JVM's collector-bean
  *     delta (local mode: the same JVM, so this is the whole GC story).
  *   - `fetch_ms` — Σ shuffle fetchWaitTime: shuffle file/disk contention
  *     shows up here, nowhere else.
  *   - `idle_core_ms` — wall·cores − Σrun: core time the query left unused
  *     (scheduler delay, under-parallelism, external theft).
  *   - `compiles` — Janino compilations during the rep (CodegenMetrics).
  *     After the untimed run this should be 0: a nonzero count means the
  *     rep paid for generated code again (codegen cache too small, or
  *     source text that differs run to run).
  * At the end it prints min/median wall per query, then every completed
  * stage of each query's last rep: tasks, Σrun, Σcpu, input bytes, shuffle
  * read/write bytes.
  *
  * Each rep runs in its own job group, and events are attributed by group,
  * not by when they arrive.
  *
  * `runMain graft.tools.Time <q1[,q2,...]> [sfDir] [reps]` (defaults sf0.1
  * and 3). `SPARK_GRAFT_CONF="k=v;k=v"` sets session confs first, for A/B
  * runs. Not part of the driver contract. */
object Time {

  /** Task aggregates and completed-stage lines of one job group. Written
    * only by the listener thread; read after [[Listener.lastGroup]] shows
    * a later job, whose volatile write publishes them. */
  private final class Rep {
    var tasks, runMs, cpuNs, gcMs, fetchMs = 0L
    var stages = Vector.empty[String]
  }

  private final class Listener extends SparkListener {
    private val reps = new ConcurrentHashMap[String, Rep]
    private val stageGroup = new ConcurrentHashMap[Int, String]
    @volatile var lastGroup = ""

    def rep(group: String): Rep = reps.computeIfAbsent(group, _ => new Rep)
    private def of(stageId: Int): Option[Rep] = Option(stageGroup.get(stageId)).map(rep)

    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(lastGroup = _)

    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      Option(s.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(stageGroup.put(s.stageInfo.stageId, _))

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      for (r <- of(t.stageId); m <- Option(t.taskMetrics)) {
        r.tasks += 1
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = i.taskMetrics
      of(i.stageId).foreach(_.stages :+=
        f"id=${i.stageId}%4d tasks=${i.numTasks}%4d run=${m.executorRunTime}%6dms " +
          f"cpu=${m.executorCpuTime / 1000000}%6dms in=${m.inputMetrics.bytesRead}%9d " +
          f"sr=${m.shuffleReadMetrics.totalBytesRead}%9d sw=${m.shuffleWriteMetrics.bytesWritten}%9d " +
          i.name.takeWhile(_ != '(').trim)
    }
  }

  def main(args: Array[String]): Unit = {
    val queries = args.headOption
      .getOrElse(sys.error("usage: graft.tools.Time <q1[,q2,...]> [sfDir] [reps]"))
      .split(',').toSeq.distinct.map(SparkEntry.query)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = Conf.positiveInt("reps", args.lift(2), 3)
    val cpus = Conf.cpus
    val spark = GraftSession.builder(cpus.toString).getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    val listener = new Listener
    sc.addSparkListener(listener)
    def inGroup[T](group: String)(body: => T): T = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    // The listener bus is FIFO: once a sentinel job's start has been
    // delivered, so has every task and stage event posted before it.
    def flush(tag: String): Unit = {
      inGroup(tag)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (listener.lastGroup != tag && System.nanoTime() < deadline) Thread.sleep(2)
    }
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def driverGcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    queries.foreach { q =>
      try q.run(spark, sfDir).count()
      catch { case e: Throwable => System.err.println(s"[time] warmup ${q.name} failed: ${e.getMessage}") }
      finally Caches.drain()
    }
    println(s"[time] ${queries.size} queries x $reps reps on $sfDir (local[$cpus])")
    println(f"[time] ${"rep"}%3s ${"query"}%-28s ${"wall_s"}%7s ${"rows"}%10s ${"tasks"}%6s ${"run_ms"}%9s " +
      f"${"cpu_s"}%7s ${"gc_ms"}%7s ${"drvgc_ms"}%8s ${"fetch_ms"}%8s ${"idle_core_ms"}%12s ${"compiles"}%8s")
    val walls = collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    for (r <- 1 to reps; q <- queries) {
      val group = s"${q.name}/$r"
      val gc0 = driverGcMs()
      val c0 = compiles()
      val t0 = System.nanoTime()
      val rows = inGroup(group)(q.run(spark, sfDir).count())
      val wall = (System.nanoTime() - t0) / 1e9
      val drvGc = driverGcMs() - gc0
      val compiled = compiles() - c0
      Caches.drain()
      flush(s"flush/$group")
      walls(q.name) :+= wall
      val a = listener.rep(group)
      val idle = (wall * 1000 * cpus).toLong - a.runMs
      println(f"[time] $r%3d ${q.name}%-28s $wall%7.2f $rows%10d ${a.tasks}%6d ${a.runMs}%9d " +
        f"${a.cpuNs / 1e9}%7.2f ${a.gcMs}%7d $drvGc%8d ${a.fetchMs}%8d $idle%12d $compiled%8d")
    }
    queries.foreach { q =>
      val ws = walls(q.name)
      println(f"[time] ${q.name} min=${ws.min}%.3f med=${ws.sorted.apply(ws.size / 2)}%.3f " +
        s"reps=${ws.map(w => f"$w%.2f").mkString(",")}")
    }
    queries.foreach(q => listener.rep(s"${q.name}/$reps").stages.foreach(l => println(s"[stage] ${q.name} $l")))
    spark.stop()
  }
}
