package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one tag (`<workload>/<op>/<pass>`). */
final class TagAgg {
  var constructJobs, jobs, stages, singleTaskStages, tasks = 0L
  var runMs, spanMs, cpuNs, gcMs, shuffleWriteB, shuffleReadB, fetchWaitMs, spillB = 0L
  var inputB, inputRows, outputB = 0L
  var exchanges, broadcasts, smj, shj, bhj, filesWritten = 0L
}

/** The traced run's instruments: one SparkListener (jobs, stages, tasks),
  * one QueryExecutionListener ([[PlanListener]]: the shape of every
  * executed plan) and one
  * StreamingQueryListener (micro-batch durations). Spark events are
  * attributed by job group; plan and streaming events, which carry no job
  * group, go to the tag of the operation in flight — exact, because the
  * benchmark drains the listener bus after every operation. */
final class Tracer(spark: SparkSession, workload: String) {
  import Tracer._

  private val tags = mutable.LinkedHashMap.empty[String, TagAgg]
  private val stageTag = mutable.HashMap.empty[Int, String]
  @volatile private var current: String = null
  val triggerMs = mutable.ArrayBuffer.empty[Double]
  val addBatchMs = mutable.ArrayBuffer.empty[Double]

  private def agg(tag: String): TagAgg = tags.synchronized(tags.getOrElseUpdate(tag, new TagAgg))

  /** Tag for Spark events whose job group is not one of ours (the streaming
    * engine runs micro-batches under its own group). */
  private def tagOf(group: String): Option[String] =
    if (group != null && group.startsWith(workload + "/")) Some(group) else Option(current)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      tagOf(props.map(_.getProperty("spark.jobGroup.id")).orNull).foreach { tag =>
        val a = agg(tag)
        a.synchronized {
          a.jobs += 1
          if (props.map(_.getProperty(PhaseKey)).contains("construct")) a.constructJobs += 1
        }
        stageTag.synchronized(e.stageIds.foreach(stageTag(_) = tag))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageTag.synchronized(stageTag.get(e.stageInfo.stageId)).foreach { tag =>
        val a = agg(tag)
        a.synchronized {
          a.stages += 1
          if (e.stageInfo.numTasks == 1) a.singleTaskStages += 1
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageTag.synchronized(stageTag.get(e.stageId)).foreach { tag =>
        val a = agg(tag)
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.runMs += m.executorRunTime
            a.spanMs += e.taskInfo.finishTime - e.taskInfo.launchTime
            a.cpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
            a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
            a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
            a.inputB += m.inputMetrics.bytesRead
            a.inputRows += m.inputMetrics.recordsRead
            a.outputB += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  /** Count the plan shape of one executed query (see [[PlanListener]]). */
  def onPlan(qe: QueryExecution): Unit =
    Option(current).foreach { tag =>
      val a = agg(tag)
      val nodes = PlanWalk.nodes(qe.executedPlan)
      a.synchronized {
        nodes.foreach {
          case _: ShuffleExchangeExec => a.exchanges += 1
          case _: BroadcastExchangeExec => a.broadcasts += 1
          case _: SortMergeJoinExec => a.smj += 1
          case _: ShuffledHashJoinExec => a.shj += 1
          case _: BroadcastHashJoinExec => a.bhj += 1
          case w: DataWritingCommandExec =>
            a.filesWritten += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
          case _ =>
        }
      }
    }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (current != null && e.progress.numInputRows > 0) {
        val d = e.progress.durationMs
        triggerMs.synchronized {
          triggerMs += d.getOrDefault("triggerExecution", 0L).toDouble
          addBatchMs += d.getOrDefault("addBatch", 0L).toDouble
        }
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)
  Tracer.active = Some(this)
  private val occupancy = new Occupancy(spark.sparkContext)

  /** Idle core-seconds in `[fromMs, toMs]` (epoch ms), sampled from the
    * task scheduler rather than taken from the listener's task events. */
  def idleCoreSeconds(fromMs: Long, toMs: Long): Double =
    occupancy.idleCoreSeconds(fromMs.toDouble, toMs.toDouble, Main.Cores)

  /** Tag the calling thread's jobs, and route untagged events, to `tag`. */
  def begin(tag: String): Unit = {
    spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel = false)
    current = tag
  }

  /** Deliver every pending event, so all of `tag`'s work is counted. */
  def end(): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    current = null
    spark.sparkContext.clearJobGroup()
  }

  def close(): Unit = {
    occupancy.stop()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    Tracer.active = None
  }

  /** Sum of every tag of `pass` (tags end in `/<pass>`). */
  def pass(pass: Int): TagAgg = {
    val sum = new TagAgg
    tags.synchronized(tags.toSeq).collect { case (t, a) if t.endsWith(s"/$pass") => a }.foreach { a =>
      a.synchronized {
        sum.constructJobs += a.constructJobs
        sum.jobs += a.jobs; sum.stages += a.stages; sum.singleTaskStages += a.singleTaskStages
        sum.tasks += a.tasks; sum.runMs += a.runMs; sum.spanMs += a.spanMs; sum.cpuNs += a.cpuNs; sum.gcMs += a.gcMs
        sum.shuffleWriteB += a.shuffleWriteB; sum.shuffleReadB += a.shuffleReadB
        sum.fetchWaitMs += a.fetchWaitMs; sum.spillB += a.spillB
        sum.inputB += a.inputB; sum.inputRows += a.inputRows; sum.outputB += a.outputB
        sum.exchanges += a.exchanges; sum.broadcasts += a.broadcasts
        sum.smj += a.smj; sum.shj += a.shj; sum.bhj += a.bhj; sum.filesWritten += a.filesWritten
      }
    }
    sum
  }
}

object Tracer {
  /** The tracer that [[PlanListener]]s report to, if a traced run is on. */
  @volatile var active: Option[Tracer] = None

  /** Local property telling construction-time jobs from action jobs. */
  val PhaseKey = "perfbench.phase"
}

/** How many tasks the task scheduler holds as running, sampled about every
  * half millisecond from its own bookkeeping (not from the listener bus) and
  * kept as a step function of the times the count changed. */
final class Occupancy(sc: SparkContext) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val atMs = mutable.ArrayBuffer.empty[Double]
  private val running = mutable.ArrayBuffer.empty[Int]
  @volatile private var on = true

  private val sampler = new Thread(() => {
    var last = -1
    while (on) {
      val n = PerfbenchBridge.runningTasks(sc)
      if (n != last) {
        val t = baseMs + (System.nanoTime() - baseNs) / 1e6
        synchronized { atMs += t; running += n }
        last = n
      }
      LockSupport.parkNanos(500000L)
    }
  }, "perfbench-occupancy")
  sampler.setDaemon(true)
  sampler.start()

  def stop(): Unit = { on = false; sampler.join() }

  /** Core-seconds in `[from, to]` (epoch ms) during which a core ran no
    * task. */
  def idleCoreSeconds(from: Double, to: Double, cores: Int): Double = synchronized {
    var idleMs = 0.0
    atMs.indices.foreach { i =>
      val s = math.max(atMs(i), from)
      val e = math.min(if (i + 1 < atMs.size) atMs(i + 1) else to, to)
      if (e > s) idleMs += math.max(0, cores - running(i)) * (e - s)
    }
    val before = atMs.headOption.fold(to)(h => math.min(h, to))
    if (before > from) idleMs += cores * (before - from)
    idleMs / 1000.0
  }
}

/** Registered through `spark.sql.queryExecutionListeners` in traced runs,
  * so that every session gets one — including the clone a streaming query
  * runs its micro-batches in, which a listener registered on the parent
  * session after the stream started would never see. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Tracer.active.foreach(_.onPlan(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Every node of an executed plan, through adaptive plans, query stages and
  * subqueries. */
private object PlanWalk extends AdaptiveSparkPlanHelper {
  def nodes(plan: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(plan) { case p => p }
}
