package org.apache.spark

import org.apache.spark.scheduler.TaskSchedulerImpl

/** The benchmark's reach into Spark internals, used by traced runs only. */
object PerfbenchBridge {
  /** Deliver every pending listener event, so each event of a timed
    * operation is counted against it before the next one starts. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Tasks the task scheduler holds as running right now: its own launch
    * bookkeeping, which does not go through the listener bus. */
  def runningTasks(sc: SparkContext): Int = sc.taskScheduler match {
    case t: TaskSchedulerImpl => t.runningTasksByExecutors.values.sum
    case _ => 0
  }
}
