package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.{HashPartitioner, TaskContext}

import graft.apps.ReferenceApps
import graft.core.MapReduceJob

/** SURVEY.md §5.2.4/§5.2.6 — the reference's scheduler-behavior assertions
  * (A5 jobcount, A6/A7 parallelism, crash recovery), re-expressed as Spark
  * invariants:
  *  - no duplicate task execution on a healthy run (`test-mr.sh:213-221`
  *    expects exactly 8 map invocations for 8 files);
  *  - the runtime actually parallelizes (`test-mr.sh:157-196`);
  *  - a task failure is retried transparently and the result is unaffected
  *    (the crash test, `test-mr.sh:284-330` — Spark's `task.maxFailures`).
  */
class ExecutionSemanticsSuite extends SparkSpec {

  test("A5 jobcount: map invocations == partition count on a healthy run") {
    val acc = spark.sparkContext.longAccumulator("invocations")
    val rdd = spark.sparkContext.parallelize(1 to 1000, 8)
    val sum = rdd.mapPartitions { it => acc.add(1); it }.sum()
    assert(sum == 500500.0)
    assert(acc.value == 8L)
  }

  test("A6/A7 parallelism: the session runs tasks concurrently") {
    assert(spark.sparkContext.defaultParallelism >= 2)
    // distinct executor threads actually observed across partitions
    val threads = spark.sparkContext.parallelize(1 to 64, 16)
      .mapPartitions { it => Thread.sleep(50); Iterator(Thread.currentThread().getName) }
      .collect().distinct
    assert(threads.length >= 2)
  }

  test("HLL sketch: approx_count_distinct within 5% of exact on events") {
    import org.apache.spark.sql.functions._
    val df = graft.Tables.events(spark, Sf0001)
      .agg(
        countDistinct(col("user_id")).as("exact"),
        approx_count_distinct(col("user_id"), 0.02).as("approx"))
      .collect()(0)
    val (exact, approx) = (df.getLong(0).toDouble, df.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact <= 0.05, s"exact=$exact approx=$approx")
  }

  test("crash recovery: a first-attempt task failure is retried and the result is exact") {
    val acc = spark.sparkContext.longAccumulator("attempts")
    val rdd = spark.sparkContext.parallelize(1 to 100, 4)
    val out = rdd.mapPartitions { it =>
      acc.add(1)
      val tc = TaskContext.get()
      if (tc.partitionId == 2 && tc.attemptNumber == 0)
        throw new RuntimeException("injected failure (crash.go analog)")
      it
    }.sum()
    assert(out == 5050.0) // retry succeeded: exact result despite injected crash
    // accumulators count only successful attempts — the failed first attempt
    // of partition 2 is excluded: effective exactly-once, like test-mr.sh's
    // jobcount assertion under crash.go
    assert(acc.value == 4L)
  }

  test("MapReduceJob: the reducer sees every value of its key, also when a map or reduce task is retried") {
    import ExecutionSemanticsSuite._
    val dir = Paths.get(getClass.getResource("/parity-corpus").toURI)
    val files = Files.list(dir).iterator.asScala.toSeq.map(p =>
      (p.getFileName.toString, new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
    // driver-side fold: TaskContext.get is null here, so nothing is injected
    val oracle = valuesJob(None, None)
    val expected = files.flatMap { case (f, c) => oracle.mapf(f, c) }
      .groupBy(_._1).toSeq
      .map { case (k, kvs) => s"$k ${oracle.reducef(k, kvs.map(_._2))}" }
      .sorted
    val reducePartition = new HashPartitioner(oracle.nReduce).getPartition("len3")
    for ((leg, job) <- Seq(
        "clean" -> valuesJob(None, None),
        "map retried" -> valuesJob(Some(0), None),
        "reduce retried" -> valuesJob(None, Some(reducePartition)))) {
      injected.set(0)
      val got = MapReduceJob.mergedLines(job.run(spark, s"$dir/*.txt"))
      if (got != expected) fail(s"$leg: ${got.length} lines, ${expected.length} expected, " +
        s"first difference at line ${got.zip(expected).indexWhere { case (g, e) => g != e }}")
      assert(injected.get == (if (leg == "clean") 0 else 1), leg)
    }
  }
}

object ExecutionSemanticsSuite {
  /** First attempts that threw; the executor shares the test JVM. */
  val injected = new AtomicInteger

  private def failFirstAttempt(partition: Int): Unit = {
    val tc = TaskContext.get()
    if (tc != null && tc.partitionId == partition && tc.attemptNumber == 0) {
      injected.incrementAndGet()
      throw new RuntimeException(s"injected failure in partition $partition (crash.go analog)")
    }
  }

  /** A job whose seven keys repeat within and across files (a word's length
    * mod 7) and whose reduce keeps every value, so a lost or doubled
    * value changes the output. `failMap`/`failReduce` name the map or
    * reduce partition whose first attempt throws. */
  def valuesJob(failMap: Option[Int], failReduce: Option[Int]): MapReduceJob = new MapReduceJob(
    mapf = (file, contents) => {
      failMap.foreach(failFirstAttempt)
      ReferenceApps.tokenize(contents).map(w => (s"len${w.length % 7}", s"$file:$w"))
    },
    reducef = (_, values) => {
      failReduce.foreach(failFirstAttempt)
      values.sorted.mkString(",")
    },
    nReduce = 3)
}
