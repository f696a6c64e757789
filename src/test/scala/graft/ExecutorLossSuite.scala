package graft

import java.nio.file.Files

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.DedupQueries
import graft.plans.GraftSession
import graft.streaming.KvUpsert

/** Executor-LOSS chaos tests — the engine-level analog of the reference
  * harness's crash test (`/root/reference/src/main/test-mr.sh:284-330`,
  * `/root/reference/src/mrapps/crash.go:20-32`), which continuously kills
  * workers mid-task and requires the job to finish anyway. Here the
  * "workers" are real executor JVMs under `local-cluster[2,2,…]` and the
  * crash is `kill -9`; the standalone worker respawns executors like the
  * reference harness respawns its workers.
  *
  * What this pins down, beyond the task-level retry ExecutionSemanticsSuite
  * already proves:
  *  - `localCheckpoint`'s documented fragility (Plans.truncate) is
  *    REAL: its blocks die with their executor and the truncated lineage
  *    cannot recompute them — the job fails, deterministically;
  *  - reliable `checkpoint()` to a shared dir survives the identical loss;
  *  - `dedup_components` in reliable mode completes (with the right answer)
  *    while an executor is killed mid-run;
  *  - the truncated session memos (dedup's pairs and labels, the trained
  *    IVF quantizer) built in reliable mode survive the loss of every
  *    executor;
  *  - the KvUpsert state survives executor loss between batches (manifest +
  *    files, not executor memory).
  *
  * Runs in its own forked JVM (sbt `testGrouping` group "executor-loss"):
  * one SparkContext per JVM, and the worker's executor launcher needs
  * SPARK_SCALA_VERSION in the environment (set by the fork options).
  */
class ExecutorLossSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    // executors are fresh JVMs outside spark-submit: they need the same
    // JDK-17 --add-opens set the driver JVM gets from build.sbt
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    spark = GraftSession.builder("4")
      .master("local-cluster[2,2,1536]")
      .appName("graft-executor-loss")
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpens)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(
      Files.createTempDirectory("graft-chaos-ckpt").toString)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Distinct executor JVM pids, discovered by running a task on every
    * core. Blocks until executors are registered — calling it right after a
    * kill therefore also WAITS for the worker to respawn replacements. */
  private def executorPids(): Set[Long] = {
    val s = spark
    import s.implicits._
    s.range(64).repartition(8)
      .mapPartitions(_ => Iterator(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getName))
      .collect().toSet
      .map((n: String) => n.split("@")(0).toLong)
  }

  private def kill(pid: Long): Unit =
    Runtime.getRuntime.exec(Array("kill", "-9", pid.toString)).waitFor()

  /** kill -9 every current executor, then wait until the standalone worker
    * has respawned a fully fresh set. */
  private def killAllExecutors(): Unit = {
    val old = executorPids()
    old.foreach(kill)
    val deadline = System.currentTimeMillis() + 120000
    var fresh = Set.empty[Long]
    while (fresh.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      val cur = executorPids()
      if (cur.nonEmpty && cur.intersect(old).isEmpty) fresh = cur
    }
    assert(fresh.nonEmpty, "executors were not respawned within 120 s")
  }

  test("localCheckpoint blocks die with their executors: truncated lineage cannot recover") {
    val df = spark.range(1000).repartition(4).toDF("v").localCheckpoint()
    assert(df.count() == 1000)
    killAllExecutors()
    val e = intercept[SparkException](df.count())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
    assert(chain(e).exists(m => m.contains("Checkpoint block") || m.contains("CHECKPOINT")),
      s"expected checkpoint-block loss, got: ${chain(e).mkString(" | ")}")
    // the cluster itself healed: fresh work runs fine
    assert(spark.range(1000).repartition(4).count() == 1000)
  }

  test("reliable checkpoint survives the identical executor loss") {
    val df = spark.range(1000).repartition(4).toDF("v").checkpoint()
    assert(df.count() == 1000)
    killAllExecutors()
    assert(df.count() == 1000, "checkpoint files must outlive executors")
  }

  test("dedup_components (reliable mode) completes correctly under a mid-run executor kill") {
    spark.conf.set(Plans.ReliableCheckpointKey, "true")
    try {
      val victims = executorPids()
      val killer = new Thread(() => {
        Thread.sleep(2000)
        kill(victims.head) // one worker dies mid-task, like crash.go
      })
      killer.setDaemon(true)
      killer.start()
      val survived = DedupQueries.dedupComponents(spark, "/root/testdata/sf0.001")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      killer.join()
      Caches.drain()
      // correctness, not just completion: identical to a calm re-run
      val calm = DedupQueries.dedupComponents(spark, "/root/testdata/sf0.001")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      Caches.drain()
      assert(survived.nonEmpty)
      assert(survived == calm, "chaos run diverged from the calm run")
    } finally spark.conf.unset(Plans.ReliableCheckpointKey)
  }

  test("persisted session memos (graph edges, LM model) survive executor loss via lineage recompute") {
    // The round-10/11 session memos are load-bearing for 20+ queries and
    // hold PERSISTED frames (edge lists, baskets, the bigram LM). Persist
    // keeps lineage — unlike localCheckpoint — so when an executor dies
    // between a memo build and its consumer, the consumer must transparently
    // recompute the lost blocks from the parquet scans and produce the
    // identical result through the SAME (still-cached) memo handle.
    val dir = "/root/testdata/sf0.001"
    def triangles() = graft.graph.GraphQueries.copurchaseTriangles(spark, dir)
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    def perplexity() = graft.pipelines.DataSelection.ngramPerplexity(spark, dir)
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val triCalm = triangles() // builds the edge/basket memos
    val ppxCalm = perplexity() // builds the LM countedArtifact
    Caches.drain()
    killAllExecutors() // every persisted memo block is gone; memo entries remain
    assert(triangles() == triCalm,
      "graph family diverged after losing its memoized edge blocks")
    assert(perplexity() == ppxCalm,
      "ngram_perplexity diverged after losing its memoized LM blocks")
    Caches.drain()
  }

  test("dedup artifact memo (reliable mode) survives executor loss between build and consume") {
    // The dedup pair/label memos hold CHECKPOINT-truncated frames — no
    // lineage to recompute. In reliable mode the blocks live in the
    // checkpoint dir, not executor memory, so a consumer reading the memo
    // AFTER every executor died must still get the identical answer.
    spark.conf.set(Plans.ReliableCheckpointKey, "true")
    try {
      val calm = DedupQueries.dedupComponents(spark, "/root/testdata/sf0.001")
        .collect().map(_.toSeq.mkString("|")).toSet // builds pairs+labels memos
      Caches.drain()
      killAllExecutors()
      val after = DedupQueries.dedupComponents(spark, "/root/testdata/sf0.001")
        .collect().map(_.toSeq.mkString("|")).toSet
      Caches.drain()
      assert(calm.nonEmpty && after == calm,
        "reliable-mode dedup memo did not survive total executor loss")
    } finally {
      spark.conf.unset(Plans.ReliableCheckpointKey)
      Memo.evictSession(spark) // drop the reliable-mode entries for later tests
    }
  }

  test("trained IVF quantizer memo (reliable mode) survives executor loss between build and consume") {
    // The trained-ivf memo holds the truncated Lloyd rounds, keyed by the
    // truncation mode: built in reliable mode, its blocks live in the
    // checkpoint dir, so a read after every executor died must still give
    // the identical rows.
    val dir = "/root/testdata/sf0.001"
    def rows() = graft.similarity.SimilarityQueries.ivfTrain(spark, dir)
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    spark.conf.set(Plans.ReliableCheckpointKey, "true")
    try {
      val calm = rows() // builds the trained-ivf memo
      Caches.drain()
      killAllExecutors()
      val after = rows()
      Caches.drain()
      assert(calm.nonEmpty && after == calm,
        "reliable-mode trained quantizer did not survive total executor loss")
    } finally {
      spark.conf.unset(Plans.ReliableCheckpointKey)
      Memo.evictSession(spark) // drop the reliable-mode entries for later tests
    }
  }

  test("KvUpsert state survives executor loss between batches") {
    val s = spark
    import s.implicits._
    val stateDir = Files.createTempDirectory("graft-chaos-kv").toString
    val b0 = Seq(
      KvUpsert.KvOp(1, "put", "a", "1"), KvUpsert.KvOp(2, "append", "a", "x"),
      KvUpsert.KvOp(3, "put", "b", "2"), KvUpsert.KvOp(4, "put", "c", "3")).toDS()
    val b1 = Seq(
      KvUpsert.KvOp(5, "append", "a", "y"), KvUpsert.KvOp(6, "del", "b", ""),
      KvUpsert.KvOp(7, "append", "d", "z")).toDS()
    KvUpsert.applyBatchOnce(b0, stateDir, 0)
    killAllExecutors()
    KvUpsert.applyBatchOnce(b1, stateDir, 1)
    val state = KvUpsert.readState(spark, stateDir).collect()
      .map(e => e.key -> e.value).toMap
    // sequential-fold oracle over both batches
    val expected = (b0.collect() ++ b1.collect()).groupBy(_.key)
      .flatMap { case (k, ops) => KvUpsert.applyOps(None, ops.toSeq).map(k -> _) }
    assert(state == expected, s"state $state != fold $expected")
  }
}
