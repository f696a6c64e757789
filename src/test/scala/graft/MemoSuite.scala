package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Contract tests for [[graft.Memo]], the session artifact memo every
  * module's shared artifacts live in: build-once semantics, re-entrant
  * builds, counted and persisted artifacts with failure cleanup, the
  * strict-frame count memo, and the evictSession release path. */
class MemoSuite extends SparkSpec {

  test("artifact builds once per (session, key) and returns the same instance") {
    val builds = new AtomicInteger(0)
    def get() = Memo.artifact(spark, "memo-suite/artifact") {
      builds.incrementAndGet()
      spark.range(10).toDF("v")
    }
    val a = get()
    val b = get()
    assert(builds.get() == 1, "second lookup must not rebuild")
    assert(a eq b, "memo must return the published instance")
    Memo.evictSession(spark)
  }

  test("countedArtifact persists, counts once, and the count is exact") {
    val builds = new AtomicInteger(0)
    def get() = Memo.countedArtifact(spark, "memo-suite/counted") {
      builds.incrementAndGet()
      spark.range(137).toDF("v").filter(col("v") % 2 === 0)
    }
    val (df1, n1) = get()
    val (df2, n2) = get()
    assert(builds.get() == 1)
    assert(n1 == 69L && n2 == 69L) // ceil(137/2): 0,2,…,136
    assert(df1 eq df2)
    assert(df1.storageLevel.useMemory, "counted artifact must be persisted")
    Memo.evictSession(spark)
    assert(!df1.storageLevel.useMemory, "evictSession must unpersist counted frames")
  }

  test("countOf memoizes the exact count of a deterministic frame") {
    val df = spark.range(41).toDF("v")
    assert(Memo.countOf(spark, "memo-suite/count", df) == 41L)
    // a second call with a DIFFERENT (even wrong-sized) frame must return
    // the memoized number — proving no job runs again for the key
    assert(Memo.countOf(spark, "memo-suite/count", spark.range(7).toDF("v")) == 41L)
    Memo.evictSession(spark)
    assert(Memo.countOf(spark, "memo-suite/count", spark.range(7).toDF("v")) == 7L,
      "evictSession must clear count memos")
    Memo.evictSession(spark)
  }

  test("a build may resolve another key through Memo; each key builds once") {
    val outerBuilds = new AtomicInteger(0)
    val innerBuilds = new AtomicInteger(0)
    def inner() = Memo.artifact(spark, "memo-suite/inner") {
      innerBuilds.incrementAndGet()
      spark.range(3).toDF("v")
    }
    def outer() = Memo.artifact(spark, "memo-suite/outer") {
      outerBuilds.incrementAndGet()
      (inner(), spark.range(4).toDF("w"))
    }
    val (in1, out1) = outer()
    val (in2, out2) = outer()
    assert(outerBuilds.get() == 1 && innerBuilds.get() == 1)
    assert((in1 eq in2) && (out1 eq out2) && (inner() eq in1))
    assert(innerBuilds.get() == 1, "the inner key must stay memoized on its own")
    Memo.evictSession(spark)
  }

  test("a persisting build whose materializing action throws leaves no entry and no cache") {
    def persistedIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val builds = new AtomicInteger(0)
    @volatile var failing = true
    def get() = Memo.persisted(spark, "memo-suite/failing") {
      builds.incrementAndGet()
      spark.range(20).toDF("v")
    } { df =>
      val n = df.count() // fills the cache before the guard fails
      require(!failing, "memo-suite: guard failed")
      n
    }
    val before = persistedIds
    intercept[IllegalArgumentException](get())
    assert(persistedIds.subsetOf(before), "a failed build must unpersist its frame")
    failing = false
    val (df, n) = get()
    assert(builds.get() == 2, "the failed build must not be memoized")
    assert(n == 20L && df.storageLevel.useMemory)
    Memo.evictSession(spark)
  }

  test("evictSession frees the graph, dedup and quantizer artifacts' blocks") {
    import graft.dedup.DedupQueries
    import graft.graph.GraphQueries
    import graft.similarity.SimilarityQueries
    def persistedIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // the checkpointed RDDs a truncated artifact's plan reads
    def checkpointIds(df: DataFrame) =
      df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
    Memo.evictSession(spark)
    Caches.drain()
    val before = persistedIds
    GraphQueries.copurchaseTriangles(spark, Sf0001) // edge + order-basket memos
    GraphQueries.cappedCustBaskets(spark, Sf0001) // customer-basket memo
    Caches.drain()
    val graphIds = persistedIds -- before
    assert(graphIds.size >= 3, s"expected edge and basket caches, got $graphIds")
    val artifactIds = Seq(
      DedupQueries.nearPairsMemo(spark, Sf0001),
      DedupQueries.dedupComponents(spark, Sf0001), // reads the label artifact
      SimilarityQueries.trainedCentroidTable(spark, Sf0001),
      SimilarityQueries.pqCodebookTable(spark, Sf0001)).flatMap(checkpointIds).toSet
    Caches.drain()
    assert(artifactIds.size >= 4 && artifactIds.subsetOf(persistedIds),
      s"expected four live checkpointed artifacts, got $artifactIds")
    Memo.evictSession(spark)
    val left = (graphIds ++ artifactIds).intersect(persistedIds)
    assert(left.isEmpty, s"evictSession left persisted RDDs $left")
  }

  test("a memoized artifact is rebuilt after eviction (fresh, correct copy)") {
    def get() = Memo.countedArtifact(spark, "memo-suite/rebuild") {
      spark.range(5).toDF("v")
    }
    val (a, _) = get()
    Memo.evictSession(spark)
    val (b, n) = get()
    assert(!(a eq b) && n == 5L)
    Memo.evictSession(spark)
  }

  test("Tables schema memo: repeat raw-path loads run zero Spark jobs") {
    // after the first footer inference per (session, path), constructing a
    // table (and therefore any pure-planning query) launches no jobs at all.
    // Barrier: each flush submits a job-group-TAGGED sentinel and waits
    // until the listener has SEEN that tag — the bus is FIFO, so every
    // earlier JobStart is counted by then.
    // (An earlier quiescence-poll here could exit before the bus delivered
    // the sentinel under load — a deterministic barrier, not a timing bet.)
    class TaggedCounter extends org.apache.spark.scheduler.SparkListener {
      val starts = new AtomicInteger(0)
      @volatile var lastGroup: String = ""
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        starts.incrementAndGet()
        val g = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null) lastGroup = g
      }
    }
    val listener = new TaggedCounter
    val counter = listener.starts
    var syncN = 0
    def flush(): Unit = {
      syncN += 1
      val tag = s"memo-suite-sync-$syncN"
      spark.sparkContext.setJobGroup(tag, tag)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (listener.lastGroup != tag && System.nanoTime() < deadline)
        Thread.sleep(2)
      assert(listener.lastGroup == tag, s"listener bus did not flush $tag in 30 s")
    }
    // first constructions may infer schemas (one footer job per path) —
    // warm every table q5 touches before measuring
    graft.relational.RelationalQueries.q5NationRevenue(spark, Sf0001)
    Tables.orders(spark, Sf0001)
    spark.sparkContext.addSparkListener(listener)
    try {
      flush()
      val before = counter.get()
      Tables.lineitem(spark, Sf0001)
      Tables.orders(spark, Sf0001)
      graft.relational.RelationalQueries.q5NationRevenue(spark, Sf0001)
      flush()
      // only the closing flush sentinel may have started a job
      assert(counter.get() - before == 1,
        s"raw-path constructions ran ${counter.get() - before - 1} unexpected job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
