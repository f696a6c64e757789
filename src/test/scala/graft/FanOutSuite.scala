package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Optimization contracts: the unsplittable-input fan-out
  * ([[Plans.fanOut]]) and the iterate sizing of the graph loops must
  * change PLANS only, never rows.
  *
  *  - fan-out fires exactly when the source yields fewer splits than
  *    cores, repartitions by the given key, and is disabled by
  *    `spark.graft.fanout.enabled=false` — with BOTH settings returning the
  *    identical result multiset for a representative heavy query;
  *  - a frame that already has ≥ cores partitions passes through untouched
  *    (the deployment-scale no-op the design note promises);
  *  - the min-relaxation loops and doc_pagerank return identical rows at
  *    several partitions (`spark.graft.rowsPerPartition`) and with the
  *    iterate's broadcast gate forced to shuffled-hash
  *    (broadcastRowLimit = 0), pinning that iterate width and join
  *    strategy are pure plan choices. */
class FanOutSuite extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("fanOut spreads a 1-split scan to defaultParallelism, keyed, and honors the kill switch") {
    val docs = Tables.documents(spark, Sf0001).select(col("doc_id"), col("text"))
    assert(docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism,
      "fixture assumption: the test scan must be unsplittable (single row group)")
    val spread = Plans.fanOut(docs, col("doc_id"))
    assert(spread.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    // FormattedMode prints the node header ("Exchange (2)") and its
    // arguments ("Arguments: hashpartitioning(doc_id…, REPARTITION_BY_NUM…)")
    // on separate lines — assert the pieces, not a simple-mode substring.
    val p = spread.queryExecution.explainString(FormattedMode)
    assert(p.contains("hashpartitioning(doc_id") && p.contains("REPARTITION_BY_NUM"),
      s"fan-out must hash-partition on the caller's key (deterministic under retry):\n$p")
    spark.conf.set(Plans.FanOutKey, "false")
    try assert(Plans.fanOut(docs, col("doc_id")).rdd.getNumPartitions ==
      docs.rdd.getNumPartitions, "kill switch must return the input unchanged")
    finally spark.conf.unset(Plans.FanOutKey)
  }

  test("fanOut is a no-op on a frame that already has >= cores partitions") {
    val wide = Tables.documents(spark, Sf0001).select(col("doc_id"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    val out = Plans.fanOut(wide, col("doc_id"))
    assert(out.queryExecution.logical eq wide.queryExecution.logical,
      "an already-parallel frame must pass through without a new Repartition node")
  }

  test("fan-out changes plans only: identical rows with the fan-out disabled") {
    // dedup_near exercises the deepest fanned pipeline (signatures, banding,
    // candidate expansion, exact verification)
    val on = rows(graft.dedup.DedupQueries.dedupNear(spark, Sf0001))
    Caches.drain()
    spark.conf.set(Plans.FanOutKey, "false")
    try {
      val off = rows(graft.dedup.DedupQueries.dedupNear(spark, Sf0001))
      assert(on == off, "fan-out must not change dedup_near's verified pairs")
    } finally { spark.conf.unset(Plans.FanOutKey); Caches.drain() }
  }

  test("iterate width and broadcast gate change plans only: identical rows") {
    // rowsPerPartition per graph size, so that at sf0.001 every loop runs
    // at several partitions and none at thousands: the co-purchase
    // adjacency has ~17.8k rows (width 4 at 5000), the match, near-dup and
    // source adjacencies 20–56 (widths 3–7 at 8)
    val loops = Seq("graph_bfs_hops" -> 5000, "graph_sssp" -> 5000,
      "er_golden_records" -> 8, "source_clusters" -> 8, "dedup_components" -> 8,
      "doc_pagerank" -> 8)
    def run(name: String, conf: (String, String)*): Seq[String] = {
      Memo.evictSession(spark) // dedup_components' labels are memoized
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try rows(SparkEntry.query(name).run(spark, Sf0001))
      finally { conf.foreach { case (k, _) => spark.conf.unset(k) }; Caches.drain() }
    }
    for ((name, perPartition) <- loops) {
      val base = run(name)
      assert(run(name, Plans.RowsPerPartitionKey -> perPartition.toString) == base,
        s"$name: rows differ at several partitions")
      assert(run(name, Plans.BroadcastRowLimitKey -> "0") == base,
        s"$name: rows differ with the iterate joined shuffled-hash")
    }
  }
}
