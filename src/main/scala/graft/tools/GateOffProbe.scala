package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Caches, Conf, Memo, Plans, SparkEntry}
import graft.plans.GraftSession

/** End-to-end execution of the size-gated SHUFFLED-HASH fallback paths at
  * data scale — not just their plan shape.
  *
  * PlanQualitySuite pins both plan shapes of every `Plans.broadcastIfSmall`
  * / `broadcastIfSmallStats` site under a flipped limit at sf0.001; this
  * probe runs the top gated consumers on a k× replica (ScaleProbe's
  * disjoint-shingle replication) TWICE — gates at their defaults
  * (broadcast), then forced to 0 (every gated side shuffled-hash) — and
  * asserts the row fingerprints are identical while recording both walls.
  * That is the missing evidence for the 100× story: the fallback plans the
  * cluster would actually run produce the same bytes at a data scale where
  * the shuffle is real work, not a 60-row toy.
  *
  * Fingerprint: (row count, Σ crc32(canonical row string)) — order-free,
  * duplicate-sensitive, no driver-side row materialization (the library's
  * no-collect rule applies to tools too). Both runs execute the same
  * final projection, so identical values imply identical formatting.
  *
  * `runMain graft.tools.GateOffProbe [k] [sfDir] [outBase] [probes]` —
  * prints one line per query: both walls and MATCH/MISMATCH.
  */
object GateOffProbe {

  /** Gated consumers worth executing at scale: every family with a
    * broadcastIfSmall/broadcastIfSmallStats attach on its hot path. */
  private val Probes = Seq(
    // graph family: degree/adjacency attaches gated on the exact |E| memo count
    "copurchase_triangles", "copurchase_clustering", "copurchase_assortativity",
    "frequent_pairs", "copurchase_ra_links",
    // min-relaxation loops: the iterate's broadcast gate in Relax.min
    "graph_bfs_hops", "graph_sssp", "er_golden_records", "source_clusters",
    "dedup_components",
    // relational: stats-gated dimension chains + q2's aggregate-derived attach
    "q2_min_cost_supplier", "q3_shipping", "q5_nation_revenue",
    "q9_product_profit", "q16_supplier_counts",
    // pipelines: model/artifact attaches gated on memoized exact counts
    "ngram_perplexity", "bpe_encode", "decontaminate", "train_split_grouped",
    "source_log_odds", "events_erasure_audit", "filter_correlation",
    // embedding pair-list consumers: derived attach sides gated on the
    // memoized exact pair count (round 11)
    "embed_mutual_nn", "embed_margin_pairs", "knn_label_eval")

  /** k× replication of the TPC-H-shaped tables with consistent per-replica
    * key offsets — the honest growth mode for the relational probes: facts
    * AND dimensions grow k× (the point of the gates-off run is precisely
    * that dimensions outgrow broadcast), replicas never cross-join (all
    * foreign keys offset by the same replica stride), and nation/region
    * stay the constant-size tables they are at every SF. */
  private def replicateRelational(
      spark: org.apache.spark.sql.SparkSession, srcDir: String, k: Int, outDir: String): Unit = {
    import org.apache.spark.sql.SaveMode
    def src(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L
    val strides = Map(
      "part" -> stride(src("part"), "p_partkey"),
      "supplier" -> stride(src("supplier"), "s_suppkey"),
      "customer" -> stride(src("customer"), "c_custkey"),
      "orders" -> stride(src("orders"), "o_orderkey"))
    // constant dims: copy as-is
    for (t <- Seq("region", "nation"))
      src(t).write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
    // which key columns shift by which stride, per table
    val shifts: Map[String, Seq[(String, String)]] = Map(
      "part" -> Seq("p_partkey" -> "part"),
      "supplier" -> Seq("s_suppkey" -> "supplier"),
      "customer" -> Seq("c_custkey" -> "customer"),
      "orders" -> Seq("o_orderkey" -> "orders", "o_custkey" -> "customer"),
      "lineitem" -> Seq("l_orderkey" -> "orders", "l_partkey" -> "part",
        "l_suppkey" -> "supplier"))
    shifts.foreach { case (t, keyShifts) =>
      val base = src(t)
      (0 until k).map { r =>
        keyShifts.foldLeft(base) { case (df, (c, s)) =>
          df.withColumn(c, col(c) + lit(r * strides(s)))
        }
      }.reduce(_ unionAll _)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(8)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val outBase = args.lift(2).getOrElse("/tmp/graft-gateoff")
    val probes = args.lift(3)
      .map(_.split(',').toSeq.map(_.trim).filter(Probes.contains))
      .filter(_.nonEmpty)
      .getOrElse(Probes)
    val spark = GraftSession.builder(Conf.cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = s"$outBase/k$k"
    ScaleProbe.replicate(spark, sfDir, k, dir)
    replicateRelational(spark, sfDir, k, dir)
    var mismatches = 0
    probes.foreach { name =>
      val fn = SparkEntry.query(name).run
      // gated-on (broadcast) pass — also warms the session artifacts
      // (trained models, edge memos), which both passes share; the probe
      // measures the JOIN STRATEGY delta, not artifact build cost
      val t0 = System.nanoTime()
      val fpOn = RowFingerprint(fn(spark, dir))
      val onSec = (System.nanoTime() - t0) / 1e9
      Caches.drain()
      spark.conf.set(Plans.BroadcastRowLimitKey, "0")
      spark.conf.set(Plans.BroadcastByteLimitKey, "0")
      try {
        val t1 = System.nanoTime()
        val fpOff = RowFingerprint(fn(spark, dir))
        val offSec = (System.nanoTime() - t1) / 1e9
        val ok = fpOn == fpOff
        if (!ok) mismatches += 1
        println(f"[gateoff] k=$k $name%-24s on=${onSec}%6.2f s off=${offSec}%6.2f s " +
          f"rows=${fpOn._1} ${if (ok) "MATCH" else s"MISMATCH on=$fpOn off=$fpOff"}")
      } finally {
        spark.conf.unset(Plans.BroadcastRowLimitKey)
        spark.conf.unset(Plans.BroadcastByteLimitKey)
        Caches.drain()
      }
    }
    Memo.evictSession(spark)
    println(s"[gateoff] done: ${probes.size} probes, $mismatches mismatches")
    spark.stop()
    if (mismatches > 0) sys.exit(1)
  }
}
