package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tools.Invariance

/** [[Invariance.check]]: negative controls on fake registry records (each
  * kind of drift must be reported, and an error must not stop the check),
  * then the gated-consumer slice of the registry at sf0.001, which must
  * show no drift at all. */
class InvarianceSuite extends SparkSpec {

  private def fake(name: String)(run: SparkSession => DataFrame) =
    SparkEntry.Query(name, (s, _) => run(s), "")

  private def statuses(rs: Seq[Invariance.Result], query: String): Seq[(String, String)] =
    rs.filter(_.query == query).map(r => r.leg -> r.status)

  // 2 rows at the default broadcast row limit, 0 with the gates off
  private def gatedRows(s: SparkSession): Long =
    math.min(Conf.long(s, Plans.BroadcastRowLimitKey, 2L), 2L)

  test("a result that depends on the broadcast gate is a gates-off MISMATCH, also inside a memo build") {
    val rs = Invariance.check(spark, Sf0001, Seq(
      fake("gated")(s => s.range(gatedRows(s)).toDF()),
      // memo-warm, this leg would reuse the 2-row artifact and match
      fake("gated_in_memo") { s =>
        s.range(Memo.artifact(s, "invariance-suite/gated")(Long.box(gatedRows(s))).longValue).toDF()
      }))
    val expected = Seq("default" -> "MATCH", "default" -> "MATCH", "default" -> "MATCH",
      "gates-off" -> "MISMATCH")
    assert(statuses(rs, "gated") == expected)
    assert(statuses(rs, "gated_in_memo") == expected)
    assert(rs.filter(_.leg == "default").forall(_.fingerprint.map(_._1) == Right(2L)))
    assert(rs.filter(_.leg == "gates-off").forall(_.fingerprint.map(_._1) == Right(0L)))
    assert(spark.conf.getOption(Plans.BroadcastRowLimitKey).isEmpty, "a leg's confs must be unset after it")
    assert(spark.conf.getOption(Plans.BroadcastByteLimitKey).isEmpty, "a leg's confs must be unset after it")
  }

  test("a result that changes from call to call is a default-repeat MISMATCH") {
    val calls = new AtomicLong
    val rs = Invariance.check(spark, Sf0001, Seq(fake("counter")(s => s.range(calls.incrementAndGet()).toDF())))
    assert(statuses(rs, "counter") == Seq("default" -> "MATCH", "default" -> "MISMATCH",
      "default" -> "MISMATCH", "gates-off" -> "MISMATCH"))
    assert(calls.get == Invariance.Legs.size)
  }

  test("a query that throws is an ERROR in every leg, and the check goes on to the next query") {
    val rs = Invariance.check(spark, Sf0001, Seq(
      fake("throws")(_ => throw new IllegalStateException("boom")),
      fake("stable")(s => s.range(3).toDF())))
    assert(statuses(rs, "throws").map(_._2) == Seq.fill(Invariance.Legs.size)("ERROR"))
    assert(rs.filter(_.query == "throws").forall(_.fingerprint == Left("java.lang.IllegalStateException: boom")))
    assert(statuses(rs, "stable").map(_._2) == Seq.fill(Invariance.Legs.size)("MATCH"))
  }

  test("the gated consumers keep their rows under repeats and with every gate off, memo-cold") {
    val names = Seq(
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
      // memoized exact pair count
      "embed_mutual_nn", "embed_margin_pairs", "knn_label_eval")
    val t0 = System.nanoTime()
    val rs = Invariance.check(spark, Sf0001, names.map(SparkEntry.query))
    info(f"${names.size} queries x ${Invariance.Legs.size} legs in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(rs.size == names.size * Invariance.Legs.size)
    val failed = rs.filter(_.status != "MATCH")
    assert(failed.isEmpty, failed.map(r => s"${r.query} ${r.leg} ${r.status} ${r.fingerprint}").mkString("\n"))
  }
}
