package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Generated code is compiled once per session. Spark keys its cache of
  * compiled classes by the generated source text, so a query that runs
  * again with the same plan must find every class it needs there; it
  * compiles again only when the cache is smaller than the session's
  * working set (`GraftSession` sizes it to the registry). */
class CodegenReuseSuite extends SparkSpec {

  /** The benchmark's query_mix list (perfbench `QueryMix.Names`). */
  private val QueryMix = Seq(
    "lineitem_unpivot", "orders_above_avg", "part_skyline", "q12_priority_class",
    "q20_concentrated_suppliers",
    "events_cms", "events_latest_per_user", "events_top3_per_type", "events_user_quartiles",
    "bucketed_priority_revenue")

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Janino compilations during one pass that writes every query through
    * the no-op sink. */
  private def pass(): Long = {
    val c0 = compiles()
    QueryMix.foreach { q =>
      try SparkEntry.query(q).run(spark, Sf0001).write.format("noop").mode("overwrite").save()
      finally Caches.drain()
    }
    compiles() - c0
  }

  test("passes after the first over query_mix's queries compile no generated code") {
    // the counter is JVM-wide: a running stream would compile while we count
    assert(spark.streams.active.isEmpty, "a streaming query is still running")
    val first = pass()
    val later = Seq(pass(), pass())
    assert(later == Seq(0L, 0L), s"passes 2 and 3 compiled $later classes (pass 1: $first)")
  }
}
