package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.Relax

/** [[Relax.min]] against a driver-side replay of the same rounds on a
  * hand-built graph: a weighted path 1–2–3–4 with a costlier shortcut 1–4,
  * a vertex 6 that no edge touches, and a string-labelled graph for the
  * min-label use. Fixed `k` must equal `k` driver steps; until-stable must
  * equal the driver fixpoint — at width 1 with the broadcast gate, and at
  * several partitions with the gate forced to shuffled-hash. */
class RelaxSuite extends SparkSpec {

  private val weighted = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 4L, 5L), (4L, 5L, 2L))

  private val labelled = Seq(("d", "b"), ("b", "e"), ("c", "f"))

  /** One synchronous round on the driver:
    * next(v) = min(cur(v), min over neighbours n of hop(cur(n), w)). */
  private def step[T: Ordering](edges: Seq[(T, T, Long)], hop: (T, Long) => T)(
      cur: Map[T, T]): Map[T, T] = {
    val offers = edges.flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) }
      .flatMap { case (v, n, w) => cur.get(n).map(h => v -> hop(h, w)) }
    (cur.toSeq ++ offers).groupBy(_._1).map { case (v, hs) => v -> hs.map(_._2).min }
  }

  private def fixpoint[T](f: Map[T, T] => Map[T, T], m: Map[T, T]): Map[T, T] = {
    val n = f(m)
    if (n == m) m else fixpoint(f, n)
  }

  private def longs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def strings(df: DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  /** Every check, under the current session settings. */
  private def checkAll(): Unit = {
    val s = spark
    import s.implicits._
    try {
      val adj = Relax.adjacency(weighted.toDF("u", "v", "w"), weighted.size)
      val init = Map(1L -> 0L, 6L -> 0L)
      val initDf = init.toSeq.toDF("v", "h")
      val hop = step[Long](weighted, _ + _) _
      for (k <- 0 to 4)
        assert(longs(Relax.min(adj, initDf, col("h") + col("w"), Relax.Fixed(k))) ==
          Iterator.iterate(init)(hop).drop(k).next(), s"weighted, $k rounds")
      val dist = longs(Relax.min(adj, initDf, col("h") + col("w"), Relax.UntilStable))
      assert(dist == fixpoint(hop, init))
      // the shortcut loses to the path once three rounds have run
      assert(dist(4L) == 3L && dist(5L) == 5L && dist(6L) == 0L)

      val ladj = Relax.adjacency(labelled.toDF("u", "v"), labelled.size)
      val nodes = Seq("a", "b", "c", "d", "e", "f")
      val linit = nodes.map(n => n -> n).toMap
      val linitDf = linit.toSeq.toDF("v", "h")
      val lhop = step[String](labelled.map { case (u, v) => (u, v, 0L) }, (h, _) => h) _
      for (k <- 0 to 2)
        assert(strings(Relax.min(ladj, linitDf, col("h"), Relax.Fixed(k))) ==
          Iterator.iterate(linit)(lhop).drop(k).next(), s"labels, $k rounds")
      val labels = strings(Relax.min(ladj, linitDf, col("h"), Relax.UntilStable))
      assert(labels == fixpoint(lhop, linit))
      assert(labels == Map("a" -> "a", "b" -> "b", "c" -> "c", "d" -> "b", "e" -> "b",
        "f" -> "c"))
    } finally Caches.drain()
  }

  test("fixed rounds equal driver steps and until-stable equals the driver fixpoint") {
    checkAll()
  }

  test("the same rows at several partitions with the shuffled-hash gate") {
    spark.conf.set(Plans.RowsPerPartitionKey, "3")
    spark.conf.set(Plans.BroadcastRowLimitKey, "0")
    try checkAll()
    finally {
      spark.conf.unset(Plans.RowsPerPartitionKey)
      spark.conf.unset(Plans.BroadcastRowLimitKey)
    }
  }

  test("the result is truncated: reading it re-runs no join or exchange") {
    val s = spark
    import s.implicits._
    try {
      val adj = Relax.adjacency(weighted.toDF("u", "v", "w"), weighted.size)
      val plan = Relax.min(adj, Seq((1L, 0L)).toDF("v", "h"), col("h") + 1, Relax.Fixed(1))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
    } finally Caches.drain()
  }
}
