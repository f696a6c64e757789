package graft.graph

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.functions._

import graft.Plans
import graft.Plans.truncate

/** The library's one min-relaxation loop — iteration the way the MapReduce
  * paper answers it, a driver loop of shuffle rounds, each round
  *
  *   next(v) = min(cur(v), min over neighbours n of v of hop(cur(n)))
  *
  * Hop distances (`hop = h + 1`), Bellman–Ford distances (`h + w`) and
  * min-label components (`h`) are this one round with a different `hop`;
  * graph_bfs_hops, graph_sssp, er_golden_records, source_clusters and
  * dedup_components all run it.
  *
  * Layout: the adjacency ([[adjacency]]) and every iterate are
  * hash-partitioned by `v` at the same [[Plans.sizeWidth]] of the
  * adjacency's exact row count, so a round's union and min aggregate run
  * exchange-free over co-partitioned inputs. The only data movement per
  * round is the iterate going to the neighbour join, gated by
  * [[Plans.broadcastIfSmall]] (an iterate has at most one row per vertex,
  * so ≤ `adj.rows`); past the gate it degrades to a shuffled-hash join. At
  * every tested scale the width is 1, so every stage of a round is one
  * task.
  *
  * Every round is truncated ([[Plans.truncate]]), not left lazy: it reads
  * the previous iterate twice (carry-through and neighbour join), so an
  * untruncated plan doubles per round — analysis and optimizer time go
  * exponential in the round count (measured 7.5 s vs 2.6 s for 3 BFS
  * rounds at sf0.1, and minutes for dedup_components). The truncation mode
  * follows `spark.graft.components.reliableCheckpoint`. */
object Relax {

  /** A symmetrised adjacency `(v, n[, w])`, persisted and hash-partitioned
    * by `v` at [[Plans.sizeWidth]] of `rows`, its exact row count. */
  final case class Adjacency(df: DataFrame, rows: Long)

  /** The adjacency of the undirected edge list `edges` `(u, v[, w…])`,
    * whose exact row count `nEdges` the caller has in hand (a memoized
    * count, so building the layout runs no job): each edge in both
    * directions, any further columns carried along. Registered with
    * [[graft.Caches]], so the harness drain (or an enclosing
    * `Caches.scoped`) releases it. */
  def adjacency(edges: DataFrame, nEdges: Long): Adjacency = {
    val rest = edges.columns.filterNot(c => c == "u" || c == "v").map(col).toSeq
    val rows = 2 * nEdges
    val sym = edges.select(col("u").as("v") +: col("v").as("n") +: rest: _*)
      .unionByName(edges.select(col("v").as("v") +: col("u").as("n") +: rest: _*))
      .repartition(Plans.sizeWidth(edges.sparkSession, rows), col("v"))
    Adjacency(graft.Caches.persisted(sym), rows)
  }

  /** Every vertex of `adj` labelled with itself `(v, h = v)`: the seed of
    * min-label components. */
  def ownLabels(adj: Adjacency): DataFrame =
    adj.df.select(col("v")).distinct().withColumn("h", col("v"))

  /** How many rounds [[min]] runs. */
  sealed trait Rounds

  /** Exactly `k` rounds — the fixed budget an unrolled-CTE oracle replays. */
  final case class Fixed(k: Int) extends Rounds

  /** Until a round changes no value — the fixpoint a recursive CTE reaches
    * ([[Plans.untilStable]]: one count job per round). */
  case object UntilStable extends Rounds

  /** Relax `init` `(v, h)` over `adj`. `hop` is a column over the
    * neighbour's `h` and the edge's columns (`h`, `h + 1`, `h + w`). Returns
    * `(v, h)` for every vertex in `init` or reached from it, truncated. */
  def min(adj: Adjacency, init: DataFrame, hop: Column, rounds: Rounds): DataFrame = {
    val width = Plans.sizeWidth(init.sparkSession, adj.rows)
    val offered = lit(null).cast(init.schema("h").dataType)
    def vh(df: DataFrame): DataFrame = df.select(col("v"), col("h"))
    // one round, (v, h) → (v, h, old): a current row carries its value as
    // `old` and an offer carries null, so max(old) is v's value before the
    // round (null: v newly reached)
    def round(cur: DataFrame): DataFrame = {
      val offers = adj.df
        .join(Plans.broadcastIfSmall(cur.select(col("v").as("n"), col("h")), adj.rows), "n")
        .select(col("v"), hop.as("h"), offered.as("old"))
      cur.select(col("v"), col("h"), col("h").as("old"))
        .unionByName(offers)
        .groupBy(col("v"))
        .agg(functions.min(col("h")).as("h"), max(col("old")).as("old"))
    }
    val start = truncate(vh(init).repartition(width, col("v")))
    vh(rounds match {
      case Fixed(k) => (1 to k).foldLeft(start)((cur, _) => truncate(round(vh(cur))))
      case UntilStable => Plans.untilStable(start)(c => round(vh(c)))(
        _.filter(!(col("h") <=> col("old"))))
    })
  }
}
