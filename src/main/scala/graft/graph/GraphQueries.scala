package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over relationally-derived graphs.
  *
  * The reference engine's (map, reduce) model covers one round of message
  * passing per job (`/root/reference/src/mr/worker.go:39` — the same shape
  * the original MapReduce paper demonstrates with PageRank); these operators
  * are the multi-round / join-heavy graph shapes that a declarative engine
  * plans far better than hand-chained MR rounds. The min-relaxation loop
  * (BFS, shortest paths, min-label components) is [[Relax]]; PageRank lives
  * in [[graft.dedup.DedupQueries]]; this module holds the rest.
  */
object GraphQueries {

  /** The persisted co-purchase edge list and its exact row count, memoized
    * per (session, data dir) in [[graft.Memo]].
    *
    * Ten queries in this family start from the identical edge derivation;
    * before the memo each rebuilt (and re-persisted, via Caches, drained
    * per query) its own copy — ~10 redundant fact-table scans per harness
    * run, the whole bench top-7. The memo persists ONE copy for the
    * session's lifetime (deliberately NOT registered with [[graft.Caches]],
    * whose drain runs between queries); at 100 TB the same role is played
    * by a persisted bucketed edge table ([[graft.sources.BucketedTables]]
    * pattern) — a session cache of an |E|-sized narrow table is the
    * single-session analog. The count is computed once on the persisted
    * frame and feeds every [[graft.Plans.broadcastIfSmall]] gate in the
    * family (degree and adjacency tables are ≤ 2|E| rows by construction),
    * so the size-gated joins cost no extra jobs. */
  private def copurchaseEdgesCounted(spark: SparkSession, dir: String): (DataFrame, Long) =
    graft.Memo.countedArtifact(spark, s"copurchase-edges/$dir")(copurchaseEdges(spark, dir))

  /** The co-purchase [[Relax.adjacency]] `(v, n)`: persisted at
    * data-proportional width keyed on `v`, so a degree or per-round
    * aggregate runs exchange-free over the cache and every scan of it is
    * |E|-proportional, not cores-many. Its row count (2|E|) bounds every
    * vertex-keyed table of the family for the broadcast gates. */
  private def copurchaseAdjacency(spark: SparkSession, dir: String): Relax.Adjacency = {
    val (e, nEdges) = copurchaseEdgesCounted(spark, dir)
    Relax.adjacency(e, nEdges)
  }

  /** The co-purchase hub — highest degree, ties to the smallest id — as the
    * `(v, h = 0)` seed of a [[Relax.min]] search: a |V|-sized degree agg
    * plus a TakeOrdered(1). */
  private def hub(adj: Relax.Adjacency): DataFrame =
    adj.df.groupBy(col("v")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("v").asc).limit(1)
      .select(col("v"), lit(0L).as("h"))

  /** The two basket base tables the whole family derives from, persisted
    * and memoized like [[copurchaseEdgesCounted]], one level lower:
    *   - ORDER baskets (l_orderkey → sorted distinct part array): feeds
    *     [[copurchaseEdges]], [[frequentPairs]], [[frequentTriples]] and
    *     [[ssspWeighted]]'s weighted pair counts;
    *   - CUSTOMER baskets (o_custkey → sorted distinct part array, through
    *     the orders⋈lineitem join): feeds [[itemCfRecs]] and
    *     [[copurchaseHits]]' bipartite edges.
    * Each is ONE wide shuffle over the fact scan (collect_set keyed by the
    * basket key IS the dedup); every consumer re-derives its shape by a
    * narrow explode/projection over the cached arrays, so the family pays
    * the fact-table shuffle once per session instead of once per query. */
  private def memoBasket(spark: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame =
    graft.Memo.persisted(spark, s"basket-$kind/$dir")(build) { b =>
      // ONE-TIME packed-key guard for every PairExpandSql consumer (this
      // is their shared choke point): the u·2³²+v packing wraps silently
      // (non-ANSI multiply) for ids ≥ 2³¹ and would collide distinct
      // pairs. `ps` is sorted ascending, so max(last element) is the max
      // id in the table; the check is one tiny agg job per session per
      // basket kind — NOT a per-element branch in the expansion's codegen
      // span (measured +1.4 s on item_cf_recs when inlined there). It also
      // materializes the persist; if it throws, Memo unpersists the frame.
      val r = b.agg(max(element_at(col("ps"), -1))).head()
      val mx = if (r.isNullAt(0)) 0L else r.getLong(0)
      require(mx < (1L << 31),
        s"graft: max part id $mx >= 2^31 — packed pair key would wrap; use struct pair keys")
    }._1

  /** (l_orderkey, ps): sorted distinct parts per order. */
  private def orderBaskets(spark: SparkSession, dir: String): DataFrame =
    memoBasket(spark, dir, "order") {
      Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
    }

  /** (c, ps): sorted distinct parts per customer, via orders⋈lineitem. */
  private def custBaskets(spark: SparkSession, dir: String): DataFrame =
    memoBasket(spark, dir, "cust") {
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("c"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
    }

  /** DIMSUM-style per-customer history cap for the C(k,2) CUSTOMER-basket
    * pair expansion ([[itemCfRecs]]): `spark.graft.maxBasketSize` truncates
    * each customer's sorted part array to its first k entries BEFORE the
    * expansion. Order baskets need no cap (≤ 7 parts by TPC-H construction;
    * bounded in any basket data), but customer histories are power-law in
    * real deployments: one 10⁵-part customer expands to 5·10⁹ pairs inside
    * a single task — the cap bounds that task at C(k,2) (cf. DIMSUM,
    * Zadeh & Carlsson 2013, which bounds the same blow-up by sampling).
    * Truncation is by sorted part id — deterministic, so capped results
    * are reproducible run-to-run. Degrees and co-counts both derive from
    * the SAME capped table, so the capped cosine stays internally
    * consistent (a part's degree counts exactly the baskets it survived
    * in). Unset (the default = Int.MaxValue) the plan is byte-identical
    * to the uncapped one — the cap is a no-op at TPC-H shape (k ≈ 30)
    * and exists for the skewed deployment. */
  private[graft] def cappedCustBaskets(spark: SparkSession, dir: String): DataFrame = {
    val cap = graft.Conf.int(spark, "spark.graft.maxBasketSize", Int.MaxValue)
    require(cap >= 2, s"spark.graft.maxBasketSize must be >= 2, got $cap")
    val b = custBaskets(spark, dir)
    if (cap == Int.MaxValue) b
    else b.withColumn("ps", slice(col("ps"), 1, cap))
  }

  /** The bounded C(k,2) in-basket pair expansion shared by every consumer
    * of a basket table (see [[copurchaseEdges]]' design note).
    *
    * Pairs are emitted PACKED into one int64 (`u·2³² + v` — exact and
    * order-isomorphic to the (u, v) pair for part ids < 2³¹, the same
    * packing [[copurchaseTriangles]]' orientation key uses): the expansion
    * is the hottest codegen span in the family (C(k,2) elements per basket,
    * ~13 M at sf0.1 for the customer baskets), and a packed long avoids a
    * struct allocation per pair AND halves the grouping key the downstream
    * partial aggregations hash on. Consumers unpack with a shift/mask after
    * the aggregate, so row values are unchanged. */
  private val PairExpandSql =
    // enforced, not assumed: `ps` is sorted ascending, so ONE compare per
    // basket on its max element guards every u and v in the expansion — a
    // catalog whose ids reach 2³¹ fails loudly (the non-ANSI multiply
    // would otherwise wrap silently and collide distinct pairs) instead
    // of producing wrong co-purchase edges/support/CF rows.
    """flatten(transform(ps, (u, i) ->
      |  transform(slice(ps, i + 2, size(ps)), v -> u * 4294967296L + v)))"""
      .stripMargin

  /** Unpack the [[PairExpandSql]] key: (p >> 32, p & (2³²−1)). */
  private def unpackU(p: org.apache.spark.sql.Column) = shiftright(p, 32)
  private def unpackV(p: org.apache.spark.sql.Column) =
    p.bitwiseAND(lit(4294967295L))

  /** The co-purchase edge list: distinct undirected part pairs that appear
    * in the same order, emitted once with `u < v`. Per-order line counts
    * are bounded (≤7 in TPC-H shape, small in any basket data), so the
    * in-order pair expansion is a bounded narrow explode; the only shuffle
    * is the distinct on the edge key. */
  private def copurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    // per-order pair expansion from ONE grouped pass, not a self-join: a
    // basket of k lines yields C(k,2) pairs generated inside a codegen'd
    // projection over the sorted part array — the self-join formulation
    // sorts the whole fact table twice to produce the same rows (measured
    // ~2× the wall at sf0.1). Basket sizes are bounded (≤7 TPC-H, small
    // in any basket data), so the nested transform is O(k²) per order.
    orderBaskets(spark, dir)
      .select(explode(expr(PairExpandSql)).as("p"))
      .distinct() // on the packed key — half the dedup key width
      .select(unpackU(col("p")).as("u"), unpackV(col("p")).as("v"))
  }

  /** Per-part triangle participation counts in the co-purchase graph — the
    * clustering-coefficient numerator, the classic "bought together" motif.
    *
    * Enumeration is DEGREE-ORIENTED (the compact-forward / Cohen MapReduce
    * triangle algorithm): every undirected edge is directed from its
    * lower-(degree, id) endpoint to the higher one, and a triangle
    * a→b, a→c, b→c is closed edge-centrically at its (a, b) edge as
    * c ∈ N⁺(a) ∩ N⁺(b). Orienting by degree bounds every node's
    * out-degree by O(√m) regardless of the in-degree skew — a hub part in
    * 10⁶ orders contributes intersection work proportional to its (small)
    * out-degree, not deg² — which is the difference between this running
    * at 100 TB and the naive id-ordered join melting on the first popular
    * part. Any total order yields each triangle exactly once, so the
    * id-ordered DuckDB oracle produces the identical triangle set.
    *
    * The closing pass is |E| rows × one `sorted_intersect` each (native
    * two-pointer merge over the broadcast adjacency arrays) — no wedge
    * materialization: the Σ C(outdeg, 2) wedge rows of the self-join
    * formulation (35 M at sf0.1, through a shuffle + hash probe) are
    * replaced by Σ outdeg(a)+outdeg(b) primitive comparisons inside one
    * codegen'd projection, measured ~3× the end-to-end wall. */
  def copurchaseTriangles(spark: SparkSession, dir: String): DataFrame = {
    // memoized + persisted for the session: consumed by the degree count,
    // the orientation join, and (via `oriented`) the adjacency build +
    // edge scan — and by the rest of the co-purchase family.
    val (edges, nEdges) = copurchaseEdgesCounted(spark, dir)
    val deg = edges.select(col("u").as("n")).union(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // orient: src = the endpoint earlier in the (degree, id) total order,
    // packed into ONE long (d ≤ |E| < 2³¹, id < 2³¹ ⇒ d·2³² + id is exact
    // and order-isomorphic to the (d, id) pair) — primitive comparisons,
    // no struct allocation on the hot path
    // the packed (degree, id) key needs d < 2³¹; d ≤ |E| and the exact
    // edge count is already in hand — enforce rather than assume
    require(nEdges < (1L << 31),
      s"graft: $nEdges co-purchase edges — packed degree-orientation key would wrap")
    val uKey = col("du") * lit(4294967296L) + col("u")
    val vKey = col("dv") * lit(4294967296L) + col("v")
    // degree table is |V|-sized (≤ 2|E| rows, exact bound from the memo
    // count) — no stats on an aggregate-derived frame, so Catalyst would
    // otherwise sort-merge the |E| side twice; under the size gate it
    // broadcasts here and degrades to a shuffled hash join (same result,
    // no driver OOM) on a graph whose vertex set outgrows the threshold
    val oriented = graft.Caches.persisted(
      edges
        .join(graft.Plans.broadcastIfSmall(
          deg.select(col("n").as("u"), col("d").as("du")), 2 * nEdges), "u")
        .join(graft.Plans.broadcastIfSmall(
          deg.select(col("n").as("v"), col("d").as("dv")), 2 * nEdges), "v")
        .select(
          when(uKey < vKey, col("u")).otherwise(col("v")).as("src"),
          when(uKey < vKey, col("v")).otherwise(col("u")).as("dst")))
    // EDGE-CENTRIC closing (not a wedge self-join): a triangle a→b, a→c,
    // b→c is found exactly once, at its edge (a, b), as
    // c ∈ N⁺(a) ∩ N⁺(b) — b ∉ N⁺(c) and a ∉ N⁺(b) rule the other two
    // edges out, so no ord filter is needed. The win over enumerating
    // wedges: the Σ outdeg(a)+outdeg(b) intersection work runs as
    // primitive sorted-array scans inside one codegen'd projection over
    // |E| rows, instead of materializing Σ C(outdeg,2) wedge rows
    // through a shuffle + hash probe (35 M rows and ~20× the wall at
    // sf0.1). The adjacency side is |E| longs grouped into |V| rows —
    // ~10 MB here, so it broadcasts; past the size gate (estimated by the
    // exact |E| memo count — the arrays carry |E| longs total, so row
    // count alone would undersell it) the SAME plan holds with both joins
    // shuffled-hash on their key (the arrays ride along), so nothing about
    // the shape is local-mode-only — the gate makes that fallback
    // executable instead of a comment.
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("ns"))
    // per-corner counts fused into the same projection: the edge's two
    // endpoints each gain |cs| triangles, every third corner gains one —
    // one explode, one shuffle, no re-reads of an intermediate
    oriented
      .join(graft.Plans.broadcastIfSmall(
          adj.select(col("src").as("a"), col("ns").as("na")), nEdges),
        col("src") === col("a"), "left")
      .join(graft.Plans.broadcastIfSmall(
          adj.select(col("src").as("b"), col("ns").as("nb")), nEdges),
        col("dst") === col("b"), "left")
      .select(col("src"), col("dst"),
        expr("sorted_intersect(coalesce(na, array()), coalesce(nb, array()))").as("cs"))
      .filter(size(col("cs")) > 0)
      .select(explode(expr(
        """concat(
          |  array(struct(src AS part_id, CAST(size(cs) AS BIGINT) AS t),
          |        struct(dst AS part_id, CAST(size(cs) AS BIGINT) AS t)),
          |  transform(cs, c -> struct(c AS part_id, CAST(1 AS BIGINT) AS t)))"""
          .stripMargin)).as("r"))
      .groupBy(col("r.part_id").as("part_id"))
      .agg(sum(col("r.t")).as("triangles"))
  }

  /** Oracle: id-ordered enumeration (u < v < w, every edge stored once as
    * u < v) — a different total order than the degree orientation, but any
    * acyclic orientation from a total order enumerates each triangle
    * exactly once, so the triangle multiset and per-part counts match. */
  def copurchaseTrianglesSql: String =
    """WITH e AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |tri AS (
      |  SELECT ab.u AS a, ab.v AS b, bc.v AS c
      |  FROM e ab JOIN e bc ON ab.v = bc.u
      |  JOIN e ac ON ac.u = ab.u AND ac.v = bc.v)
      |SELECT part_id, count(*) AS triangles
      |FROM (SELECT a AS part_id FROM tri
      |      UNION ALL SELECT b FROM tri
      |      UNION ALL SELECT c FROM tri) r
      |GROUP BY part_id""".stripMargin

  /** Local clustering coefficient per part — triangles normalized by the
    * wedge count `C(deg, 2)`: how tightly a part's co-purchase
    * neighborhood interlinks (1 = clique, 0 = star hub). Exact
    * parts-per-million via integer floor division
    * `2·T·10⁶ div (d·(d−1))`, so the quotient is engine-identical; parts
    * with degree < 2 have no wedges and are excluded (the coefficient is
    * undefined, not zero).
    *
    * Scale shape: [[copurchaseTriangles]]' plan plus one |V|-sized degree
    * agg and a broadcast attach — nothing new touches the edge set.
    * (`2·T·10⁶` fits int64 while per-node triangle counts stay below
    * ~4.6·10¹²; beyond that the expression lowers to DECIMAL(38,0).) */
  def clusteringCoefficient(spark: SparkSession, dir: String): DataFrame = {
    val (edges, nEdges) = copurchaseEdgesCounted(spark, dir)
    val deg = edges.select(col("u").as("n")).union(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= 2)
    // left join FROM deg (preserved side first): the gated build side must
    // be the non-preserved one for a hash join to apply — the old
    // right-outer formulation hinted the preserved side, which no hash
    // strategy can honor. Both sides are |V|-sized aggregates; the
    // triangle side builds.
    deg.select(col("n").as("part_id"), col("d"))
      .join(graft.Plans.broadcastIfSmall(
        copurchaseTriangles(spark, dir), 2 * nEdges), Seq("part_id"), "left")
      .select(col("part_id"), col("d").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("cc_ppm",
        expr("2 * triangles * 1000000L div (degree * (degree - 1))"))
  }

  /** Oracle: the triangle enumeration CTE joined to degrees. */
  def clusteringCoefficientSql: String =
    """WITH e AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |adj AS (SELECT u AS v, v AS n FROM e UNION ALL SELECT v AS v, u AS n FROM e),
      |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY v HAVING count(*) >= 2),
      |tri AS (
      |  SELECT ab.u AS a, ab.v AS b, bc.v AS c
      |  FROM e ab JOIN e bc ON ab.v = bc.u
      |  JOIN e ac ON ac.u = ab.u AND ac.v = bc.v),
      |t AS (
      |  SELECT part_id, CAST(count(*) AS BIGINT) AS triangles
      |  FROM (SELECT a AS part_id FROM tri
      |        UNION ALL SELECT b FROM tri
      |        UNION ALL SELECT c FROM tri) r
      |  GROUP BY part_id)
      |SELECT deg.v AS part_id, deg.d AS degree,
      |  CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
      |  CAST(2 * coalesce(t.triangles, 0) * 1000000 // (deg.d * (deg.d - 1)) AS BIGINT) AS cc_ppm
      |FROM deg LEFT JOIN t ON t.part_id = deg.v""".stripMargin

  /** Degree assortativity of the co-purchase graph — the Pearson
    * correlation of endpoint degrees over edges (Newman 2002): do popular
    * parts co-sell with popular parts (r > 0) or with long-tail ones
    * (r < 0)? The one-number mixing diagnostic for any graph workload.
    *
    * Exactness: the [[graft.relational.RelationalQueries]] exact-moments
    * policy — each DIRECTED edge contributes (deg(src), deg(dst)) once
    * (symmetrizing, so x and y marginals coincide as the statistic
    * requires), the five power sums are int64, and r is one IEEE
    * expression over them. (Σx² ≤ 2|E|·maxdeg² — int64 to ~10⁹ edges ×
    * 10⁴-degree hubs; past that the sums lower to DECIMAL(38,0).)
    *
    * Scale shape: the degree table is |V|-sized and attaches to the edge
    * list by two broadcast joins; the moments are ONE partial-aggregated
    * reduction to a single row. */
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val (edges, nEdges) = copurchaseEdgesCounted(spark, dir)
    val deg = edges.select(col("u").as("n")).union(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    edges
      .select(explode(array(
        struct(col("u").as("a"), col("v").as("b")),
        struct(col("v").as("a"), col("u").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .join(graft.Plans.broadcastIfSmall(
        deg.select(col("n").as("a"), col("d").as("dx")), 2 * nEdges), "a")
      .join(graft.Plans.broadcastIfSmall(
        deg.select(col("n").as("b"), col("d").as("dy")), 2 * nEdges), "b")
      .agg(count(lit(1)).as("n_dir_edges"),
        sum(col("dx")).as("sx"),
        sum(col("dy")).as("sy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"),
        sum(col("dx") * col("dy")).as("sxy"))
      .withColumn("assortativity",
        (col("n_dir_edges") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n_dir_edges") * col("sxx") - col("sx") * col("sx")).cast("double") *
               (col("n_dir_edges") * col("syy") - col("sy") * col("sy")).cast("double")))
  }

  def degreeAssortativitySql: String =
    """WITH e AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |adj AS (SELECT u AS v, v AS n FROM e UNION ALL SELECT v AS v, u AS n FROM e),
      |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY v),
      |de AS (
      |  SELECT da.d AS dx, db.d AS dy
      |  FROM adj JOIN deg da ON da.v = adj.v JOIN deg db ON db.v = adj.n),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_dir_edges,
      |    CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
      |    CAST(sum(dx * dx) AS BIGINT) AS sxx, CAST(sum(dy * dy) AS BIGINT) AS syy,
      |    CAST(sum(dx * dy) AS BIGINT) AS sxy
      |  FROM de)
      |SELECT n_dir_edges, sx, sy, sxx, syy, sxy,
      |  CAST(n_dir_edges * sxy - sx * sy AS DOUBLE) /
      |    sqrt(CAST(n_dir_edges * sxx - sx * sx AS DOUBLE) *
      |         CAST(n_dir_edges * syy - sy * sy AS DOUBLE)) AS assortativity
      |FROM m""".stripMargin

  private val MinSupport = 2L

  /** Association rules over the co-purchase baskets — support, confidence
    * and lift for every part pair bought together in ≥ [[MinSupport]]
    * orders (the Apriori/market-basket staple, pair-sized: the frequent-k
    * generalization iterates this shape).
    *
    * All three measures are emitted as EXACT integers: support is an order
    * count; confidence and lift are parts-per-million via integer floor
    * division (`support·10⁶ div cnt`, `support·N·10⁶ div (cnt_u·cnt_v)`) —
    * the same value in every engine, where the textbook float ratios would
    * hash-mismatch on the 17th bit. cnt·10⁶·N stays well under 2⁶³ for any
    * basket corpus whose pair supports fit in int32; beyond that the same
    * expressions lower to DECIMAL(38,0).
    *
    * Scale shape: pair supports are one map-side-combined shuffle over the
    * basket pair expansion (bounded per order); per-item basket counts are
    * |parts|-sized and attach by broadcast; N is a broadcast scalar. No
    * joins ever touch the fact table twice. */
  def frequentPairs(spark: SparkSession, dir: String): DataFrame = {
    val baskets = orderBaskets(spark, dir)
    val support = baskets
      .select(explode(expr(PairExpandSql)).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("support"))
      .filter(col("support") >= MinSupport)
      .select(unpackU(col("p")).as("u"), unpackV(col("p")).as("v"), col("support"))
    val itemCnt = baskets.select(explode(col("ps")).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("cnt"))
    val n = baskets.agg(count(lit(1)).as("n_baskets"))
    // per-item counts are catalog-sized: ≤ |part| rows, bounded by the
    // part table's parquet METADATA count (footer row counts only — no
    // scan, no shuffle), so the gate costs one metadata job and the attach
    // degrades to shuffled-hash once the catalog outgrows broadcast
    val nParts = graft.Memo.countOf(spark, s"n-parts/$dir", Tables.part(spark, dir))
    support
      .join(graft.Plans.broadcastIfSmall(
        itemCnt.select(col("part").as("u"), col("cnt").as("cu")), nParts), "u")
      .join(graft.Plans.broadcastIfSmall(
        itemCnt.select(col("part").as("v"), col("cnt").as("cv")), nParts), "v")
      .crossJoin(broadcast(n))
      .select(col("u"), col("v"), col("support"),
        expr("support * 1000000L div cu").as("conf_uv_ppm"),
        expr("support * 1000000L div cv").as("conf_vu_ppm"),
        expr("support * n_baskets * 1000000L div (cu * cv)").as("lift_ppm"))
  }

  def frequentPairsSql: String =
    """WITH b AS (
      |  SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS ps
      |  FROM lineitem GROUP BY 1),
      |pairs AS (
      |  SELECT a.l_partkey AS u, c.l_partkey AS v, count(*) AS support
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) c
      |    ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |item AS (
      |  SELECT l_partkey AS part, count(DISTINCT l_orderkey) AS cnt
      |  FROM lineitem GROUP BY 1),
      |n AS (SELECT count(*) AS n_baskets FROM b)
      |SELECT u, v, support,
      |  support * 1000000 // cu AS conf_uv_ppm,
      |  support * 1000000 // cv AS conf_vu_ppm,
      |  support * n_baskets * 1000000 // (cu * cv) AS lift_ppm
      |FROM (SELECT pairs.*, iu.cnt AS cu, iv.cnt AS cv
      |      FROM pairs JOIN item iu ON iu.part = u
      |      JOIN item iv ON iv.part = v), n""".stripMargin

  /** Frequent triples via the Apriori prune (Agrawal & Srikant 1994) — the
    * size-3 member of the market-basket family: itemsets bought together in
    * ≥ [[MinSupport]] orders. The scale story IS the prune: candidate
    * triples are assembled only from per-order pairs that survived the
    * frequent-PAIR filter, and the third item must itself close two more
    * frequent pairs — anti-monotonicity (every subset of a frequent set is
    * frequent) guarantees this prunes NOTHING from the answer while cutting
    * the candidate stream from Σ C(k,3) per basket to the frequent
    * residue. The frequent-pair set broadcasts (small by construction —
    * that's the Apriori premise); the brute-force 3-way-join oracle is the
    * exact same answer by the same theorem.
    *
    * Scale shape: one grouped pair expansion (bounded per order), one
    * orderkey-keyed join to extend with the third item, three broadcast
    * prune joins, one (a,b,c)-keyed partial-agg count. Nothing quadratic
    * in the catalog, nothing cubic in the basket past the prune.
    *
    * Witness note: TPC-H's uniform part draw thins with SF — at sf0.001
    * 94 triples repeat, at sf0.01 12, at sf0.1 NONE (max support 1,
    * verified brute-force), so the empty sf0.1 result is the true
    * answer, not a degenerate gate; the oracle compare and the
    * partition-invariance pin run where the witness is non-trivial. */
  def frequentTriples(spark: SparkSession, dir: String): DataFrame = {
    val baskets = orderBaskets(spark, dir)
    // the pair key stays PACKED end to end (the PairExpandSql note): the
    // frequent-pair aggregate hashes one int64 instead of two, the cached
    // per-order pair table carries 2 columns instead of 3, and the (b,c) /
    // (a,c) prune probes derive from the packed key by bit arithmetic —
    // pack(v,w) = (p & 2³²−1)·2³² + w, pack(u,w) = (p & ¬(2³²−1)) + w —
    // so nothing unpacks until the output projection.
    val pairsPerOrder = graft.Caches.persisted(
      baskets.select(col("l_orderkey"), explode(expr(PairExpandSql)).as("p")))
    val f2 = graft.Caches.persisted(
      pairsPerOrder.groupBy(col("p"))
        .agg(count(lit(1)).as("s")).filter(col("s") >= MinSupport)
        .select(col("p")))
    // the frequent-pair set is small by construction (the Apriori premise)
    // but still data-derived — its exact count is one cheap job on the
    // persisted frame, and past the gate the three prune joins degrade to
    // shuffled-hash with the same anti-monotone semantics
    val nF2 = graft.Memo.countOf(spark, s"frequent-pairs/$dir", f2)
    pairsPerOrder
      .join(graft.Plans.broadcastIfSmall(f2, nF2), Seq("p")) // (a,b) frequent
      .join(baskets.select(col("l_orderkey"), explode(col("ps")).as("w")), "l_orderkey")
      .filter(col("w") > unpackV(col("p")))
      .join(graft.Plans.broadcastIfSmall(f2.select(col("p").as("pvw")), nF2),
        expr("(p & 4294967295L) * 4294967296L + w") === col("pvw")) // (b,c)
      .join(graft.Plans.broadcastIfSmall(f2.select(col("p").as("puw")), nF2),
        expr("(p & -4294967296L) + w") === col("puw")) // (a,c)
      .groupBy(col("p"), col("w"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= MinSupport)
      .select(unpackU(col("p")).as("part_a"), unpackV(col("p")).as("part_b"),
        col("w").as("part_c"), col("support"))
  }

  /** Oracle: the brute-force 3-way join — identical output by Apriori
    * anti-monotonicity (the prune removes only non-answers). */
  def frequentTriplesSql: String =
    s"""WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
       |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, c.l_partkey AS part_c,
       |  CAST(count(*) AS BIGINT) AS support
       |FROM d a
       |JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |JOIN d c ON a.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
       |GROUP BY 1, 2, 3 HAVING count(*) >= $MinSupport""".stripMargin

  private val LpaRounds = 3

  /** Community detection by SYNCHRONOUS label propagation over the
    * co-purchase graph — the density-grouping member of the graph family
    * (components answers connectivity, PageRank answers centrality; LPA
    * answers "which parts sell together as a cluster").
    *
    * Classic async LPA is run-order-dependent; this is the deterministic
    * formulation: every round, ALL nodes simultaneously adopt the modal
    * label among their neighbors, ties broken by smallest label, for a
    * fixed [[LpaRounds]] rounds. Deterministic inputs + total-order
    * tie-break ⇒ engine-identical assignments, so the unrolled-round SQL
    * oracle hash-matches.
    *
    * Scale: per round one adjacency⋈labels join keyed on the neighbor id
    * and one (node, label) partial agg — both EDGE-set-sized, the
    * components/PageRank loop shape. The modal argmax is
    * `max(struct(cnt, -label))`: no per-node sort, just a partial-agg
    * max. */
  def copurchaseCommunities(spark: SparkSession, dir: String): DataFrame = {
    // HashPartitioning(v) of the adjacency satisfies the round's (v, label)
    // and (v) aggregate clusterings — the per-round aggs run exchange-free
    val adj = copurchaseAdjacency(spark, dir)
    // Fixed LpaRounds = 3 ⇒ the lineage is 3 joins deep and each round's
    // output feeds exactly ONE consumer, so the whole chain evaluates
    // lazily in a single job over the cached adjacency — measured ~2×
    // faster than materializing every round with localCheckpoint (4 job
    // barriers). An unbounded-round variant would re-introduce per-round
    // truncation exactly as Relax.min does.
    var labels = adj.df.select(col("v")).distinct()
      .withColumn("label", col("v"))
    for (_ <- 1 to LpaRounds) {
      // label table is |V|-sized (≤ 2|E| by the memo count) but aggregate-
      // derived — no stats, so Catalyst would plan the round join as a
      // sort-merge and shuffle the cached EDGE set every round. Under the
      // gate the labels broadcast (adj never moves; the only exchange per
      // round is the |V|-sized partial-agg output) and degrade to
      // shuffled-hash on a graph whose vertex set outgrows the threshold.
      labels = adj.df
        .join(graft.Plans.broadcastIfSmall(
          labels.select(col("v").as("n"), col("label")), adj.rows), "n")
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("v"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("v"), (-col("m.nl")).as("label"))
    }
    labels.select(col("v").as("part_id"), col("label"))
  }

  private val BfsRounds = 3

  /** Hop distance from the co-purchase hub (highest-degree part, ties to
    * the smallest id) to everything within [[BfsRounds]] hops — the
    * bounded-frontier BFS / synchronous Bellman-Ford shape ("parts sold
    * within k steps of the best-seller"), the graph family's reachability
    * member alongside components (connectivity), PageRank (centrality)
    * and LPA (density).
    *
    * Each round relaxes ALL current distances through the adjacency at
    * once: `d_r(v) = min(d_{r-1}(v), 1 + min_{n∈N(v)} d_{r-1}(n))` —
    * deterministic (integer min over a set), so the unrolled-CTE oracle
    * matches exactly.
    *
    * Scale: the [[Relax.min]] round — the distance table (at most |V|
    * rows) broadcast into the cached adjacency, one exchange-free min
    * aggregate, truncated; nothing is driver-side. */
  def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    val adj = copurchaseAdjacency(spark, dir)
    Relax.min(adj, hub(adj), col("h") + 1, Relax.Fixed(BfsRounds))
      .select(col("v").as("part_id"), col("h").cast("bigint").as("hops"))
  }

  /** Oracle: the same [[BfsRounds]] synchronous relaxations unrolled. */
  def bfsHopsSql: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT v, min(h) AS h FROM (
         |    SELECT v, h FROM $prev
         |    UNION ALL
         |    SELECT a.v, p.h + 1 AS h FROM adj a JOIN $prev p ON a.n = p.v)
         |  GROUP BY v)"""
    s"""WITH e AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |adj AS (SELECT u AS v, v AS n FROM e UNION ALL SELECT v AS v, u AS n FROM e),
       |deg AS (SELECT v, count(*) AS d FROM adj GROUP BY v),
       |d0 AS (SELECT v, 0 AS h FROM (SELECT v FROM deg ORDER BY d DESC, v ASC LIMIT 1)),
       |${round("d0", "d1")},
       |${round("d1", "d2")},
       |${round("d2", "d3")}
       |SELECT v AS part_id, CAST(h AS BIGINT) AS hops FROM d3""".stripMargin
  }

  private val RaSeeds = 10
  private val RaTopK = 5

  /** Link prediction by the Resource-Allocation index — "parts likely to
    * be bought together NEXT": for each seed part, every non-adjacent part
    * at distance 2 is scored RA(a,b) = Σ_{w ∈ N(a)∩N(b)} 1/deg(w) (Zhou,
    * Lü & Zhang 2009 — RA discounts common neighbors by their degree, so
    * promiscuous hub parts don't dominate), plus the raw common-neighbor
    * count; top-[[RaTopK]] candidates per seed. Each 1/deg term is floored
    * to ppm INDEPENDENTLY (`10⁶ div deg`) before the sum, so the score is
    * an order-free integer sum — engine-identical under any partitioning.
    *
    * Scale shape: this is the QUERY form of link prediction (k seed nodes,
    * like [[graft.similarity.SimilarityQueries]]'s fixed query vectors) —
    * the frontier (seeds × degree, tiny) BROADCASTS against the adjacency
    * for the two hops, so the all-pairs Σ C(deg,2) wedge blowup of
    * whole-graph prediction never materializes; the already-adjacent
    * filter is an anti-join against the same broadcast frontier, and the
    * per-seed top-k is a k-bounded rank over the candidate aggregate.
    * Whole-graph scoring at 100 TB would instead shard seeds into batches
    * of this exact plan. */
  def raLinkPrediction(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val Relax.Adjacency(adj, nAdj) = copurchaseAdjacency(spark, dir)
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("d"))
    // the seed set is the 10 smallest vertex ids — deg already holds every
    // distinct v, so rank it instead of re-scanning adj through a distinct
    val seeds = deg.select(col("v")).orderBy(col("v")).limit(RaSeeds)
    // seed adjacency: ≤ seeds × max-degree rows; bounded by a constant
    // seed count but degree-proportional, so its exact count (one cheap
    // job on the persisted frontier) feeds the gate — a hub seed with 10⁸
    // neighbors must not force a driver-sized broadcast
    val h1 = graft.Caches.persisted(
      adj.join(broadcast(seeds), "v").select(col("v").as("a"), col("n").as("w")))
    val nH1 = graft.Memo.countOf(spark, s"ra-seed-adjacency/$dir", h1)
    val wedges = adj.select(col("v").as("w"), col("n").as("b"))
      .join(graft.Plans.broadcastIfSmall(h1, nH1), "w")
      .filter(col("b") =!= col("a"))
    val cand = wedges.join(
      graft.Plans.broadcastIfSmall(h1.select(col("a"), col("w").as("b")), nH1),
      Seq("a", "b"), "left_anti")
    cand
      .join(graft.Plans.broadcastIfSmall(
        deg.select(col("v").as("w"), col("d").as("dw")), nAdj), "w")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr("1000000L div dw")).as("ra_ppm"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("a"))
        .orderBy(col("ra_ppm").desc, col("common_neighbors").desc, col("b").asc))
        .cast("bigint"))
      .filter(col("rank") <= RaTopK)
      .select(col("a").as("part_id"), col("b").as("candidate"),
        col("common_neighbors"), col("ra_ppm"), col("rank"))
  }

  def raLinkPredictionSql: String =
    s"""WITH e AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |adj AS (SELECT u AS v, v AS n FROM e UNION ALL SELECT v AS v, u AS n FROM e),
       |deg AS (SELECT v, count(*) AS d FROM adj GROUP BY v),
       |seeds AS (SELECT DISTINCT v FROM adj ORDER BY v LIMIT $RaSeeds),
       |h1 AS (SELECT a.v AS a, a.n AS w FROM adj a JOIN seeds s ON a.v = s.v),
       |wedges AS (
       |  SELECT h1.a, h1.w, b.n AS b FROM h1 JOIN adj b ON b.v = h1.w
       |  WHERE b.n <> h1.a),
       |cand AS (
       |  SELECT w2.* FROM wedges w2 ANTI JOIN h1 x ON x.a = w2.a AND x.w = w2.b),
       |scored AS (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS common_neighbors,
       |    CAST(sum(1000000 // d) AS BIGINT) AS ra_ppm
       |  FROM cand JOIN deg ON deg.v = cand.w GROUP BY 1, 2)
       |SELECT a AS part_id, b AS candidate, common_neighbors, ra_ppm,
       |  CAST(rank AS BIGINT) AS rank
       |FROM (SELECT scored.*, row_number() OVER (PARTITION BY a
       |        ORDER BY ra_ppm DESC, common_neighbors DESC, b ASC) AS rank
       |      FROM scored) r
       |WHERE rank <= $RaTopK""".stripMargin

  /** Oracle: the same three synchronous rounds unrolled as CTEs, modal
    * argmax as `row_number` over (count desc, label asc). */
  def copurchaseCommunitiesSql: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT v, label FROM (
         |    SELECT a.v, l.label, count(*) AS cnt,
         |      row_number() OVER (
         |        PARTITION BY a.v ORDER BY count(*) DESC, l.label ASC) AS rn
         |    FROM adj a JOIN $prev l ON a.n = l.v
         |    GROUP BY a.v, l.label)
         |  WHERE rn = 1)"""
    s"""WITH e AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |adj AS (SELECT u AS v, v AS n FROM e UNION ALL SELECT v AS v, u AS n FROM e),
       |l0 AS (SELECT DISTINCT v, v AS label FROM adj),
       |${round("l0", "l1")},
       |${round("l1", "l2")},
       |${round("l2", "l3")}
       |SELECT v AS part_id, label FROM l3""".stripMargin
  }

  private val SsspRounds = 3

  /** Weighted single-source shortest paths (synchronous Bellman–Ford,
    * [[SsspRounds]] relaxation rounds) from the co-purchase hub — the
    * weighted twin of [[bfsHops]]: edge cost is `10⁶ div co_count`
    * (micro-units; frequently co-purchased pairs are "close"), so the
    * output ranks parts by how cheaply the best-seller reaches them
    * through strong baskets, not just how few hops away they are.
    *
    * Exactness: integer weights, integer min-plus relaxation — no floats
    * anywhere, so the unrolled-CTE oracle matches bit-for-bit. Within the
    * fixed round budget the relaxation is exact for paths of ≤ 3 edges
    * (Bellman–Ford's standard partial-result semantics).
    *
    * Scale: the [[bfsHops]] loop ([[Relax.min]]) over a weighted
    * adjacency, which adds one (u,v)-keyed count agg over the same grouped
    * pair expansion [[copurchaseEdges]] uses; the distinct pairs are
    * exactly the co-purchase edges, so their memoized count sizes it. */
  def ssspWeighted(spark: SparkSession, dir: String): DataFrame = {
    val nEdges = copurchaseEdgesCounted(spark, dir)._2
    // persisted: the symmetrizing union consumes `pairs` twice — left
    // lazy, the pair-expansion aggregate evaluates once per side while the
    // adjacency cache materializes
    val pairs = graft.Caches.persisted(orderBaskets(spark, dir)
      .select(explode(expr(PairExpandSql)).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("cnt"))
      .select(unpackU(col("p")).as("u"), unpackV(col("p")).as("v"),
        expr("1000000L div cnt").as("w")))
    val adj = Relax.adjacency(pairs, nEdges)
    Relax.min(adj, hub(adj), col("h") + col("w"), Relax.Fixed(SsspRounds))
      .select(col("v").as("part_id"), col("h").cast("bigint").as("dist_micro"))
  }

  /** Oracle: the same [[SsspRounds]] synchronous min-plus relaxations
    * unrolled. */
  def ssspWeightedSql: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT v, min(h) AS h FROM (
         |    SELECT v, h FROM $prev
         |    UNION ALL
         |    SELECT a.v, p.h + a.w AS h FROM adj a JOIN $prev p ON a.n = p.v)
         |  GROUP BY v)"""
    s"""WITH pe AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
       |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2),
       |we AS (SELECT u, v, CAST(1000000 // cnt AS BIGINT) AS w FROM pe),
       |adj AS (SELECT u AS v, v AS n, w FROM we UNION ALL SELECT v AS v, u AS n, w FROM we),
       |deg AS (SELECT v, count(*) AS d FROM adj GROUP BY v),
       |d0 AS (SELECT v, CAST(0 AS BIGINT) AS h
       |       FROM (SELECT v FROM deg ORDER BY d DESC, v ASC LIMIT 1)),
       |${round("d0", "d1")},
       |${round("d1", "d2")},
       |${round("d2", "d3")}
       |SELECT v AS part_id, CAST(h AS BIGINT) AS dist_micro FROM d3""".stripMargin
  }

  private val HitsRounds = 2
  private val HitsTopK = 20

  /** HITS hubs & authorities (Kleinberg 1999) over the bipartite
    * customer→part purchase graph, [[HitsRounds]] power-iteration rounds:
    * authority(part) = Σ hub(customer) over its buyers, hub(customer) =
    * Σ authority(part) over their basket — "parts bought by broad buyers,
    * buyers of important parts", the mutually-recursive centrality
    * PageRank (a random-walk centrality, [[graft.dedup.DedupQueries
    * .docPagerank]]) does not express. Emits the top-[[HitsTopK]]
    * authority parts.
    *
    * Exactness: HITS normally L2-normalizes each half-step — a float
    * contract. This uses the equivalent max-normalization in ppm fixed
    * point: `score · 10⁶ div max(score)` (argmax/ordering identical to
    * any positive rescaling), keeping every score an int64 so the
    * unrolled oracle hash-matches. Sums stay far under int64: scores are
    * ≤ 10⁶ and bipartite degrees bound each Σ at degree · 10⁶.
    *
    * Scale: per half-step one edge⋈scores join keyed on the score side +
    * one partial agg — edge-set-sized, the PageRank loop shape; the max
    * is a broadcast 1-row aggregate crossJoined back (never a driver
    * round-trip), and each round is checkpoint-truncated because its
    * output feeds both the max and the rescale. */
  def copurchaseHits(spark: SparkSession, dir: String): DataFrame = {
    // bipartite (customer, part) edges by narrow explode of the memoized
    // customer baskets — the collect_set already deduped, so this replaces
    // the per-query fact join + distinct with a cached-array projection
    // cached at data-proportional width keyed on the customer id: the
    // hub half-step's groupBy(c) then runs exchange-free over the cache
    // and every half-step scan is |E|-proportional, not cores-many. The
    // edge count is bounded by Σ|basket| — estimated from the lineitem
    // row count (footer metadata, memoized), an over-count (duplicates
    // collapse), which only ever widens, never starves, the layout.
    val nBip = graft.Memo.countOf(spark, s"n-lineitem/$dir", Tables.lineitem(spark, dir))
    val e = graft.Caches.persisted(
      custBaskets(spark, dir)
        .select(col("c"), explode(col("ps")).as("p"))
        .repartition(graft.Plans.sizeWidth(spark, nBip), col("c")))
    // score tables are catalog-/customer-sized; bounded by parquet METADATA
    // row counts (footer-only jobs, memoized) so the gates cost nothing —
    // ungated, the stats-less score aggregates force sort-merge joins that
    // re-shuffle the cached bipartite edge set every half-step
    val nParts = graft.Memo.countOf(spark, s"n-parts/$dir", Tables.part(spark, dir))
    val nCusts = graft.Memo.countOf(spark, s"n-customers/$dir", Tables.customer(spark, dir))
    var auth = e.select(col("p")).distinct().withColumn("a", lit(1000000L))
    for (_ <- 1 to HitsRounds) {
      // each half-step's raw sums feed BOTH the max scalar and the rescale:
      // persisted, or the e⋈scores join evaluates twice inside one action
      // (the same both-consumers lesson as the bfs/sssp truncation)
      val hRaw = graft.Caches.persisted(
        e.join(graft.Plans.broadcastIfSmall(auth, nParts), "p")
          .groupBy(col("c")).agg(sum(col("a")).as("hr")))
      val hub = hRaw.crossJoin(broadcast(hRaw.agg(max(col("hr")).as("hm"))))
        .select(col("c"), expr("hr * 1000000L div hm").as("h"))
      val aRaw = graft.Caches.persisted(
        e.join(graft.Plans.broadcastIfSmall(hub, nCusts), "c")
          .groupBy(col("p")).agg(sum(col("h")).as("ar")))
      auth = graft.Plans.truncate(
        aRaw.crossJoin(broadcast(aRaw.agg(max(col("ar")).as("am"))))
          .select(col("p"), expr("ar * 1000000L div am").as("a")))
    }
    auth.orderBy(col("a").desc, col("p").asc).limit(HitsTopK)
      .select(col("p").as("part_id"), col("a").as("auth_ppm"))
  }

  /** Oracle: the same [[HitsRounds]] max-normalized half-steps unrolled;
    * DuckDB's BIGINT sum widens to HUGEINT, so every score is cast back
    * to BIGINT at the rescale where Spark's arithmetic stays int64. */
  def copurchaseHitsSql: String = {
    def round(aPrev: String, i: Int): String =
      s"""h${i}r AS (SELECT c, sum(a) AS hr FROM e JOIN $aPrev USING (p) GROUP BY c),
         |h$i AS (SELECT c, CAST(hr * 1000000 // (SELECT max(hr) FROM h${i}r) AS BIGINT) AS h
         |        FROM h${i}r),
         |a${i}r AS (SELECT p, sum(h) AS ar FROM e JOIN h$i USING (c) GROUP BY p),
         |a$i AS (SELECT p, CAST(ar * 1000000 // (SELECT max(ar) FROM a${i}r) AS BIGINT) AS a
         |        FROM a${i}r)"""
    s"""WITH e AS (
       |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |a0 AS (SELECT DISTINCT p, CAST(1000000 AS BIGINT) AS a FROM e),
       |${round("a0", 1)},
       |${round("a1", 2)}
       |SELECT p AS part_id, a AS auth_ppm FROM a2
       |ORDER BY a DESC, p ASC LIMIT $HitsTopK""".stripMargin
  }

  private val CfTopK  = 5
  private val CfMinCo = 2

  /** cos²·ppm in DECIMAL(38,0) — numerator AND denominator promoted before
    * any multiply so neither can wrap int64 (see [[itemCfRecs]]' exactness
    * note); the integral divide's quotient (≤ 10⁶) comes back as bigint.
    * Factored out so OverflowPolicySuite can drive it with above-int64
    * fixtures that the query path cannot reach at test scale. */
  private[graft] val Cos2PpmExpr =
    "cast(co as decimal(38,0)) * co * 1000000 div (cast(di as decimal(38,0)) * dn)"

  /** Item-item collaborative filtering (Sarwar et al. 2001 / the Amazon
    * "customers who bought this also bought" shape): for every part, the
    * top-[[CfTopK]] most similar parts by buyer-set cosine — similarity
    * computed over WHO buys, not what's in one basket, so it complements
    * [[frequentPairs]] (same-order lift) with cross-order taste structure.
    *
    * Exactness: cosine²(u,v) = co² / (deg_u·deg_v) in exact integer ppm —
    * squaring clears the sqrt, and squaring is monotone on [0,1] so the
    * ranking (and the ppm values themselves) are engine-identical with no
    * transcendentals. The numerator co²·10⁶ and denominator di·dn both
    * carry in DECIMAL(38,0) ([[Cos2PpmExpr]]): an int64 numerator would
    * wrap (sign-flipping, not erroring, outside ANSI) past co ≈ 3·10⁶
    * co-buyers — a threshold real co-purchase data crosses. The decimal
    * form is exact to co ≈ 10¹⁶ and ERRORS loudly past 38 digits;
    * OverflowPolicySuite pins the above-int64 region against BigInt
    * ground truth. The integral divide's output (≤ 10⁶) is a plain
    * bigint either way, so results are value-identical in range.
    *
    * Scale shape: the co-buyer counts come from ONE grouped pass over the
    * per-customer sorted part array (the [[copurchaseEdges]] expansion —
    * C(k,2) pairs per customer generated inside a codegen'd projection,
    * never a fact-table self-join); per-user history is cappable
    * DIMSUM-style via `spark.graft.maxBasketSize`
    * ([[cappedCustBaskets]]) — a no-op at TPC-H shape (k ≈ 30), a
    * single-task-blow-up bound at power-law scale. Degrees are a |parts|-sized table
    * attached by equi-join (item-keyed, AQE-broadcastable at dimension
    * scale), and the per-item top-k plans a WindowGroupLimit below the
    * exchange — per-partition top-k before any shuffle. */
  def itemCfRecs(spark: SparkSession, dir: String): DataFrame = {
    // ONE wide shuffle over the joined facts (memoized for the session):
    // collect_set keyed by customer IS the (c, p) dedup — a separate
    // distinct() would shuffle the same rows once more for nothing.
    // Everything downstream (degrees, pairs) runs on the collapsed
    // |customers|-sized basket table. Measured on the r9 bench: 8.9 s →
    // the copurchase-family baseline with the distinct prepass removed.
    val baskets = cappedCustBaskets(spark, dir)
    val deg = baskets.select(explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("deg"))
    // persisted: the symmetrizing union below consumes `co` TWICE — left
    // lazy, the whole pair-expansion aggregate evaluates once per side
    // minimum-support prune, applied AT the partial agg's output before
    // any join/window: singleton co-occurrence is noise (cos² with co=1
    // rewards random low-degree pairs), and it is also 97% of the mass —
    // measured at sf0.1: 12.3M co=1 pairs vs 414k at co ≥ 2, a 30× cut
    // in everything downstream. Every production item-CF prunes support
    // for exactly these two reasons (cf. DIMSUM's similarity threshold).
    // Persisted AFTER the prune (the 414k-row survivor set, never the 12M
    // singletons): the symmetrizing union consumes `co` TWICE — left lazy,
    // the whole pair-expansion aggregate evaluates once per side.
    val co = graft.Caches.persisted(baskets
      .select(explode(expr(PairExpandSql)).as("pr"))
      .groupBy(col("pr")).agg(count(lit(1)).as("co"))
      .filter(col("co") >= CfMinCo)
      .select(unpackU(col("pr")).as("u"), unpackV(col("pr")).as("v"), col("co")))
    val sym = co.select(col("u").as("item"), col("v").as("other"), col("co"))
      .unionByName(co.select(col("v").as("item"), col("u").as("other"), col("co")))
    val scored = sym
      .join(deg.select(col("p").as("item"), col("deg").as("di")), "item")
      .join(deg.select(col("p").as("other"), col("deg").as("dn")), "other")
      .select(col("item"), col("other"), col("co"),
        expr(Cos2PpmExpr).as("cos2_ppm"))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("cos2_ppm").desc, col("other").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= CfTopK)
      .select(col("item").as("item_id"), col("other").as("rec_id"),
        col("co").as("co_buyers"), col("cos2_ppm"))
  }

  /** Oracle: brute-force buyer-set self-join — fine at oracle scale, and
    * value-identical to the engine's grouped pair expansion. */
  def itemCfRecsSql: String =
    s"""WITH e AS (
       |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |deg AS (SELECT p, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
       |co AS (SELECT u, v, co FROM (
       |         SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS co
       |         FROM e a JOIN e b ON a.c = b.c AND a.p < b.p GROUP BY 1, 2)
       |       WHERE co >= $CfMinCo),
       |sym AS (SELECT u AS item, v AS other, co FROM co
       |        UNION ALL SELECT v AS item, u AS other, co FROM co),
       |sc AS (SELECT s.item, s.other, s.co,
       |         CAST(s.co * s.co * 1000000 // (di.deg * dn.deg) AS BIGINT) AS cos2_ppm
       |       FROM sym s JOIN deg di ON di.p = s.item JOIN deg dn ON dn.p = s.other)
       |SELECT item AS item_id, other AS rec_id, co AS co_buyers, cos2_ppm FROM (
       |  SELECT *, row_number() OVER (PARTITION BY item
       |    ORDER BY cos2_ppm DESC, other ASC) AS rk FROM sc)
       |WHERE rk <= $CfTopK""".stripMargin

  private val KcoreK = 3
  private val KcorePeels = 4

  /** k-core decomposition ([[KcoreK]]-core, [[KcorePeels]] synchronous
    * peeling rounds) of the co-purchase graph — the standard dense-substrate
    * extraction: repeatedly delete every vertex with degree < k; what
    * survives is the maximal subgraph where everyone keeps ≥ k neighbors.
    * The peel is what separates genuinely dense co-purchase cores from
    * hub-and-spoke stars that raw degree can't tell apart. Within the fixed
    * round budget the result is the standard partial semantics (every
    * emitted vertex has degree ≥ k among ROUND-survivors — exact once the
    * peel reaches its fixpoint, which the suite checks at test scale).
    *
    * Scale shape: each round is one vertex-keyed partial-agg degree count +
    * two semi-joins of the edge list against the surviving vertex set —
    * edge-set-sized, monotonically shrinking, checkpoint-truncated because
    * each round's edges feed both the degree count and the next filter.
    * No driver round-trips. */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    // the adjacency's HashPartitioning(v) satisfies every round's
    // degree-agg clustering (exchange-free over the cache).
    // K_r nesting (K_{r+1} ⊆ K_r: a round-r survivor needs ≥ k edges among
    // round-(r-1) survivors) means edges_r = edges_0 restricted to
    // K_r-endpoints — so the peel keeps the EDGE table LAZY over the
    // once-persisted base and materializes only the tiny survivor sets:
    // each round is one |E|-proportional scan plus 2r broadcast probes,
    // instead of re-checkpointing 2|E| object rows every round (the r15
    // shape paid a ~22 MB shuffle write + a ~200 MB deserialized cache
    // store per peel at sf0.1; the per-round broadcast that lost THERE
    // lost against AQE's local-read conversion — here there is no edge
    // exchange left to convert).
    val Relax.Adjacency(e0, nAdj) = copurchaseAdjacency(spark, dir)
    var edges = e0
    for (_ <- 1 to KcorePeels) {
      // truncate: the survivor set is |V|-sized and feeds both prunes —
      // checkpointing it keeps the lazy edge plan O(rounds) deep, not 2^r
      val keep = graft.Plans.truncate(
        edges.groupBy(col("v")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= KcoreK).select(col("v")))
      // gate-broadcast: ≤ |V| ≤ 2|E| rows by the memo count; past the
      // limit the probes degrade to shuffled-hash, same semantics
      val keepB = graft.Plans.broadcastIfSmall(keep, nAdj)
      edges = edges.join(keepB, Seq("v"), "left_semi")
        .join(keepB.select(col("v").as("n")), Seq("n"), "left_semi")
    }
    edges.groupBy(col("v")).agg(count(lit(1)).as("core_deg"))
      .select(col("v").as("part_id"), col("core_deg"))
  }

  /** Oracle: the same [[KcorePeels]] synchronous peels unrolled. */
  def kcoreSql: String = {
    def peel(prev: String, cur: String): String =
      s"""${cur}k AS (SELECT v FROM (SELECT v, count(*) AS d FROM $prev GROUP BY v)
         |          WHERE d >= $KcoreK),
         |$cur AS (SELECT e.v, e.n FROM $prev e
         |         WHERE e.v IN (SELECT v FROM ${cur}k)
         |           AND e.n IN (SELECT v FROM ${cur}k))"""
    s"""WITH pe AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
       |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |e0 AS (SELECT u AS v, v AS n FROM pe UNION ALL SELECT v AS v, u AS n FROM pe),
       |${peel("e0", "e1")},
       |${peel("e1", "e2")},
       |${peel("e2", "e3")},
       |${peel("e3", "e4")}
       |SELECT v AS part_id, CAST(count(*) AS BIGINT) AS core_deg
       |FROM e4 GROUP BY v""".stripMargin
  }
}
