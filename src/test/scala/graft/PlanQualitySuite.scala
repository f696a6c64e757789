package graft

import org.apache.spark.sql.execution.FormattedMode

/** CI-enforced plan-quality gate: the scale rules SCALING.md documents,
  * asserted on every registered query's physical plan so a regression
  * (accidental cartesian, lost pushdown, un-broadcast dimension) fails the
  * build instead of surfacing at 100 TB. */
class PlanQualitySuite extends SparkSpec {

  // Per-query Try: one broken loader/query must degrade to ITS failure in
  // the analyzes-gate below, not abort this val and blind every other gate
  // (in round 8 a single events-loader regression hid the cartesian/
  // pushdown/broadcast CI for the whole round).
  private lazy val planResults: Map[String, Either[Throwable, String]] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> scala.util.Try(
        fn(spark, Sf0001).queryExecution.explainString(FormattedMode)).toEither
    }
  private lazy val plans: Map[String, String] =
    planResults.collect { case (n, Right(p)) => (n, p) }

  private def plan(name: String): String =
    plans.getOrElse(name, fail(s"$name failed to build — see the analyzes gate"))

  test("every registered query analyzes and plans") {
    val broken = planResults.collect { case (n, Left(e)) =>
      s"$n: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.next()}"
    }.toList.sorted
    assert(broken.isEmpty,
      s"${broken.size}/${planResults.size} queries fail before execution:\n${broken.mkString("\n")}")
  }

  test("every registered query has an oracle (driver records only a weak rows-check without one)") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size, s"duplicate query names: ${names.diff(names.distinct)}")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: ${missing.toSeq.sorted}")
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracle SQL without a query: ${orphaned.toSeq.sorted}")
  }

  test("an unknown query name fails with a message naming it") {
    val e = intercept[NoSuchElementException](SparkEntry.query("no_such_query"))
    assert(e.getMessage.contains("no_such_query"))
  }

  test("no registered query emits nested columns (driver compare crashes on unhashable cells)") {
    // the driver's pandas compare sorts all columns and cannot hash
    // ndarray/dict cells — arrays must be exploded to scalar rows upstream
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      scala.util.Try(fn(spark, Sf0001).schema).toOption.toSeq.flatMap {
        _.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] => s"$name.${f.name}: ${f.dataType.simpleString}"
        }
      }
    }
    assert(offenders.isEmpty, s"nested output columns: $offenders")
  }

  test("no registered query contains a cartesian product") {
    plans.foreach { case (name, p) =>
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product:\n$p")
    }
  }

  // Queries where a SortMergeJoin is the INTENDED 100 TB plan, not a
  // missed broadcast: events_merge_upsert full-outer-merges two
  // aggregates of the same key — both sides arrive sorted on user_id out
  // of their SortAggregates, the merge adds zero exchanges, and at scale
  // neither side (a full snapshot / a full delta) is broadcastable. The
  // companion assertion below pins that stronger property instead.
  // orders_snapshot_diff full-outer-merges two corpus-sized table
  // SNAPSHOTS on their key — by definition neither version broadcasts,
  // and a spill-safe merge is the right 100 TB plan (bucketed snapshot
  // layouts drop even the two key exchanges).
  // name -> max allowed Exchange nodes: one per merge side, plus (for the
  // snapshot diff) the 4-key report rollup ABOVE the merge.
  private val intendedSmj = Map("events_merge_upsert" -> 2, "orders_snapshot_diff" -> 3)

  test("broadcast-able sides broadcast: no sort-merge join anywhere at this sf") {
    // plans with persisted intermediates (InMemoryRelation — the composed
    // corpus_pipeline, the iterative dedup_components) are exempt: the
    // cache hides size stats from the static planner, which then defaults
    // downstream joins to SMJ; AQE re-plans them to broadcast at runtime
    // once the cache's true (tiny) size is known. Every cache-free query
    // must already broadcast statically.
    plans.foreach { case (name, p) =>
      if (!p.contains("InMemoryRelation") && !intendedSmj.contains(name))
        assert(!p.contains("SortMergeJoin"),
          s"$name sort-merge-joins where a broadcast/shuffled-hash was expected:\n$p")
    }
  }

  test("intended sort-merge joins are co-partitioned: no exchange beyond the per-side aggregates") {
    for ((name, maxExchanges) <- intendedSmj) {
      val p = plan(name)
      assert(p.contains("SortMergeJoin"), s"$name no longer sort-merge-joins")
      // tree entries only ("Exchange (6)"), not the detail-section echoes
      val exchanges = "Exchange \\(\\d+\\)".r.findAllIn(p).size
      // one shuffle per merge side (+ any allowed report rollup above);
      // an exchange beyond the budget means the join itself re-shuffles
      assert(exchanges <= maxExchanges,
        s"$name has $exchanges exchanges — the merge join re-shuffles:\n$p")
    }
  }

  test("selective scans push filters into parquet") {
    for (name <- Seq("q1_pricing", "q6_forecast", "q3_shipping", "customers_no_orders")) {
      val p = plan(name)
      assert(p.contains("PushedFilters: ["), s"$name plan lacks pushdown section")
      assert(!p.contains("PushedFilters: []"),
        s"$name pushes no filters into the scan:\n$p")
    }
  }

  test("projection pruning: q1 reads a strict subset of lineitem columns") {
    val m = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan("q1_pricing"))
    assert(m.nonEmpty, "no ReadSchema in q1 plan")
    val cols = m.get.group(1).split(",").length
    assert(cols < 11, s"q1 reads $cols of 11 lineitem columns — pruning lost")
  }

  test("size-gated broadcasts: both strategies plan, and results agree (Plans.broadcastIfSmall)") {
    // Under the default limits every gated side is tiny at this sf, so the
    // attach joins must plan as BroadcastHashJoin — and with the limits
    // forced to 0 (simulating a graph/dimension that outgrew broadcast)
    // the SAME query must re-plan every gated side as ShuffledHashJoin,
    // never fall back to a sort-merge of the probe side, and return the
    // identical rows. This is the executable form of every "past broadcast
    // scale the same plan holds shuffled" design note.
    def explain(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(FormattedMode)
    val tri = graft.graph.GraphQueries.copurchaseTriangles(spark, Sf0001)
    val q5 = graft.relational.RelationalQueries.q5NationRevenue(spark, Sf0001)
    val smallTri = explain(tri)
    assert(smallTri.contains("BroadcastHashJoin"),
      s"triangles: gated degree/adjacency attaches did not broadcast under the default limit:\n$smallTri")
    val smallQ5 = explain(q5)
    assert(smallQ5.contains("BroadcastHashJoin"),
      s"q5: stats-gated dimension attach did not broadcast under the default limit:\n$smallQ5")
    // q2 covers the aggregate-derived attach (`best`, gated by the
    // promoParts stats bound) on top of the dimension-chain gates
    val q2 = graft.relational.RelationalQueries.q2MinCostSupplier(spark, Sf0001)
    val smallQ2 = explain(q2)
    assert(smallQ2.contains("BroadcastHashJoin"),
      s"q2: gated dimension/aggregate attaches did not broadcast under the default limit:\n$smallQ2")
    // materialize BOTH paths' rows driver-side for the equality check —
    // persisting the small result instead would let the CacheManager swap
    // the forced-large plan for the cached one (cache matching ignores
    // join-strategy hints), silently voiding the whole test
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val smallTriRows = rows(tri)
    val smallQ5Rows = rows(q5)
    val smallQ2Rows = rows(q2)
    // drop the small run's query-internal persists (e.g. triangles'
    // `oriented`): cache matching ignores hints, so a live small-path
    // cache entry would be spliced into the large plan and its stored
    // broadcast-join build subtree would show up in the explain
    Caches.drain()
    spark.conf.set(Plans.BroadcastRowLimitKey, "0")
    spark.conf.set(Plans.BroadcastByteLimitKey, "0")
    try {
      val triL = graft.graph.GraphQueries.copurchaseTriangles(spark, Sf0001)
      val largeTri = explain(triL)
      assert(largeTri.contains("ShuffledHashJoin"),
        s"triangles: forced-large gated sides did not plan shuffled-hash:\n$largeTri")
      assert(!largeTri.contains("BroadcastHashJoin"),
        s"triangles: a gated side still broadcasts past the limit:\n$largeTri")
      assert(!largeTri.contains("SortMergeJoin"),
        s"triangles: gate degraded to sort-merge instead of shuffled-hash:\n$largeTri")
      val q5L = graft.relational.RelationalQueries.q5NationRevenue(spark, Sf0001)
      val largeQ5 = explain(q5L)
      assert(largeQ5.contains("ShuffledHashJoin"),
        s"q5: forced-large stats-gated dimension did not plan shuffled-hash:\n$largeQ5")
      val q2L = graft.relational.RelationalQueries.q2MinCostSupplier(spark, Sf0001)
      val largeQ2 = explain(q2L)
      // nation/region stay unconditionally broadcast (constant 25/5 rows
      // at every SF), so only assert the gated sides went shuffled-hash —
      // 3 of them: promoParts, eurSuppliers, and the best-cost aggregate
      val largeQ2Shuffled = "ShuffledHashJoin".r.findAllIn(largeQ2).size
      assert(largeQ2Shuffled >= 3,
        s"q2: expected >=3 shuffled-hash joins past the limit (parts, supp, best), got $largeQ2Shuffled:\n$largeQ2")
      // exact-integer outputs on both queries ⇒ strict multiset equality
      // (q2's unit_cost double is the same cents/quantity division and an
      // associative-commutative min in both plans — bit-identical too)
      assert(rows(triL) == smallTriRows,
        "triangles: shuffled-hash path returns different rows than broadcast path")
      assert(rows(q5L) == smallQ5Rows,
        "q5: shuffled-hash path returns different rows than broadcast path")
      assert(rows(q2L) == smallQ2Rows,
        "q2: shuffled-hash path returns different rows than broadcast path")
    } finally {
      spark.conf.unset(Plans.BroadcastRowLimitKey)
      spark.conf.unset(Plans.BroadcastByteLimitKey)
      Caches.drain()
    }
  }

  test("dimension joins are broadcast in the join-heavy queries") {
    for (name <- Seq("q3_shipping", "q5_nation_revenue", "brand_cheapest", "nation_balance")) {
      assert(plan(name).contains("BroadcastHashJoin"),
        s"$name does not broadcast its dimension side:\n${plan(name)}")
    }
  }

  test("runtime bloom-filter pruning engages when a join must shuffle (the 100 TB fallback)") {
    // At sf0.001 every dimension broadcasts, so the rows above prove the
    // small-data plan; at 100 TB the fact⋈fact joins shuffle instead, and
    // the defense is Spark's runtime bloom filter: the selective side
    // builds a bloom_filter_agg and the big side's scan gets a
    // might_contain filter BEFORE the shuffle. Force the fallback (no
    // broadcast, zero size thresholds) and assert the engine's sessions
    // have the rewrite available and firing.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val orders = Tables.orders(spark, Sf0001)
        .filter(col("o_orderpriority") === "1-URGENT") // selective creation side
      val joined = Tables.lineitem(spark, Sf0001)
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")).as("q"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected on the fact side:\n$plan")
      assert(joined.collect().nonEmpty) // and the filtered plan still answers
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("no unconditional broadcast of scale-proportional dimension scans (statically enforced)") {
    // TPC-H-shaped dimensions GROW with scale factor; a hard-coded
    // broadcast(Tables.customer(...)) is correct at sf0.1 and a driver OOM
    // at SF 10^5 — such attaches must route through Plans.broadcastIfSmall
    // / broadcastIfSmallStats (nation/region are constant-size at every SF
    // and stay exempt). Lexical screen, like the driver-path gate below.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assume(java.nio.file.Files.exists(root), "run from the repo root")
    val banned = Seq("customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings").map(t => s"broadcast(Tables.$t(")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = java.nio.file.Files.readString(p)
        val hits = banned.filter(text.contains)
        if (hits.isEmpty) None else Some(p.toString -> hits)
      }
      .toList
    assert(offenders.isEmpty,
      s"unconditional broadcasts of SF-proportional scans (use Plans.broadcastIfSmallStats): $offenders")
  }

  test("no driver-side data path in any query module (SCALING.md rule 7, statically enforced)") {
    // the one documented exception: MapReduceJob.mergedLines (test/debug
    // helper reproducing the reference harness's merged view). Coverage is
    // a lexical screen, not a type-aware analysis: DataFrame actions that
    // share spellings with Scala-collection methods (.head, .take, .first)
    // are out of scope — the unambiguous materializers are listed here.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assume(java.nio.file.Files.exists(root),
      "run from the repo root (sbt's default test cwd)")
    val banned = Seq(".collect()", ".collectAsList(", ".toLocalIterator", ".toPandas(")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = java.nio.file.Files.readString(p)
        val hits = banned.filter(text.contains)
        if (hits.isEmpty) None else Some(p.toString -> hits)
      }
      .filterNot(_._1.endsWith("core/MapReduceJob.scala"))
      .toList
    assert(offenders.isEmpty, s"driver-side data paths found: $offenders")
  }
}
