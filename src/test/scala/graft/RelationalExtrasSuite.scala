package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.DedupQueries
import graft.relational.RelationalQueries

/** Property tests for the round-3 relational additions (anti join, argmin
  * window, scalar subquery, exact moment statistics, deterministic median)
  * and the SimHash hamming-pair operator, at sf0.001. */
class RelationalExtrasSuite extends SparkSpec {

  test("customers_no_orders: anti join is disjoint from the urgent-order customer set") {
    val urgent = Tables.orders(spark, Sf0001)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct().collect().map(_.getLong(0)).toSet
    val rows = RelationalQueries.customersNoOrders(spark, Sf0001).collect()
    assert(rows.map(_.getLong(1)).sum > 0) // non-trivial at this sf
    rows.foreach(r => assert(!urgent.contains(r.getLong(2)))) // min_custkey not urgent
    val total = rows.map(_.getLong(1)).sum
    val nCust = Tables.customer(spark, Sf0001).count()
    assert(total == nCust - Tables.customer(spark, Sf0001)
      .filter(col("c_custkey").isin(urgent.toSeq: _*)).count())
  }

  test("brand_cheapest: exactly one row per brand, and it is that brand's minimum price") {
    val rows = RelationalQueries.brandCheapest(spark, Sf0001).collect()
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
    val mins = Tables.lineitem(spark, Sf0001)
      .join(Tables.part(spark, Sf0001), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand")).agg(min(col("l_extendedprice")).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows.length == mins.size)
    rows.foreach(r => assert(r.getDouble(4) == mins(r.getString(0))))
  }

  test("orders_above_avg: partitions orders strictly above the exact mean") {
    val ord = Tables.orders(spark, Sf0001)
    val nAbove = RelationalQueries.ordersAboveAvg(spark, Sf0001)
      .collect().map(_.getLong(1)).sum
    // recompute the threshold exactly the way the query does
    val (sumCents, n) = {
      val r = ord.agg(
        sum(round(col("o_totalprice") * 100).cast("bigint")), count(lit(1))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val expected = ord
      .filter(round(col("o_totalprice") * 100).cast("bigint") * n > sumCents).count()
    assert(nAbove == expected && nAbove > 0 && nAbove < ord.count())
  }

  test("lineitem_stats: exact integer-sum moments agree with built-in stddev/corr to 1e-9") {
    val exact = RelationalQueries.lineitemStats(spark, Sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    val builtin = Tables.lineitem(spark, Sf0001)
      .groupBy(col("l_returnflag"))
      .agg(stddev(col("l_quantity")).as("s"), corr(col("l_quantity"), col("l_discount")).as("c"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(exact.keySet == builtin.keySet && exact.nonEmpty)
    exact.foreach { case (k, r) =>
      assert(math.abs(r.getDouble(4) - builtin(k)._1) < 1e-9) // std_qty
      assert(math.abs(r.getDouble(5) - builtin(k)._2) < 1e-9) // corr_qty_disc
    }
  }

  test("median_price: matches a driver-side sorted median per group") {
    val got = RelationalQueries.medianPrice(spark, Sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val groups = Tables.lineitem(spark, Sf0001)
      .select(col("l_returnflag"), col("l_extendedprice")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    assert(got.keySet == groups.keySet)
    groups.foreach { case (k, vs) =>
      val cents = vs.map(v => math.round(v * 100))
      val n = cents.length
      val picked =
        if (n % 2 == 1) Seq(cents((n - 1) / 2))
        else Seq(cents(n / 2 - 1), cents(n / 2))
      val want = picked.sum.toDouble / picked.length / 100.0
      assert(got(k) == want)
    }
  }

  test("price_quantiles: matches driver-side type-1 quantiles per group") {
    val got = RelationalQueries.priceQuantiles(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val groups = Tables.lineitem(spark, Sf0001)
      .select(col("l_returnflag"), col("l_extendedprice")).collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(r => math.round(r.getDouble(1) * 100)).sorted).toMap
    assert(got.size == groups.size * 4)
    for ((rf, cents) <- groups; q <- Seq(0.25, 0.5, 0.75, 0.99)) {
      val r = math.max(1L, math.ceil(q * cents.length).toLong).toInt
      assert(got((rf, q)) == cents(r - 1) / 100.0, s"($rf, $q)")
    }
  }

  test("dedup_components: labels equal a driver-side union-find over the pair edges") {
    val pairs = DedupQueries.dedupNear(spark, Sf0001)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // driver-side union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
      .groupBy(_._2).flatMap { case (_, m) =>
        val canon = m.keys.min
        m.keys.map(_ -> canon)
      }
    val got = DedupQueries.dedupComponents(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.view.mapValues(_._1).toMap == want)
    // component sizes consistent with the labels
    got.groupBy(_._2._1).foreach { case (canon, ms) =>
      assert(ms.values.forall(_._2 == ms.size))
      assert(ms.keys.min == canon) // canonical IS the minimum member
    }
  }

  /** The until-stable label loops whose rounds truncate through
    * `DedupQueries.truncate`, so they follow its reliable-checkpoint mode. */
  private val truncatingLoops = Map[String, (SparkSession, String) => DataFrame](
    "dedup_components" -> DedupQueries.dedupComponents,
    "source_clusters" -> graft.text.CorpusStats.sourceClusters)

  test("dedup_components: reliable mode without a checkpoint dir fails fast") {
    // Must run before the reliable-mode test below: setCheckpointDir is
    // one-way on the shared session. Skip (vacuous) if one is already set.
    assume(spark.sparkContext.getCheckpointDir.isEmpty)
    spark.conf.set(DedupQueries.ReliableCheckpointConf, "true")
    try {
      for ((name, q) <- truncatingLoops) {
        val e = intercept[IllegalArgumentException](q(spark, Sf0001).collect())
        assert(e.getMessage.contains("setCheckpointDir"), s"$name: ${e.getMessage}")
      }
    } finally spark.conf.unset(DedupQueries.ReliableCheckpointConf)
  }

  test("dedup_components: reliable-checkpoint mode produces identical labels") {
    // The deployment knob for executor-loss tolerance: rounds truncate via
    // reliable checkpoint() to a cluster-FS dir instead of localCheckpoint.
    // Same dataflow, same unique fixpoint — assert equal results.
    def rows(q: (SparkSession, String) => DataFrame): Set[String] =
      q(spark, Sf0001).collect().map(_.toSeq.mkString("|")).toSet
    val base = truncatingLoops.map { case (name, q) => name -> rows(q) }
    val ckptDir = Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptDir)
    spark.conf.set(DedupQueries.ReliableCheckpointConf, "true")
    try {
      for ((name, q) <- truncatingLoops)
        assert(rows(q) == base(name), s"$name: reliable-mode rows differ")
      // the rounds actually wrote through the reliable dir
      assert(Files.list(Paths.get(ckptDir)).iterator().hasNext)
    } finally spark.conf.unset(DedupQueries.ReliableCheckpointConf)
  }

  test("events_funnel: stages are ordered and monotonically shrinking") {
    val r = graft.events.EventQueries.funnel(spark, Sf0001).collect()(0)
    val (v, c, p) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(v >= c && c >= p)
    assert(v > 0 && c > 0) // the funnel is non-trivial at this sf
  }

  test("events_range_join: bin-join equals the naive per-pair count, zero rows kept") {
    val ev = Tables.events(spark, Sf0001)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts) div 1000").as("ms")).collect()
    val views = ev.filter(_.getString(2) == "view")
      .map(r => (r.getLong(0), r.getLong(3)))
    val expected = ev.filter(_.getString(2) == "purchase").map { p =>
      val (u, id, ms) = (p.getLong(0), p.getLong(1), p.getLong(3))
      (id, u, views.count { case (vu, vms) =>
        vu == u && vms >= ms - 3600000L && vms < ms }.toLong)
    }.toSet
    val got = graft.events.EventQueries.rangeJoinViews(spark, Sf0001).collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getLong(2))).toSet
    assert(got == expected)           // exact half-open window semantics
    assert(got.exists(_._3 == 0L))    // zero-view purchases survive the left join
  }

  test("dedup_simhash_pairs: equals brute force (banding is recall-lossless)") {
    val sigs = DedupQueries.simhashN(spark, Sf0001, 15).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, ha) <- sigs; (b, hb) <- sigs if a < b
      ham = java.lang.Long.bitCount(ha ^ hb) if ham <= 3
    } yield (a, b, ham.toLong)).toSet
    val got = DedupQueries.simhashPairs(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute)
    assert(got.nonEmpty) // exact dups exist in testdata → hamming-0 pairs
  }

  test("part_skyline: window formulation equals the textbook NOT-EXISTS dominance definition") {
    val pairs = Tables.part(spark, Sf0001)
      .select(round(col("p_retailprice") * 100).cast("bigint").as("price_cents"),
        col("p_size").cast("bigint").as("p_size"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    // brute force: p survives iff nothing dominates it (<=, >=, one strict)
    val brute = pairs.filter { case (pr, sz) =>
      !pairs.exists { case (pr2, sz2) =>
        pr2 <= pr && sz2 >= sz && (pr2 < pr || sz2 > sz)
      }
    }.toSet
    val got = RelationalQueries.partSkyline(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute)
    assert(got.nonEmpty)
    // frontier is strictly monotone: price up => size up
    val sorted = got.toSeq.sortBy(_._1)
    sorted.zip(sorted.tail).foreach { case ((_, s1), (_, s2)) => assert(s2 > s1) }
  }

  test("orders_profile: one row per column, consistent counts, exact distincts, no Expand") {
    val df = RelationalQueries.ordersProfile(spark, Sf0001)
    val rows = df.collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq(
      "o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority",
      "o_orderstatus", "o_totalprice"))
    val nOrders = Tables.orders(spark, Sf0001).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") == nOrders)
      assert(r.getAs[Long]("n_null") == 0L) // TPC-H-ish data carries no nulls
      assert(r.getAs[Long]("n_distinct") <= nOrders)
    }
    val byName = rows.map(r => r.getString(0) -> r).toMap
    // o_orderkey is the primary key: distinct == rows; min/max bracket it
    assert(byName("o_orderkey").getAs[Long]("n_distinct") == nOrders)
    assert(byName("o_orderstatus").getAs[Long]("n_distinct") <= 3)
    assert(byName("o_totalprice").getAs[Double]("min_num")
      <= byName("o_totalprice").getAs[Double]("max_num"))
    // midnight-dated timestamps profile as integral epoch seconds
    val dMin = byName("o_orderdate").getAs[Double]("min_num")
    assert(dMin == math.floor(dMin) && dMin % 86400 == 0)
    // exact distincts must come from re-aggregation, not multi-countDistinct
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"profile must re-aggregate, not Expand the scan per column:\n$plan")
  }

  test("table_digest: partition-independent, and a one-row perturbation flips it") {
    val digest = RelationalQueries.tableDigest(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(digest.keySet == Set("lineitem", "orders"))
    // same rows through a different physical layout must digest identically:
    // recompute the lineitem digest from a deliberately reshuffled copy
    val reshuffled = Tables.lineitem(spark, Sf0001).repartition(7, col("l_partkey"))
    val out = java.nio.file.Files.createTempDirectory("graft-digest").toString
    reshuffled.write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    Tables.orders(spark, Sf0001).write.mode("overwrite").parquet(s"$out/orders.parquet")
    val again = RelationalQueries.tableDigest(spark, out).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(again == digest, "digest must not depend on row order or partitioning")
    // perturb one row's quantity by one cent: both digests must move
    val firstRow = Tables.lineitem(spark, Sf0001)
      .orderBy(col("l_orderkey"), col("l_linenumber")).limit(1)
      .select(col("l_orderkey"), col("l_linenumber")).head()
    val perturbed = Tables.lineitem(spark, Sf0001)
      .withColumn("l_quantity",
        when(col("l_orderkey") === firstRow.getLong(0)
          && col("l_linenumber") === firstRow.getInt(1),
          col("l_quantity") + 0.01).otherwise(col("l_quantity")))
    perturbed.write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    val moved = RelationalQueries.tableDigest(spark, out).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(moved("orders") == digest("orders"))
    assert(moved("lineitem")._1 == digest("lineitem")._1) // same row count
    assert(moved("lineitem")._2 != digest("lineitem")._2, "xor digest must flip")
    assert(moved("lineitem")._3 != digest("lineitem")._3, "sum digest must flip")
  }

  test("part_zorder: buckets are boxes — every bucket's area is a shrinking fraction of the global box") {
    val rows = RelationalQueries.partZorder(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val gMinS = rows.map(_.getLong(2)).min; val gMaxS = rows.map(_.getLong(3)).max
    val gMinP = rows.map(_.getLong(4)).min; val gMaxP = rows.map(_.getLong(5)).max
    val globalArea = (gMaxS - gMinS + 1).toDouble * (gMaxP - gMinP + 1).toDouble
    val totalParts = rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      val area = (r.getLong(3) - r.getLong(2) + 1).toDouble *
        (r.getLong(5) - r.getLong(4) + 1).toDouble
      val share = r.getLong(1).toDouble / totalParts
      // a z-range holding x% of the rows must span far less than the whole
      // space — the clustering property; 4x slack over the ideal box
      assert(area <= globalArea * (share * 4 + 0.25),
        s"zbucket ${r.getLong(0)} box too loose: area $area of $globalArea at share $share")
    }
  }

  test("shares and ABC: shares sum to ~1e6 per parent; ABC classes partition revenue at the 80/95 cuts") {
    import spark.implicits._
    val shares = RelationalQueries.nationRevenueShare(spark, Sf0001)
      .select("r_name", "n_name", "cents", "share_of_region_ppm", "share_of_world_ppm")
      .as[(String, String, Long, Long, Long)].collect()
    assert(shares.nonEmpty)
    // floor-division loss < |children| ppm per parent
    shares.groupBy(_._1).foreach { case (r, ns) =>
      val s = ns.map(_._4).sum
      assert(s <= 1000000 && s > 1000000 - ns.length, s"region $r shares sum $s")
    }
    val w = shares.map(_._5).sum
    assert(w <= 1000000 && w > 1000000 - shares.length)
    val abc = RelationalQueries.partAbcClass(spark, Sf0001)
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(abc.keySet == Set("A", "B", "C"))
    val total = abc.values.map(_._2).sum
    // A carries <= 80% + one part's worth of slack; A+B <= 95% likewise;
    // and A must hold far fewer parts than its revenue share (Pareto)
    assert(abc("A")._2 * 100 <= total * 80 + abc("A")._2 / abc("A")._1 * 100)
    assert(abc.values.map(_._1).sum == Tables.lineitem(spark, Sf0001)
      .select("l_partkey").distinct().count())
  }

  test("gini: in [0, 1e6), zero for a uniform fixture, matches a driver-side rearrangement sum") {
    import spark.implicits._
    val out = RelationalQueries.nationRevenueGini(spark, Sf0001)
      .select("nation_key", "n_customers", "total_cents", "gini_ppm")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (nk, n, tot, g) =>
      assert(g >= 0 && g < 1000000, s"nation $nk gini $g out of range")
      assert(n > 0 && tot > 0)
    }
    // driver-side recount for the largest nation
    val (nk, _, _, gExpect) = out.maxBy(_._2)
    val xs = Tables.customer(spark, Sf0001)
      .filter(col("c_nationkey") === nk)
      .join(Tables.orders(spark, Sf0001)
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents")),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), coalesce(col("cents"), lit(0L)))
      .as[(Long, Long)].collect().sortBy(r => (r._2, r._1)).map(_._2)
    val n = xs.length.toLong
    val sx = xs.sum
    val six = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    assert(gExpect == (2 * six - (n + 1) * sx) * 1000000L / (n * sx))
  }

  test("information profile: entropy within [0, ln k]; MI bounded by the smaller entropy; both match a driver recount") {
    import spark.implicits._
    val ent = RelationalQueries.ordersEntropy(spark, Sf0001)
      .select("col_name", "n_distinct", "n_rows", "entropy_micro")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    ent.values.foreach { case (c, k, n, h) =>
      assert(h >= 0 && h <= math.round(math.log(k.toDouble) * 1e6) + 1, s"$c entropy $h out of [0, ln $k]")
      // driver recount with identical snapping
      val counts = Tables.orders(spark, Sf0001).groupBy(col(c)).count()
        .as[(String, Long)].collect().map(_._2)
      val num = n * math.round(math.log(n.toDouble) * 1e6) -
        counts.map(cc => cc * math.round(math.log(cc.toDouble) * 1e6)).sum
      assert(h == num / n, s"$c entropy mismatch")
    }
    val mi = RelationalQueries.ordersMutualInfo(spark, Sf0001)
      .select("mi_micro").as[Long].collect().head
    Caches.drain()
    // MI <= min marginal entropy; >= 0 up to micro-rounding slack
    assert(mi <= ent.values.map(_._4).min)
    assert(mi >= -30, s"MI $mi more negative than rounding slack allows")
  }
}
