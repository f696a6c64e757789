package graft

import org.apache.spark.sql.functions._

import graft.sources.BucketedTables

/** Plan-gates the bucketed storage layout: a join of two tables bucketed on
  * the join key must consume both scans in place — zero Exchange in the
  * join subtree — and still produce exactly the unbucketed join's rows. */
class BucketedJoinSuite extends SparkSpec {

  test("bucketed lineitem⋈orders joins with zero exchange (co-located scans)") {
    val joined = BucketedTables.colocatedJoinFrame(spark, Sf0001)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"expected a co-located shuffle-family join:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed join still exchanges — co-location lost:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"scan does not report bucketed reading:\n$plan")
  }

  test("bucketed scan selects only the probed bucket for a point lookup") {
    // bucket pruning: an equality predicate on the bucket column must scan
    // 1 of NumBuckets buckets, not the whole table. autoBucketedScan turns
    // the bucketed layout OFF for filter-only queries (no join/agg needs
    // the distribution), which also forfeits pruning — disable it here the
    // way a point-lookup-serving session would.
    val (lt, _) = BucketedTables.ensure(spark, Sf0001)
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val probe = spark.table(lt).filter(col("l_orderkey") === 32L)
      val scan = probe.queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(scan)
      assert(m.nonEmpty, s"no bucket-pruning report in scan:\n$scan")
      assert(m.get.group(1).toInt == 1 && m.get.group(2).toInt == BucketedTables.NumBuckets,
        s"expected 1 of ${BucketedTables.NumBuckets} buckets, got ${m.get.group(0)}")
    } finally spark.conf.set(key, old)
  }

  test("co-located join result equals the unbucketed join exactly") {
    val bucketed = BucketedTables.colocatedJoinFrame(spark, Sf0001)
      .select(col("l_orderkey"), col("l_linenumber"), col("o_orderpriority"))
      .collect().map(_.toSeq).toSet
    val plain = Tables.lineitem(spark, Sf0001)
      .join(Tables.orders(spark, Sf0001), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_orderpriority"))
      .collect().map(_.toSeq).toSet
    assert(bucketed == plain)
    assert(bucketed.nonEmpty)
  }

  test("bucketed copies live in the application's own scratch root") {
    // a path shared between applications (the JVM tmpdir) lets two JVMs
    // on one host overwrite each other's copies mid-write
    val root = new java.io.File(org.apache.spark.SparkFiles.getRootDirectory()).getCanonicalPath
    val (lt, ot) = BucketedTables.ensure(spark, Sf0001)
    for (t <- Seq(lt, ot)) {
      val loc = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t)).location
      val path = new java.io.File(loc).getCanonicalPath
      assert(path.startsWith(root + java.io.File.separator),
        s"$t is stored at $path, outside the application root $root")
    }
  }

  test("registered query: only the final tiny agg exchanges, never the join") {
    val q = BucketedTables.orderPriorityRevenue(spark, Sf0001)
    // simple tree mode: each Exchange node prints exactly once
    val tree = q.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(tree).size
    assert(exchanges == 1, s"expected exactly 1 exchange (the agg), got $exchanges:\n$tree")
    assert(tree.indexOf("Exchange") < tree.indexOf("Join"),
      s"the one exchange must sit above the join, not below it:\n$tree")
  }

  test("CDC merge against a bucketed base snapshot: the snapshot never re-shuffles") {
    // events_merge_upsert's scaladoc claims the 100 TB shape: a base
    // snapshot stored bucketed by user_id makes the daily merge a
    // co-located join where ONLY the delta moves. Prove it: write the
    // base profile bucketed, merge the delta, and assert the base side
    // of the join carries no Exchange — the only shuffle is the delta's
    // own aggregation, re-distributed to the bucket layout.
    import graft.events.EventQueries
    val e = Tables.events(spark, Sf0001)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val baseTable = "profile_base_bkt"
    if (!spark.catalog.tableExists(baseTable))
      EventQueries.profileState(e.filter(col("us") < EventQueries.MergeCutUs))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .bucketBy(8, "user_id").sortBy("user_id")
        .option("path", s"${sys.props("java.io.tmpdir")}/graft-bucketed/profile_base")
        .saveAsTable(baseTable)
    val base = spark.table(baseTable)
      .select(col("user_id"), col("n_events").as("b_n"),
        col("last_us").as("b_last"), col("status").as("b_status"))
    val delta = EventQueries.profileState(e.filter(col("us") >= EventQueries.MergeCutUs))
      .select(col("user_id"), col("n_events").as("d_n"),
        col("last_us").as("d_last"), col("status").as("d_status"))
    val merged = base.join(delta, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("d_status"), col("b_status")).as("status"),
        (coalesce(col("b_n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n_events"),
        greatest(col("b_last"), col("d_last")).as("last_us"))
      .filter(col("status") === "signup")
    val tree = merged.queryExecution.executedPlan.toString
    assert(tree.contains("Bucketed: true"), s"base scan not bucketed:\n$tree")
    // only the delta side may shuffle: its partial agg plus (at most) the
    // re-distribution onto the 8-bucket layout; a third exchange would
    // mean the snapshot itself moved
    assert("Exchange".r.findAllIn(tree).size <= 2,
      s"merge re-shuffles beyond the delta side:\n$tree")
    // result parity with the single-table operator
    val direct = EventQueries.mergeUpsert(spark, Sf0001)
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
  }
}
