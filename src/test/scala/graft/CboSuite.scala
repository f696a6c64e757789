package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cost-based-optimizer witness: the statistics [[graft.relational
  * .RelationalQueries.ordersProfile]] computes are exactly what Catalyst's
  * CBO wants — this suite closes the loop by actually FEEDING stats to the
  * catalog (ANALYZE TABLE … FOR COLUMNS) and pinning that they change a
  * 3-way join's order. At 100 TB join order is the difference between
  * hours and minutes; the engine must be able to hand Catalyst the
  * evidence, not just print it.
  *
  * The fixture writes managed copies of three testdata tables into the
  * (gitignored) test warehouse, analyzes them, and builds the q9-shaped
  * join `(lineitem ⋈ supplier) ⋈ σ_brand(part)` in a deliberately bad
  * syntactic order: the selective part filter is LAST, so the unreordered
  * plan joins the full fact table to every supplier before the 1/25-brand
  * prune. With CBO + joinReorder + the column histograms, Catalyst must
  * move the selective part join off the tail — and the result must be
  * byte-identical either way. */
class CboSuite extends SparkSpec {

  private val db = "graft_cbo"

  private def leafOrder(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectLeaves().map(_.toString)
      .map { s =>
        Seq("lineitem_t", "supplier_t", "part_t").find(s.contains).getOrElse("?")
      }

  private def q9Shape(): DataFrame =
    spark.table(s"$db.lineitem_t")
      .join(spark.table(s"$db.supplier_t"), col("l_suppkey") === col("s_suppkey"))
      .join(spark.table(s"$db.part_t").filter(col("p_brand") === "Brand#11"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).cast("bigint").as("qty"))

  test("ANALYZE-fed column stats reorder a 3-way join under CBO, result unchanged") {
    val confs = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      // force every join strategy decision through stats, not hints
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    try {
      for (t <- Seq("lineitem", "supplier", "part")) {
        Tables.table(spark, Sf0001, t).write.mode("overwrite")
          .saveAsTable(s"$db.${t}_t")
      }
      spark.sql(s"ANALYZE TABLE $db.lineitem_t COMPUTE STATISTICS FOR COLUMNS l_suppkey, l_partkey, l_quantity")
      spark.sql(s"ANALYZE TABLE $db.supplier_t COMPUTE STATISTICS FOR COLUMNS s_suppkey, s_nationkey")
      spark.sql(s"ANALYZE TABLE $db.part_t COMPUTE STATISTICS FOR COLUMNS p_partkey, p_brand")

      val plainOrder = leafOrder(q9Shape()) // CBO off: syntactic order
      val plainRows = q9Shape().collect().map(_.toSeq.mkString("|")).sorted

      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // stats reached the optimizer: the analyzed row count is visible on
      // the relation's plan, not just in the catalog
      val rc = spark.table(s"$db.part_t").queryExecution.optimizedPlan.stats.rowCount
      assert(rc.isDefined && rc.get.toLong ==
        Tables.table(spark, Sf0001, "part").count(),
        s"ANALYZE row count did not reach the optimizer: $rc")
      val cboOrder = leafOrder(q9Shape())
      val cboRows = q9Shape().collect().map(_.toSeq.mkString("|")).sorted

      assert(plainOrder == Seq("lineitem_t", "supplier_t", "part_t"),
        s"fixture lost its point — syntactic order already optimal: $plainOrder")
      assert(cboOrder != plainOrder,
        s"CBO did not reorder the join despite column stats: $cboOrder")
      // the selective part join must leave the tail position
      assert(cboOrder.last != "part_t",
        s"selective side still joins last under CBO: $cboOrder")
      assert(cboRows.toSeq == plainRows.toSeq,
        "join reorder changed the result")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("CBO pulls the selective dimension out of a 5-way star's tail") {
    // A snowflake chain in the WORST syntactic order: the fact table
    // joins its biggest dimensions first and the 1/5-selective region
    // filter sits at the very end. With ANALYZE stats + joinReorder the
    // optimizer must move the selective branch off the tail — the
    // decision that separates hours from minutes on a 100 TB fact table.
    val db2 = "graft_cbo_star"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db2")
    def leafOrder5(df: DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collectLeaves().map(_.toString)
        .map { s =>
          Seq("lineitem_t", "orders_t", "supplier_t", "nation_t", "region_t")
            .find(s.contains).getOrElse("?")
        }
    def star(): DataFrame =
      spark.table(s"$db2.lineitem_t")
        .join(spark.table(s"$db2.orders_t"), col("l_orderkey") === col("o_orderkey"))
        .join(spark.table(s"$db2.supplier_t"), col("l_suppkey") === col("s_suppkey"))
        .join(spark.table(s"$db2.nation_t"), col("s_nationkey") === col("n_nationkey"))
        .join(spark.table(s"$db2.region_t").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).cast("bigint").as("qty"))
    val confs = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      for (t <- Seq("lineitem", "orders", "supplier", "nation", "region"))
        Tables.table(spark, Sf0001, t).write.mode("overwrite").saveAsTable(s"$db2.${t}_t")
      spark.sql(s"ANALYZE TABLE $db2.lineitem_t COMPUTE STATISTICS FOR COLUMNS l_orderkey, l_suppkey, l_quantity")
      spark.sql(s"ANALYZE TABLE $db2.orders_t COMPUTE STATISTICS FOR COLUMNS o_orderkey")
      spark.sql(s"ANALYZE TABLE $db2.supplier_t COMPUTE STATISTICS FOR COLUMNS s_suppkey, s_nationkey")
      spark.sql(s"ANALYZE TABLE $db2.nation_t COMPUTE STATISTICS FOR COLUMNS n_nationkey, n_regionkey, n_name")
      spark.sql(s"ANALYZE TABLE $db2.region_t COMPUTE STATISTICS FOR COLUMNS r_regionkey, r_name")
      val plainOrder = leafOrder5(star())
      val plainRows = star().collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(plainOrder.last == "region_t",
        s"fixture lost its point — selective region not syntactically last: $plainOrder")
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val cboOrder = leafOrder5(star())
      assert(cboOrder != plainOrder,
        s"CBO did not reorder the 5-way star despite stats: $cboOrder")
      assert(cboOrder.last != "region_t",
        s"selective region still joins last under CBO: $cboOrder")
      val cboRows = star().collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(cboRows == plainRows, "star reorder changed the result")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      spark.sql(s"DROP DATABASE IF EXISTS $db2 CASCADE")
    }
  }
}
