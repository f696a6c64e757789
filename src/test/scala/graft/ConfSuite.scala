package graft

import org.apache.spark.sql.functions.col

/** The `spark.graft.*` reader: defaults when unset, and a malformed value
  * of every key type fails with a message naming the key and the value. */
class ConfSuite extends SparkSpec {

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body
    finally spark.conf.unset(key)
  }

  test("unset keys yield their defaults; well-formed values parse") {
    val df = spark.range(1).toDF("v")
    assert(Plans.broadcastRowLimit(df) == Plans.DefaultBroadcastRowLimit)
    withConf(Plans.BroadcastRowLimitKey, "17")(assert(Plans.broadcastRowLimit(df) == 17L))
    withConf(Plans.RowsPerPartitionKey, "10")(assert(Plans.sizeWidth(spark, 25L) == 3))
  }

  test("a malformed value fails with an IllegalArgumentException naming the key") {
    val df = spark.range(1).toDF("v")
    val cases: Seq[(String, String, () => Any)] = Seq(
      (Plans.BroadcastRowLimitKey, "4M", () => Plans.broadcastRowLimit(df)), // long
      (Plans.BroadcastByteLimitKey, "1.5e8", () => Plans.statsFitsBroadcast(df)),
      (Plans.RowsPerPartitionKey, "", () => Plans.sizeWidth(spark, 10L)),
      (Plans.FanOutKey, "yes", () => Plans.fanOut(df, col("v"))), // boolean
      ("spark.graft.maxBasketSize", "many", // int
        () => graph.GraphQueries.cappedCustBaskets(spark, Sf0001)),
      (dedup.DedupQueries.ReliableCheckpointConf, "on",
        () => dedup.DedupQueries.truncate(df)))
    for ((key, bad, read) <- cases) {
      val e = withConf(key, bad)(intercept[IllegalArgumentException](read()))
      assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"),
        s"$key: message does not name the key and value: ${e.getMessage}")
    }
  }

  test("an environment setting that is not a positive integer fails naming the setting") {
    assert(Conf.positiveInt("SPARK_GRAFT_CPUS", None, 4) == 4)
    assert(Conf.positiveInt("SPARK_GRAFT_REPS", Some("7"), 5) == 7)
    for (name <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_REPS"); bad <- Seq("abc", "0", "-2")) {
      val e = intercept[IllegalArgumentException](Conf.positiveInt(name, Some(bad), 4))
      assert(e.getMessage == s"$name must be a positive integer, got '$bad'")
    }
  }
}
