package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * One parquet file per table under `$dir/`. All readers go through
  * [[Tables.table]] so filter pushdown / column pruning reach the
  * parquet scan (the scan is declared lazily; Catalyst prunes).
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Schema memo: a bare `spark.read.parquet(path)` runs a footer-
    // inference JOB on every call — one tiny job per table load, paid by
    // every construction of every query (q5 alone loads 4 tables). Infer
    // once per (session, path, freshness token) and pass the schema
    // explicitly, so constructing a query launches no plumbing jobs. The
    // freshness token (mtime + size of the path and its immediate
    // children — a driver-side stat, never a Spark job) invalidates the
    // memo if a tool rewrites a testdata file mid-session (regeneration,
    // schema evolution): a stale entry would otherwise silently read with
    // the old schema.
    val path = s"$dir/$name.parquet"
    val token = freshnessToken(path)
    schemaCache.keySet.removeIf(k => k._1.sparkContext.isStopped ||
      (k._1 == spark && k._2 == path && k._3 != token))
    val schema = schemaCache.computeIfAbsent((spark, path, token),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Cheap change detector for a local parquet path (file or directory of
    * part files): folds name/size/mtime of the path and its direct
    * children. Non-local or missing paths degrade to a constant token —
    * the memo then behaves as the plain (session, path) memo did. */
  private def freshnessToken(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) 31L * f.lastModified + f.length
    else Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      .sortBy(_.getName)
      .foldLeft(f.lastModified) { (acc, k) =>
        31L * (31L * (31L * acc + k.getName.hashCode) + k.length) + k.lastModified
      }
  }

  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Long), org.apache.spark.sql.types.StructType]

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** The events table's `ts` physical encoding has changed across testdata
    * generations (TIMESTAMP(NANOS) historically; plain timestamp[us] since
    * 2026-08-13). Adapt to whatever the file carries so a regeneration in
    * either direction cannot take the whole events family down:
    *   - LongType: the nanos-as-long legacy read (conf set session-wide in
    *     [[graft.plans.GraftSession]] and defensively here) — truncate to
    *     micros; whole-second semantics downstream are unaffected.
    *   - TIMESTAMP_NTZ (timestamp[us], isAdjustedToUTC=false): cast to
    *     TimestampType — the session tz is pinned to UTC, so the wall-clock
    *     value maps to the identical instant and every downstream
    *     window/date_trunc/oracle comparison is unchanged.
    *   - TimestampType: use directly. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(table(spark, dir, "events"))
  }

  /** Shared by the batch loader and the streaming file-source tests, so both
    * paths adapt identically to whichever `ts` encoding the files carry. */
  def normalizeEventsTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _                => df
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  /** [[documents]] with the unsplittable-input fan-out applied
    * ([[graft.Plans.fanOut]] on doc_id): the loader for operators whose
    * per-row compute (tokenize/shingle/fingerprint/regex) dominates the
    * scan. When the source already yields ≥ cores splits — any real
    * deployment — this IS [[documents]], plan-identical; on a
    * single-row-group test file it redistributes rows once so the narrow
    * compute uses every core instead of one (guide §2.5, unsplittable
    * inputs). Decision memoized per (session, dir). */
  def documentsSpread(spark: SparkSession, dir: String): DataFrame =
    graft.Plans.fanOut(documents(spark, dir), col("doc_id"),
      cacheKey = s"documents/$dir")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
