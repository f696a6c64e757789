package graft.core

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's programming model (`/root/reference/src/mr/worker.go:39`):
  * a job is a user map function `(filename, contents) → [(key, value)]` and a
  * user reduce function `(key, [values]) → value`, over whole text files,
  * producing sorted `"key value"` text lines.
  *
  * This facade reproduces that contract on Spark primitives, one stage per
  * reference operator (SURVEY.md §2.1):
  *  - F1 whole-file scan → `wholetext` text source + `input_file_name()`
  *  - F2 generic map     → `mapf` per file, its output grouped by key
  *    (grouping, not combining: every value is kept, in emission order)
  *  - F4/F5 shuffle      → `partitionBy(new HashPartitioner(nReduce))`:
  *    the reference's `ihash(key) % nReduce` role, exactly nReduce reduce
  *    tasks, no aggregator and no key ordering
  *  - F6/F7 group+reduce → per reduce partition, a hash map from key to all
  *    its values, then `reducef` once per key — values for one key are
  *    materialized exactly like the reference's `[]string`
  *  - F8 text sink       → `"key value"` lines via [[writeText]]
  *
  * Like the reference's reduce task, one reduce partition is held in task
  * memory: the map cannot spill between keys. Raise `nReduce` to shrink a
  * partition. The reference's F9–F16 (scheduling, liveness, retry, barrier,
  * RPC) are Spark's scheduler; nothing to reimplement. Unlike the
  * reference, reduces that are commutative monoids should prefer
  * [[runAggregated]], which lowers to a partial-aggregable Spark aggregate —
  * at 100 TB the holistic path ships every value through the shuffle, the
  * aggregated path ships one partial per map partition.
  */
final class MapReduceJob(
    val mapf: (String, String) => IterableOnce[(String, String)],
    val reducef: (String, Seq[String]) => String,
    val nReduce: Int = 10) extends Serializable {
  require(nReduce >= 1, s"nReduce must be a positive integer, got $nReduce")

  /** Same job with a different reduce-partition count. */
  def withNReduce(n: Int): MapReduceJob = new MapReduceJob(mapf, reducef, n)

  /** Run map → shuffle → reduce; returns (key, value) rows in exactly
    * `nReduce` partitions, key k in partition
    * `new HashPartitioner(nReduce).getPartition(k)`.
    *
    * This one facade deliberately drops to the RDD layer: the reference
    * contract is row-at-a-time opaque functions with an EXACT reduce-task
    * count (`nReduce`), which `partitionBy` expresses directly — a Dataset
    * shuffle would follow spark.sql.shuffle.partitions and ignore nReduce.
    * Declarative queries belong in the DataFrame modules, not here. */
  def run(spark: SparkSession, inputGlob: String): Dataset[(String, String)] = {
    import spark.implicits._
    val reduced = MapReduceJob.wholeFiles(spark, inputGlob).rdd
      .flatMap { case (name, contents) => MapReduceJob.groupMapOutput(mapf(name, contents)) }
      .partitionBy(new HashPartitioner(nReduce))
      .mapPartitions(MapReduceJob.reducePartition(reducef), preservesPartitioning = true)
    spark.createDataset(reduced)
  }

  /** Run and write the reference's text-sink format (`"%v %v\n"` per
    * `/root/reference/src/mr/worker.go:189`), one file per reduce partition,
    * through Spark's committer (atomic, unlike the reference's bare
    * `os.Create`). */
  def runToText(spark: SparkSession, inputGlob: String, outDir: String): Unit =
    MapReduceJob.writeText(run(spark, inputGlob), outDir)
}

object MapReduceJob {

  /** Map side: one map call's pairs as one `(key, values)` group per
    * distinct key, keys in first-emission order and each key's values in
    * emission order. */
  private def groupMapOutput(pairs: IterableOnce[(String, String)]): Iterator[(String, Array[String])] = {
    val groups = new java.util.LinkedHashMap[String, ArrayBuffer[String]]()
    pairs.iterator.foreach { case (k, v) =>
      groups.computeIfAbsent(k, _ => new ArrayBuffer[String](1)) += v
    }
    groups.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue.toArray))
  }

  /** Reduce side: gathers every group of a reduce partition by key, then
    * calls `reducef` once per key on all of its values. */
  private def reducePartition(reducef: (String, Seq[String]) => String)(
      groups: Iterator[(String, Array[String])]): Iterator[(String, String)] = {
    val byKey = new java.util.HashMap[String, ArrayBuffer[String]]()
    groups.foreach { case (k, vs) =>
      byKey.computeIfAbsent(k, _ => new ArrayBuffer[String](vs.length)) ++= vs
    }
    byKey.entrySet.iterator.asScala.map { e =>
      (e.getKey, reducef(e.getKey, ArraySeq.unsafeWrapArray(e.getValue.toArray)))
    }
  }

  /** F1: each input file as one `(basename, contents)` row. The basename is
    * URI-decoded (`input_file_name()` yields percent-encoded URIs, so
    * "my doc.txt" would otherwise surface as "my%20doc.txt"). Keying by
    * basename matches the parity harness's view of the corpus; same-named
    * files in different directories would collapse — pass distinct names.
    * (`wholetext` is correct for the parity corpus; 100 TB inputs use the
    * columnar sources instead — SURVEY.md §7.4.4.) */
  def wholeFiles(spark: SparkSession, inputGlob: String): Dataset[(String, String)] = {
    import spark.implicits._
    // input_file_name() percent-encodes, but leaves '+' literal; url_decode
    // alone would also turn that literal '+' into a space (form-encoding
    // semantics), so protect it as %2B first — "a+b.txt" round-trips.
    spark.read.option("wholetext", value = true).text(inputGlob)
      .select(
        url_decode(regexp_replace(regexp_extract(input_file_name(), "([^/]+)$", 1),
          "\\+", "%2B")).as("file"),
        col("value"))
      .as[(String, String)]
  }

  /** F8: `"key value"` text lines through the output committer. */
  def writeText(rows: Dataset[(String, String)], outDir: String): Unit =
    rows.select(concat_ws(" ", col("_1"), col("_2")).as("value"))
      .write.mode("overwrite").text(outDir)

  /** The merged, sorted view the reference harness checks
    * (`sort mr-out* | grep .` — `/root/reference/src/main/test-mr.sh:103`). */
  def mergedLines(rows: Dataset[(String, String)]): Seq[String] = {
    import rows.sparkSession.implicits._
    rows.map { case (k, v) => s"$k $v" }.collect().sorted.toIndexedSeq
  }

  /** The commutative-reduce lowering: when the user reduce is a fold over a
    * monoid (count, sum, …), express it as a Spark aggregate column so the
    * engine combines partially on the map side (reduce parallelism follows
    * spark.sql.shuffle.partitions/AQE here — the point of this path is to
    * let the engine plan). Same output contract. */
  def runAggregated(
      spark: SparkSession,
      inputGlob: String,
      mapf: (String, String) => IterableOnce[(String, String)],
      agg: org.apache.spark.sql.Column): DataFrame = {
    import spark.implicits._
    wholeFiles(spark, inputGlob)
      .flatMap { case (name, contents) => mapf(name, contents) }
      .toDF("key", "value")
      .groupBy(col("key"))
      .agg(agg.cast("string").as("value"))
  }
}
