package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-free, duplicate-sensitive row fingerprint shared by
  * [[Invariance]] and the benchmark's output checks (perfbench's
  * `Workloads`): (row count, Σ crc32(canonical row string)), computed with
  * no driver-side row materialization — the library's no-collect rule
  * applies to tools too. Both compared runs execute the same final
  * projection, so identical values imply identical formatting.
  *
  * The row encoding is PREFIX-FREE, with no sentinel assumptions:
  *  - NULL is disambiguated STRUCTURALLY: the canonical row string leads
  *    with a per-column null bitmap (isnull as 0/1 over the sorted
  *    columns) before the values. Rows that differ only in
  *    NULL-vs-some-literal — including a literal NUL, which a
  *    payload-derived string column CAN legitimately contain — differ in
  *    the bitmap, so no sentinel choice can collide.
  *  - Field boundaries are LENGTH-PREFIXED (`<len>:<value>` per column),
  *    not delimiter-based: under a '|' delimiter the rows ('x|y','z') and
  *    ('x','y|z') encode identically — a value containing the delimiter
  *    shifts field boundaries, masking exactly the plan-change row drift
  *    the probes exist to catch. Decoding <len>:<value> left-to-right is
  *    unambiguous for every value alphabet (digits then ':' then exactly
  *    len chars), so distinct rows encode to distinct strings. */
object RowFingerprint {
  def apply(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted
    val bitmap = concat(cols.map(c => isnull(col(c)).cast("int").cast("string")): _*)
    val rowStr = concat(
      bitmap +: cols.flatMap { c =>
        val v = coalesce(col(c).cast("string"), lit(""))
        Seq(length(v).cast("string"), lit(":"), v)
      }: _*)
    val r = df.select(crc32(rowStr).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(0L)).as("s"))
      .head()
    (r.getLong(0), r.getLong(1))
  }
}
