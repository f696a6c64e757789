package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Join-strategy gates and the lineage-truncation policy ([[truncate]])
  * shared by every query module.
  *
  * Many attach-side frames here are aggregate-derived (degree tables,
  * per-item counts, frequent-pair sets), where Catalyst has no stats and
  * would default to sort-merge — sorting the |E|-sized probe side for a
  * |V|-sized build side. Historically those sites hard-coded a
  * `broadcast()` hint, which is the right plan at every tested scale but
  * the wrong FAILURE MODE at 100×: a forced broadcast of a multi-GB
  * degree table OOMs the driver instead of degrading. [[broadcastIfSmall]]
  * makes the documented fallback executable: under the row threshold the
  * side broadcasts; above it the same equi-join runs as a shuffled hash
  * join (`shuffle_hash` hint — hash on the small side, no sort of the
  * probe side), which is the plan a cluster wants once the build side is
  * data-proportional.
  *
  * The threshold is a ROW count, not bytes, because every gated frame here
  * is narrow (a key plus one or two int64s, or a key plus a bounded
  * array); 4M such rows ≈ 100–200 MB serialized — inside executor/driver
  * headroom with margin. It is configurable (`spark.graft.broadcastRowLimit`)
  * so the shuffled path is testable without a 100 TB graph:
  * PlanQualitySuite pins BOTH plan shapes by flipping the limit. */
object Plans {

  /** Conf key for the broadcast row-count threshold (session-scoped). */
  val BroadcastRowLimitKey = "spark.graft.broadcastRowLimit"

  /** Default threshold: ~4M narrow rows ≈ low hundreds of MB broadcast. */
  val DefaultBroadcastRowLimit: Long = 4L * 1000 * 1000

  def broadcastRowLimit(df: DataFrame): Long =
    Conf.long(df.sparkSession, BroadcastRowLimitKey, DefaultBroadcastRowLimit)

  /** Hint `df` as the build side of an equi-join: `broadcast` when
    * `estRows` (an exact count of a persisted frame, or a conservative
    * upper bound derived from one) is under the session threshold,
    * `shuffle_hash` otherwise. Both paths keep the join an equi-join with
    * `df` as the hash side — only the exchange strategy changes, so
    * results are identical by construction. */
  def broadcastIfSmall(df: DataFrame, estRows: Long): DataFrame =
    if (estRows <= broadcastRowLimit(df)) broadcast(df)
    else df.hint("shuffle_hash")

  /** Conf key for the byte-estimate threshold used by [[broadcastIfSmallStats]]. */
  val BroadcastByteLimitKey = "spark.graft.broadcastByteLimit"

  /** Default: 128 MB of scan-estimated bytes — well inside driver/executor
    * headroom once decoded, far above every dimension table at test scale. */
  val DefaultBroadcastByteLimit: Long = 128L * 1024 * 1024

  /** Stats-based gate for frames whose optimized plan carries a real size
    * estimate — parquet scans and narrow projections/filters of them,
    * where Catalyst's `sizeInBytes` comes from file footers (no job, no
    * scan). TPC-H-shaped dimensions (customer/supplier/part) GROW with
    * scale factor — a hard-coded hint that is right at sf0.1 forces a
    * driver-OOM broadcast at SF 10⁵ — so dimension attaches gate on the
    * metadata estimate instead. Filters don't shrink the estimate without
    * CBO column stats, so the gate is conservative: it can only flip to
    * shuffle-hash EARLIER than strictly needed, never broadcast a side
    * that is bigger than its files. The same direction holds for JOINED
    * dimension chains (supplier⋈nation⋈region): without CBO the join
    * estimate is multiplicative, i.e. an over-estimate, so the worst case
    * is again a premature — correct — shuffled-hash plan, never an OOM.
    * Constant-size dimensions (nation=25, region=5 rows at every SF) stay
    * unconditionally broadcast.
    *
    * `cacheKey` (recommended: `"site/dataDir"`) memoizes the DECISION in
    * [[Memo]] per (session, key, limit): computing the estimate forces analysis +
    * optimization of the dimension subtree on every call — a visible
    * constant cost on sub-2 s queries with several gated dims (the
    * round-10 q2/q3 movers). The gated frame for a given site and dir is
    * deterministic, so the decision is too; the limit is part of the key
    * so a flipped `spark.graft.broadcastByteLimit` test conf never sees a
    * stale verdict. Pass no key to keep the uncached behavior. */
  def broadcastIfSmallStats(df: DataFrame, cacheKey: String = null): DataFrame =
    if (statsFitsBroadcast(df, cacheKey)) broadcast(df)
    else df.hint("shuffle_hash")

  /** The [[broadcastIfSmallStats]] decision alone — reusable for a frame
    * AGGREGATED from the gated one (e.g. q2's per-part min-cost table:
    * ≤ one row per qualifying part, so "the part dimension fits" bounds
    * the aggregate too). */
  def statsFitsBroadcast(df: DataFrame, cacheKey: String = null): Boolean = {
    val limit = Conf.long(df.sparkSession, BroadcastByteLimitKey, DefaultBroadcastByteLimit)
    def compute: Boolean = df.queryExecution.optimizedPlan.stats.sizeInBytes <= limit
    if (cacheKey == null) compute
    else Memo.decision(df.sparkSession, s"fits-broadcast/$cacheKey/$limit")(compute)
  }

  /** Conf key for [[sizeWidth]]'s rows-per-partition target. */
  val RowsPerPartitionKey = "spark.graft.rowsPerPartition"

  /** Default rows per partition for narrow (two-or-three int64 column)
    * iterate tables: 4M such rows ≈ 64 MB — the guide's §2.2 partition
    * sizing, expressed in rows because every gated frame here is narrow
    * and its exact row count is already in hand (memoized count). */
  val DefaultRowsPerPartition: Long = 4L * 1000 * 1000

  /** Data-proportional partition width for an iterate table whose exact
    * row count is known: ⌈rows / rowsPerPartition⌉, minimum 1. Guide §2
    * "make partitioning scale-adaptive — derive from input size rather
    * than a constant tuned for local mode or the cluster": a test-scale
    * graph (2.4M edge rows) iterates at width 1 instead of paying
    * cores-many per-task constants per round per stage, while a 10⁹-edge
    * deployment graph gets hundreds of partitions from the same formula. */
  def sizeWidth(spark: SparkSession, rows: Long): Int = {
    val per = Conf.long(spark, RowsPerPartitionKey, DefaultRowsPerPartition).max(1L)
    ((rows + per - 1) / per).max(1L).min(Int.MaxValue.toLong).toInt
  }

  /** Conf key disabling [[fanOut]] (diagnostics / A-B plan comparison). */
  val FanOutKey = "spark.graft.fanout.enabled"

  /** Scale-adaptive fan-out for HEAVY per-row compute sitting directly on a
    * scan: when the source provides fewer splits than the cluster has cores
    * (the classic unsplittable-input shape — a single parquet row group, one
    * gzip shard), hash-redistribute the narrow input rows across
    * `defaultParallelism` partitions on `key` BEFORE the expensive
    * projection, so tokenize/shingle/minhash/regex work uses every core
    * instead of one. Guide §2.5's "repartition immediately after the read"
    * for input skew, made conditional:
    *
    *   - the gate compares the PLANNED scan partition count against
    *     `defaultParallelism` — at deployment scale a 100 TB source yields
    *     thousands of splits, the gate never fires, and the plan (and the
    *     "raw text never shuffles" property) is byte-identical to before;
    *   - hash partitioning on the row's unique id is deterministic (safe
    *     under task retry — no round-robin, no sort-before-repartition) and
    *     skew-free for a key that is unique per row;
    *   - the explicit partition count (not `repartition(key)` alone) keeps
    *     AQE from coalescing the tiny-by-bytes exchange back to one
    *     partition, which would undo the fan-out exactly when it matters
    *     (compute-bound, not byte-bound, stages).
    *
    * Only correct above deterministic row sets (every registered query —
    * results are value-keyed aggregations/joins, never input-order-
    * dependent). The planned-partition probe costs one driver-side physical
    * plan of the (narrow) subtree; `cacheKey` memoizes the DECISION per
    * (session, key) exactly like [[broadcastIfSmallStats]].
    *
    * CONTRACT: `df` must be SCAN-ROOTED — a projection/filter straight over
    * a file scan, no shuffle anywhere in its plan. The probe
    * (`df.rdd.getNumPartitions`) finalizes the physical plan, and under AQE
    * a plan containing an Exchange would materialize its upstream query
    * stages eagerly AT DECISION TIME — running real jobs before (and in
    * addition to) the action. Every call site passes
    * `Tables.documents(...)` + narrow select (verified r16); keep it that
    * way or derive the split count from the scan's planned partitions. */
  def fanOut(df: DataFrame, key: org.apache.spark.sql.Column,
      cacheKey: String = null): DataFrame = {
    val spark = df.sparkSession
    if (!Conf.boolean(spark, FanOutKey, true)) df
    else {
      val target = spark.sparkContext.defaultParallelism
      def needsSpread: Boolean = df.rdd.getNumPartitions < target
      val spread =
        if (cacheKey == null) needsSpread
        else Memo.decision(spark, s"fanout/$cacheKey/$target")(needsSpread)
      if (spread) df.repartition(target, key) else df
    }
  }

  /** Conf key selecting [[truncate]]'s mode: executor-local or reliable. */
  val ReliableCheckpointKey = "spark.graft.components.reliableCheckpoint"

  private def reliableCheckpoint(spark: SparkSession): Boolean =
    Conf.boolean(spark, ReliableCheckpointKey, false)

  /** Eager lineage truncation, the one policy of every iterative loop.
    *
    * Default: `localCheckpoint` — blocks live on executors, fastest, but an
    * executor loss mid-loop loses them and fails the job (acceptable when a
    * restart is cheap). With `spark.graft.components.reliableCheckpoint=true`
    * the rounds use reliable `checkpoint()` to the SparkContext checkpoint
    * dir (cluster FS on a real deployment) instead, surviving executor loss
    * at the price of a write+read per round — every truncated iterate is
    * output- or model-sized, so the premium is small. Requires
    * `SparkContext.setCheckpointDir`; fails fast if the knob is on without.
    *
    * A round is truncated when it reads the iterate more than once (left
    * lazy, such a plan doubles per round: 7.5 s against 2.6 s for 3 BFS
    * rounds at sf0.1, [[graft.graph.Relax]]), or when its result is
    * memoized ([[Memo]] requires self-contained values; see
    * [[truncatedArtifact]]). Otherwise the chain stays lazy: label
    * propagation measured a lazy 3-round chain about 2× faster, so
    * copurchase_communities, embed_top_direction and markov_stationary are
    * plain lazy loops. */
  def truncate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (!reliableCheckpoint(spark)) df.localCheckpoint()
    else {
      val sc = spark.sparkContext
      require(sc.getCheckpointDir.isDefined,
        s"$ReliableCheckpointKey=true requires SparkContext.setCheckpointDir")
      // Checkpoint FILES outlive the ContextCleaner unless this static conf
      // was set at context creation (GraftSession sets it); an externally
      // built session without it leaks one dir per round to the cluster FS.
      if (!sc.getConf.getBoolean("spark.cleaner.referenceTracking.cleanCheckpoints", false))
        System.err.println(s"[graft] WARNING: $ReliableCheckpointKey=true but " +
          "spark.cleaner.referenceTracking.cleanCheckpoints is false — superseded round " +
          "checkpoint dirs will accumulate; set it at context creation (GraftSession does)")
      df.checkpoint()
    }
  }

  /** [[Memo.artifact]] for a value holding [[truncate]]d frames, with the
    * truncation mode in the key: a session that opts into reliable
    * checkpoints expects durably-materialized artifacts (and the fail-fast
    * `require` when no checkpoint dir is set), so a local-mode entry must
    * not satisfy a reliable-mode request. */
  def truncatedArtifact[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T = {
    val mode = if (reliableCheckpoint(spark)) "reliable" else "local"
    Memo.artifact(spark, s"$key/$mode")(build)
  }

  /** The driver loop run until a fixpoint: `round` applied to `start`, then
    * to its own result, each result [[truncate]]d, until `moving` of the
    * latest result is empty — one count job per round, a scan of the
    * truncated round. Returns that latest (truncated) result. */
  def untilStable(start: DataFrame)(round: DataFrame => DataFrame)(
      moving: DataFrame => DataFrame): DataFrame = {
    var cur = truncate(round(start))
    while (moving(cur).count() > 0) cur = truncate(round(cur))
    cur
  }
}
