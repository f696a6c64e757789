package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Session-scoped memo for every shared derived ARTIFACT of the library —
  * persisted edge lists and baskets, checkpointed near-dup pair/label
  * tables, trained quantizers and models, exact counts and plan decisions —
  * keyed by (session, string key, typically `kind/dataDir`).
  *
  * Why this exists: several registered queries derive from the same
  * expensive intermediate (the bigram LM, the BPE symbol table, the
  * co-purchase edge list). Re-deriving per invocation re-pays the build —
  * and worse, a size gate that needs the artifact's exact row count
  * (`Plans.broadcastIfSmall`) turns into an EAGER materialization job on
  * every call (the round-10 `ngram_perplexity` 8× regression). The memo
  * makes both the artifact and its count once-per-session — the
  * single-session analog of the persisted model/feature table a production
  * pipeline maintains next to the corpus.
  *
  * Contract:
  *   - RE-ENTRANT: `computeIfAbsent` only publishes an empty cell; `build`
  *     runs after the map update returns, under the cell's own lock. A
  *     build may therefore resolve other keys through this object.
  *     Concurrent callers of one key share one build; a key whose build
  *     needs itself is a caller bug (it recurses until the stack overflows).
  *   - a build that throws leaves no entry, so the next call rebuilds;
  *     [[persisted]] also unpersists its frame when the materializing
  *     action throws, so a failed build leaks no cache blocks.
  *   - values must be SELF-CONTAINED: persisted or checkpoint-truncated
  *     frames with no live dependence on caches a harness drain releases.
  *   - determinism of every build makes a memoized result bit-identical
  *     to a rebuild, so memoization is invisible to correctness.
  *
  * Lifetime: entries of stopped sessions are swept on access; a long-lived
  * session probing many data dirs (ScaleProbe) calls [[evictSession]]
  * between dirs — the one release path for every session artifact.
  * `Tables`' schema memo stays apart: it is file metadata guarded by a
  * freshness token, and evicting it would add a footer job per table load. */
object Memo {

  /** One memo entry: built at most once, outside the map's update. */
  private final class Cell {
    @volatile private var value: AnyRef = _
    private var failed = false // guarded by this

    /** The value, building it on first use; None when an earlier build of
      * this cell threw (the cell has then left the map — look up again). */
    def force(build: => AnyRef, drop: => Unit): Option[AnyRef] = synchronized {
      if (failed) None
      else {
        if (value == null)
          try value = build
          catch { case e: Throwable => failed = true; drop; throw e }
        Some(value)
      }
    }

    /** The value if built; never waits on a build in progress. */
    def built: Option[AnyRef] = Option(value)
  }

  private val memo = new ConcurrentHashMap[(SparkSession, String), Cell]

  /** Generic artifact memo: `build` runs once per (session, key). */
  @annotation.tailrec
  def artifact[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T = {
    sweepStopped()
    val k = (spark, key)
    val cell = memo.computeIfAbsent(k, _ => new Cell)
    cell.force(build, memo.remove(k, cell)) match {
      case Some(v) => v.asInstanceOf[T]
      case None => artifact(spark, key)(build) // a concurrent build failed
    }
  }

  /** A persisted frame together with the result of `materialize` run on it,
    * built once. `materialize` is the action that fills the cache (a count,
    * a guard aggregate); if it throws, the frame is unpersisted and no
    * entry is kept, so a retry starts clean. */
  def persisted[R](spark: SparkSession, key: String)(build: => DataFrame)(
      materialize: DataFrame => R): (DataFrame, R) =
    artifact(spark, key) {
      val df = build.persist()
      try (df, materialize(df))
      catch { case e: Throwable => unpersistQuiet(df); throw e }
    }

  /** A persisted frame together with its EXACT row count, built once —
    * the count both materializes the persist and feeds
    * [[Plans.broadcastIfSmall]] gates for free on every later call. */
  def countedArtifact(spark: SparkSession, key: String)(build: => DataFrame): (DataFrame, Long) =
    persisted(spark, key)(build)(_.count())

  /** Memoized exact count of a (session, key)-stable deterministic frame —
    * for gates over frames that are already materialized (checkpointed
    * model tables) or lazily re-derived per invocation, where the
    * repeated eager count job is the waste. */
  def countOf(spark: SparkSession, key: String, df: DataFrame): Long =
    artifact(spark, s"$key/#count")(java.lang.Long.valueOf(df.count())).longValue()

  /** Memoized plan decision (a broadcast or fan-out verdict): `decide`
    * runs once per (session, key). */
  def decision(spark: SparkSession, key: String)(decide: => Boolean): Boolean =
    artifact(spark, s"$key/#decision")(java.lang.Boolean.valueOf(decide)).booleanValue()

  /** Release every memoized artifact of `spark`: drop its entries and free
    * the blocks of the frames found in their values. Safe while the
    * session is live; the next access simply rebuilds. */
  def evictSession(spark: SparkSession): Unit =
    removeAndRelease(k => k._1 eq spark)

  private def sweepStopped(): Unit =
    removeAndRelease(k => k._1.sparkContext.isStopped)

  private def removeAndRelease(p: ((SparkSession, String)) => Boolean): Unit = {
    val it = memo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) {
        e.getValue.built.foreach(releaseValue)
        it.remove()
      }
    }
  }

  /** Best-effort release of the frames inside a memo value (bare or in a
    * tuple): unpersist the frame, and free the blocks of every locally
    * checkpointed RDD its plan reads — a truncated artifact's own storage,
    * which `Dataset.unpersist` does not reach. */
  private def releaseValue(v: AnyRef): Unit = v match {
    case ds: Dataset[_] => release(ds)
    case p: Product => p.productIterator.foreach {
      case ds: Dataset[_] => release(ds)
      case _ => ()
    }
    case _ => ()
  }

  private def release(ds: Dataset[_]): Unit = {
    unpersistQuiet(ds)
    ds.queryExecution.logical.foreach {
      case r: LogicalRDD if r.rdd.isCheckpointed =>
        quietly(r.rdd.unpersist(blocking = false))
      case _ => ()
    }
  }

  // a stopped context rejects unpersist — the blocks are gone anyway
  private def unpersistQuiet(ds: Dataset[_]): Unit = quietly(ds.unpersist(blocking = false))

  private def quietly(body: => Unit): Unit =
    try body
    catch { case _: IllegalStateException => () }
}
