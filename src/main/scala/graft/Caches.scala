package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame

/** Registry for query-internal persists, so cache lifetime is structural
  * instead of caller-managed-with-no-caller.
  *
  * Registered queries that persist an intermediate (LSH candidate sets,
  * keeper ids) consume it several times WITHIN the plan they return — the
  * persist must outlive the caller's action, so the query function cannot
  * unpersist it itself. Instead it registers the handle here, and the
  * harness (Verify/Bench/tools.Time, or any long-lived service) calls
  * [[drain]] once the action completes. Non-blocking unpersist: the data is
  * dead, reclamation need not stall the next query.
  *
  * A composite operator that MATERIALIZES an intermediate eagerly (e.g.
  * `dedupComponents` checkpointing `dedupNear`'s edge list) can release the
  * inner persists before returning via [[scoped]]: registrations made by
  * the calling thread inside the block land in the scope instead of the
  * session-wide queue and are unpersisted when the block exits — no leak
  * even without a harness drain, and no risk of draining caches another
  * in-flight query registered. */
object Caches {
  private val registered = new ConcurrentLinkedQueue[DataFrame]()

  // Innermost active scope of the current thread, if any. Scopes nest.
  private val scope = new ThreadLocal[List[ConcurrentLinkedQueue[DataFrame]]] {
    override def initialValue(): List[ConcurrentLinkedQueue[DataFrame]] = Nil
  }

  /** Persist `df` and register it for release at the next [[drain]] (or at
    * the end of the enclosing [[scoped]] block, when there is one). */
  def persisted(df: DataFrame): DataFrame = {
    val cached = df.persist()
    scope.get() match {
      case q :: _ => q.add(cached)
      case Nil => registered.add(cached)
    }
    cached
  }

  /** Run `body`, then unpersist every cache it registered. Only safe when
    * `body` leaves no returned plan depending on those caches — i.e. it
    * materializes (checkpoint/collect/write) everything it hands back. */
  def scoped[T](body: => T): T = {
    val q = new ConcurrentLinkedQueue[DataFrame]()
    scope.set(q :: scope.get())
    try body
    finally {
      scope.set(scope.get().tail)
      release(q)
    }
  }

  /** Unpersist every cache registered (outside any scope) since the last
    * drain. */
  def drain(): Unit = release(registered)

  private def release(q: ConcurrentLinkedQueue[DataFrame]): Unit = {
    var df = q.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = q.poll()
    }
  }
}
