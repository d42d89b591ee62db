package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Persist-lifecycle control for the operators that cache intermediates
  * (pair generators' shingle sets / signature tables, posting tables,
  * classifier feature tables).
  *
  * The problem (flagged by the r8 external review and the r8 verdict): those
  * intermediates are `.persist`-ed inside operators that return LAZY
  * DataFrames, so they cannot be unpersisted before the caller evaluates —
  * every `persist` is a session-lifetime CacheManager entry, and a
  * long-lived session calling `jaccardPairs` in a loop accumulates
  * MEMORY_AND_DISK blocks until LRU eviction thrashes the executors.
  *
  * The contract, made explicit:
  *
  *  - DEFAULT (no scope): exactly the old behavior. Intermediates stay
  *    persisted until session end / LRU; cheap and right for one-shot
  *    queries (the gate/bench path), where re-evaluation sharing matters
  *    and the session exits afterwards.
  *
  *  - [[CacheScope.releasing]]: the completion variant for long-lived
  *    sessions. The operator's result is materialized ONCE via an eager
  *    `localCheckpoint` (which also cuts lineage, so the result never
  *    re-reads the intermediates), then every intermediate the body
  *    persisted is dropped. The checkpoint's own blocks are
  *    ContextCleaner-managed: they free when the returned DataFrame is
  *    garbage-collected, unlike CacheManager entries which pin forever.
  *
  * Operators register their persists through [[persistTracked]]; with no
  * active scope it is exactly `df.persist(level)`.
  */
object CacheScope {

  private val active = new ThreadLocal[ArrayBuffer[DataFrame]]

  /** `df.persist(level)`, registered with the innermost active
    * [[releasing]] scope on this thread (plain persist when none). */
  private[graft] def persistTracked(df: DataFrame,
                                    level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    df.persist(level)
    val buf = active.get()
    if (buf != null) buf += df
    df
  }

  /** Run `body` (one operator call building a DataFrame), materialize its
    * result eagerly, and unpersist every intermediate the body persisted.
    * Returns the materialized result — subsequent actions on it read the
    * checkpoint, never the (now-released) intermediates. */
  def releasing(body: => DataFrame): DataFrame = {
    val outer = active.get()
    val buf = new ArrayBuffer[DataFrame]
    active.set(buf)
    // ADVICE r9: release the tracked persists on BOTH exits — a body (or
    // eager-checkpoint) failure must not pin CacheManager entries in exactly
    // the long-lived-session scenario this scope exists to protect.
    def drop(): Unit = buf.foreach { df =>
      try df.unpersist(blocking = false)
      catch { case NonFatal(_) => }
    }
    try {
      val out = body
      val snap = out.localCheckpoint(eager = true)
      snap
    } finally {
      drop()
      if (outer == null) active.remove() else active.set(outer)
    }
  }
}
