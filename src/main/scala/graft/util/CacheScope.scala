package graft.util

import org.apache.spark.sql.Dataset

/** Tracks the Datasets a unit of work persists so the caller can release
  * EXACTLY those at the end — `spark.catalog.clearCache()` would evict every
  * cache in the session, including other users' frames on a shared cluster
  * session (VERDICT r02). Pass one scope down a call chain; `unpersistAll`
  * at the natural barrier (e.g. the engine's round commit).
  */
final class CacheScope {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

  /** Record an already-persisted frame for later release. Returns it. */
  def track[T <: Dataset[_]](d: T): T = synchronized { frames += d; d }

  def unpersistAll(blocking: Boolean = false): Unit = synchronized {
    frames.foreach(_.unpersist(blocking))
    frames.clear()
  }
}

object CacheScope {
  /** A scope nobody drains — callers that rely on session-level cache
    * cleanup (Verify/Bench clear the whole session) can keep doing so. */
  def unmanaged: CacheScope = new CacheScope
}
