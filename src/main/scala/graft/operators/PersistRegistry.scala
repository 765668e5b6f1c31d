package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Ownership of the intermediates an operator persists. Operator results
  * are lazy plans that read those caches, so nothing can be released
  * inside the operator: each persist is tracked here under its owning
  * operator, and the caller releases once results are materialized —
  * one operator's frames with [[unpersistAll]], every operator's with
  * [[PersistRegistry.releaseAll]] (persists would otherwise accumulate
  * until LRU eviction, and a re-run would silently reuse the previous
  * run's blocks through CacheManager plan matching).
  */
trait PersistRegistry {

  /** Persist `df` at MEMORY_AND_DISK and track it under this owner. */
  private[graft] def cached(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    track(df)
    df
  }

  /** Track an already-persisted frame, so its release follows this
    * owner's (e.g. a `Bpe.fitWithSeqs` result once consumed).
    */
  def track(df: DataFrame): Unit = PersistRegistry.frames.add((this, df))

  /** Release every frame this owner tracks in this JVM. */
  def unpersistAll(): Unit = PersistRegistry.release(_ eq this)
}

object PersistRegistry {
  private val frames =
    new java.util.concurrent.ConcurrentLinkedQueue[(PersistRegistry, DataFrame)]()

  /** Release every frame tracked by any operator in this JVM. */
  def releaseAll(): Unit = release(_ => true)

  /** Frames currently tracked, across owners. */
  private[graft] def size: Int = frames.size

  private def release(owned: PersistRegistry => Boolean): Unit = {
    val it = frames.iterator()
    while (it.hasNext) {
      val (owner, df) = it.next()
      if (owned(owner)) { it.remove(); df.unpersist(blocking = false) }
    }
  }
}
