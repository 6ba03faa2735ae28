package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The engine's one way to cache a frame for a bounded piece of work. */
object Cached {

  /** Run `body` over `df` persisted at MEMORY_AND_DISK and release the
    * cache when `body` returns or throws. What `body` returns must not read
    * the cache lazily: anything derived from it is materialized inside.
    */
  def withCached[T](df: DataFrame)(body: DataFrame => T): T = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(cached) finally cached.unpersist()
  }
}
