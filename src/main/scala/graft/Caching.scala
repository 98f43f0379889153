package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lifecycle registry for frames the library persists internally.
  *
  * Several operators persist an intermediate because it feeds multiple
  * plan branches (MinHash signatures, inverted shingle index, bucketed
  * embeddings, the parsed-events frame, per-channel scores, the tensor
  * pivot). Those frames must live until the caller's terminal action —
  * the library cannot unpersist them itself without re-triggering the
  * scans the persist exists to avoid. So the contract is:
  *
  *   1. library code registers every internal persist via [[persisted]];
  *   2. the CALLER invokes [[release]] once after the terminal action
  *      (collect/write) of the query it built.
  *
  * [[PackRun.coldRun]] does this around every pack query; a long-lived
  * session that skips release merely falls back to LRU eviction (the
  * pre-registry behavior), it never gets wrong results. Thread-safe.
  */
object Caching {

  private val tracked = scala.collection.mutable.ArrayBuffer[DataFrame]()
  private var high = 0

  /** Persist `df` (MEMORY_AND_DISK) and register it for [[release]]. */
  def persisted(df: DataFrame): DataFrame = synchronized {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    tracked += p
    high = math.max(high, tracked.size)
    p
  }

  /** Unpersist ONE registered frame early — for iterative operators
    * whose round-t frame supersedes round t−1 (star-contraction edge
    * frames): once the new round is materialized nothing re-reads the
    * old one, so holding every generation until [[release]] is pure
    * memory pressure. No-op if `df` is not (or no longer) registered. */
  def drop(df: DataFrame): Unit = synchronized {
    val i = tracked.indexWhere(_ eq df)
    if (i >= 0) {
      tracked.remove(i)
      df.unpersist(false)
    }
  }

  /** Unpersist every frame registered since the last release.
    * Non-blocking: executors drop the blocks asynchronously. */
  def release(): Unit = synchronized {
    tracked.foreach(_.unpersist(false))
    tracked.clear()
    high = 0
  }

  /** Number of currently-registered (unreleased) frames. */
  def trackedCount: Int = synchronized(tracked.size)

  /** High-water mark of concurrently-registered frames since the last
    * [[release]] — lets a spec pin that an O(log n)-round iterative
    * operator holds a CONSTANT number of frames, not one per round. */
  def highWaterMark: Int = synchronized(high)
}
