package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Keyed result cache with a TTL — the reference caches every reader
  * query in a dogpile/Redis region for 2 h, keyed by the rendered
  * statement + parameters (web/routes/api/rest/utils/caching.py:23-66,
  * region config web/db/session.py:24-38). Spark-native equivalent:
  * the first read of a key `persist()`s the result (block manager,
  * memory-then-disk); identical reads inside the TTL return the same
  * cached DataFrame, so their plans scan the in-memory relation
  * instead of re-reading and re-aggregating the source.
  *
  * Concurrency: the global lock covers only map bookkeeping; the
  * compute itself runs under the entry's own monitor (dogpile's
  * per-key mutex), so readers of *different* keys never serialize and
  * two racers on the *same* key compute once. A bounded LRU (access
  * order) evicts + unpersists beyond `maxEntries`, so a param-sweeping
  * client can't bloat the block manager; expiry likewise unpersists
  * the stale entry outside the lock.
  *
  * `clock` is injectable (epoch seconds) so TTL expiry is
  * deterministic in tests — the same reasoning as the readers'
  * parameterized `asOf` (SURVEY F8).
  */
class QueryCache(ttlSeconds: Long = QueryCache.defaultTtlSeconds,
                 clock: () => Long = () => System.currentTimeMillis() / 1000L,
                 maxEntries: Int = QueryCache.defaultMaxEntries) {

  /** Compute state for one key. `df` is lazy under this entry's
    * monitor = the per-key stripe; `computed` guards unpersist so an
    * evicted-but-never-forced entry doesn't compute just to be thrown
    * away.
    */
  private final class Entry(val at: Long, compute: () => DataFrame) {
    private var computed = false
    lazy val df: DataFrame = synchronized {
      val d = compute().persist(StorageLevel.MEMORY_AND_DISK)
      computed = true
      d
    }
    def unpersistQuiet(): Unit = synchronized {
      if (computed) df.unpersist(blocking = false)
    }
  }

  // access-order map: iteration starts at the least-recently-used key
  private val entries =
    new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)

  /** The cached DataFrame for `key` if fresh, else `compute` persisted
    * and remembered. Thread-safe; concurrent distinct keys compute in
    * parallel, concurrent same-key calls compute once.
    */
  def getOrCompute(key: String)(compute: => DataFrame): DataFrame = {
    val dead = scala.collection.mutable.ArrayBuffer.empty[Entry]
    val entry = entries.synchronized {
      val now = clock()
      val cur = entries.get(key) // also marks the key most-recently-used
      val fresh =
        if (cur != null && now - cur.at < ttlSeconds) cur
        else {
          if (cur != null) dead += cur // TTL-stale: replace + unpersist
          val ne = new Entry(now, () => compute)
          entries.put(key, ne)
          ne
        }
      val it = entries.entrySet().iterator()
      while (entries.size() > maxEntries && it.hasNext) {
        val eldest = it.next()
        if (eldest.getValue ne fresh) { dead += eldest.getValue; it.remove() }
      }
      fresh
    }
    dead.foreach(_.unpersistQuiet()) // off-lock: may wait on an in-flight compute
    entry.df
  }

  def size: Int = entries.synchronized(entries.size())

  /** Drop everything — wired into the refresh jobs
    * (AggregateMaintenance.writePartitionedTx) so rollup refreshes
    * surface immediately instead of riding out the 2 h TTL the
    * reference tolerates.
    */
  def invalidateAll(): Unit = {
    val dead = entries.synchronized {
      val vs = new java.util.ArrayList(entries.values())
      entries.clear()
      vs
    }
    dead.forEach(_.unpersistQuiet())
  }
}

object QueryCache {
  /** web/db/session.py:31 — dogpile region expiration_time. */
  val defaultTtlSeconds: Long = 7200L

  /** Reader results are ≤500 rows (the API limit clamp), so 256
    * entries bound the block manager at a few MB.
    */
  val defaultMaxEntries: Int = 256
}
