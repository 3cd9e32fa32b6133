package graft

import scala.collection.mutable

/** Greedy-Dual Frequency-Size cache — the reference's plan-cache eviction
  * policy (reference: src/lib/cache/gdfs_cache.hpp:20, used as both
  * SQLLogicalPlanCache and SQLPhysicalPlanCache, src/lib/sql/sql_plan_cache
  * .hpp:13-14), replacing the round-1..6 LRU memo for behavioral parity.
  *
  * Policy: each entry carries `priority = inflation + frequency / size`;
  * every hit (or re-set) bumps frequency and recomputes priority; eviction
  * removes the minimum-priority entry and RAISES the global inflation to the
  * evicted priority, so long-resident-but-cold entries age out while a newly
  * inserted entry (priority ≥ current inflation + 1/size) can compete with
  * old frequent ones. With size = 1 this degenerates to aged LFU — exactly
  * what the reference's plan caches run (their `set` uses the default
  * size = 1.0).
  *
  * The reference guards the heap+map pair with one mutex for simplicity
  * (gdfs_cache.hpp's locking comment); at plan-cache capacities (≤128) a
  * linear min-scan on evict is cheaper than maintaining a heap, so this
  * implementation is a single synchronized map — same observable policy.
  */
final class GdfsCache[K, V](capacity: Int) {

  private final class Entry(var value: V, var frequency: Long, val size: Double) {
    var priority: Double = 0.0
  }

  private val map = mutable.LinkedHashMap.empty[K, Entry] // insertion-ordered for stable ties
  private var inflation = 0.0

  private def bump(e: Entry): Unit = {
    e.frequency += 1
    e.priority = inflation + e.frequency.toDouble / e.size
  }

  def get(key: K): Option[V] = synchronized {
    map.get(key).map { e => bump(e); e.value }
  }

  def put(key: K, value: V, size: Double = 1.0): Unit = synchronized {
    if (capacity == 0) return
    map.get(key) match {
      case Some(e) =>
        e.value = value
        bump(e)
      case None =>
        if (map.size >= capacity) evictOne()
        val e = new Entry(value, 1L, size)
        e.priority = inflation + 1.0 / size
        map.put(key, e)
    }
  }

  /** Evict the min-priority entry and raise inflation to its priority
    * (reference: gdfs_cache.hpp:146 `_evict`). */
  private def evictOne(): Unit = {
    val (k, e) = map.minBy(_._2.priority)
    inflation = e.priority
    map.remove(k)
  }

  def contains(key: K): Boolean = synchronized(map.contains(key))
  def size: Int = synchronized(map.size)
  def clear(): Unit = synchronized { map.clear(); inflation = 0.0 }

  /** (key, frequency) view for observability — the reference's `snapshot()`
    * feeds its meta cache tables the same pair. */
  def snapshot(): Seq[(K, Long)] = synchronized {
    map.iterator.map { case (k, e) => (k, e.frequency) }.toSeq
  }
}
