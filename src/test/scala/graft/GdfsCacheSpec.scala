package graft

import org.scalatest.funsuite.AnyFunSuite

/** GDFS policy parity with the reference's plan cache (reference:
  * src/lib/cache/gdfs_cache.hpp, behaviors mirrored from
  * src/test/lib/sql/sql_plan_cache_test.cpp / cache policy tests):
  * frequency beats recency, inflation ages out cold residents, size scales
  * priority, a full cache evicts the lowest priority. */
class GdfsCacheSpec extends AnyFunSuite {

  test("frequency beats recency: hot entry survives a burst of one-offs") {
    val c = new GdfsCache[String, Int](2)
    c.put("hot", 1)
    (1 to 5).foreach(_ => assert(c.get("hot").contains(1)))
    // a burst of one-hit wonders churns through the second slot only: each
    // eviction raises inflation by 1, so until inflation + 1 reaches the hot
    // priority (6), newcomers lose — LRU would have evicted "hot" at once
    (1 to 4).foreach(i => c.put(s"cold$i", i))
    assert(c.contains("hot"), "frequency 6 must outrank frequency-1 newcomers (LRU would evict it)")
    assert(c.size === 2)
  }

  test("inflation lets new entries eventually displace stale frequent ones") {
    val c = new GdfsCache[String, Int](2)
    c.put("stale", 1)
    (1 to 3).foreach(_ => c.get("stale")) // frequency 4, priority 4.0
    c.put("a", 2) // fills slot 2
    // each eviction raises inflation toward the stale priority; once
    // inflation + 1 exceeds it, a newcomer wins the slot from "stale"
    (1 to 10).foreach(i => c.put(s"n$i", i))
    assert(!c.contains("stale"),
      "GDFS inflation must age out a no-longer-accessed frequent entry")
  }

  test("larger size lowers priority: big one-off evicted before small one-off") {
    val c = new GdfsCache[String, Int](2)
    c.put("small", 1, size = 1.0) // priority 1.0
    c.put("big", 2, size = 10.0)  // priority 0.1
    c.put("next", 3, size = 1.0)  // evicts the min-priority entry
    assert(c.contains("small") && !c.contains("big"))
  }

  test("re-set updates value and bumps frequency like a hit") {
    val c = new GdfsCache[String, Int](2)
    c.put("k", 1)
    c.put("k", 2) // frequency 2 now
    assert(c.get("k").contains(2))
    c.put("other", 9)
    c.put("third", 10) // must evict "other" (freq 1), not "k" (freq 3)
    assert(c.contains("k") && !c.contains("other"))
  }

  test("a full cache evicts the lowest priority first; clear empties it") {
    val c = new GdfsCache[String, Int](3)
    c.put("a", 1); c.get("a"); c.get("a") // freq 3
    c.put("b", 2); c.get("b")             // freq 2
    c.put("c", 3)                          // freq 1
    c.put("d", 4)                          // full: evicts "c"
    assert(c.size === 3 && c.contains("a") && c.contains("b") && !c.contains("c"),
      "eviction keeps the higher-priority entries")
    c.clear()
    assert(c.size === 0)
    c.put("fresh", 7)
    assert(c.get("fresh").contains(7))
  }

  test("zero capacity never stores") {
    val c = new GdfsCache[String, Int](0)
    c.put("x", 1)
    assert(c.size === 0 && c.get("x").isEmpty)
  }

  test("snapshot exposes (key, frequency) for observability") {
    val c = new GdfsCache[String, Int](4)
    c.put("q1", 1); c.get("q1"); c.get("q1")
    c.put("q2", 2)
    assert(c.snapshot().toMap === Map("q1" -> 3L, "q2" -> 1L))
  }
}
