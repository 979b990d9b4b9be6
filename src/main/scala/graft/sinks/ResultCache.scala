package graft.sinks

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

/** TTL result cache with preemptive refresh (reference:
  * mods/tql/tqlcache.go:21-158 — cache rendered sink output keyed by
  * script hash + params; when age ≥ preemptiveRatio·ttl, serve the cached
  * bytes and refresh asynchronously; task.go:393-418).
  *
  * Keys should be a canonical fingerprint of (logical plan, params) —
  * callers use `df.queryExecution.optimizedPlan.semanticHash` + params.
  */
final class ResultCache(clock: () => Long = () => System.nanoTime()) {
  private case class Entry(value: String, atNs: Long, ttlNs: Long,
                           preemptiveRatio: Double, refreshing: AtomicBoolean)
  private val entries = new ConcurrentHashMap[String, Entry]()

  /** Get the cached value, recomputing per the reference's policy:
    *  - miss or expired → compute synchronously, cache, return;
    *  - fresh           → return cached;
    *  - stale-ish (age ≥ ratio·ttl) → return cached AND refresh in the
    *    background so the next caller sees a fresh entry. */
  def getOrCompute(key: String, ttlNs: Long, preemptiveRatio: Double = 1.0)
                  (compute: => String): String = {
    val now = clock()
    val e = entries.get(key)
    if (e == null || now - e.atNs >= e.ttlNs) {
      val v = compute
      entries.put(key, Entry(v, clock(), ttlNs, preemptiveRatio, new AtomicBoolean(false)))
      v
    } else {
      val age = now - e.atNs
      if (preemptiveRatio < 1.0 && age >= (e.ttlNs * preemptiveRatio).toLong &&
          e.refreshing.compareAndSet(false, true)) {
        val t = new Thread(() => {
          try {
            val v = compute
            entries.put(key, Entry(v, clock(), ttlNs, preemptiveRatio, new AtomicBoolean(false)))
          } finally e.refreshing.set(false)
        })
        t.setDaemon(true)
        t.start()
      }
      e.value
    }
  }

  def size: Int = entries.size()
}
