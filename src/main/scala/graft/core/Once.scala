package graft.core

/** Per-key values built once per JVM, also when several builders ask for
  * one key at once: `TrieMap.getOrElseUpdate` runs its builder outside
  * the insert, so racing builders would each write a fixture, tier or
  * index and orphan all but one. A builder that throws leaves its key
  * unbuilt for the next caller. */
final class Once[V] {
  private final class Slot(build: => V) { lazy val value: V = build }
  private val slots = new java.util.concurrent.ConcurrentHashMap[String, Slot]

  def apply(key: String)(build: => V): V =
    slots.computeIfAbsent(key, _ => new Slot(build)).value
}
