package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import graft.avro.SchemaProvider

/** The benchmark's schema registry: the in-memory id → schema map behind a
  * fixed per-fetch delay that stands in for the registry's HTTP GET. It
  * counts fetches and fetch time, which is how `registry.*` is measured
  * without instrumenting the engine.
  *
  * Each run mints a fresh `cacheToken`, so the engine's per-JVM decoder
  * state starts cold. Copies of this provider are deserialized into every
  * task; the counters live in [[CountingProvider.stats]], keyed by token,
  * so all copies in the JVM add to one tally (local mode runs every task
  * in this JVM). */
final case class CountingProvider(byId: Map[Int, String], delayMicros: Long,
    cacheToken: String) extends SchemaProvider {

  override def schemaJsonById(id: Int): Option[String] = {
    val t0 = System.nanoTime()
    val until = t0 + delayMicros * 1000L
    var now = t0
    while (now < until) {
      java.util.concurrent.locks.LockSupport.parkNanos(until - now)
      now = System.nanoTime()
    }
    val found = byId.get(id)
    val s = CountingProvider.stats(cacheToken)
    s.fetches.increment()
    s.fetchNanos.add(System.nanoTime() - t0)
    found
  }
}

object CountingProvider {
  final class Stats {
    val fetches = new LongAdder
    val fetchNanos = new LongAdder
  }
  private val all = new ConcurrentHashMap[String, Stats]()

  def stats(token: String): Stats = all.computeIfAbsent(token, _ => new Stats)

  /** A provider with a token no earlier run in this JVM has used. */
  def fresh(byId: Map[Int, String], delayMicros: Long): CountingProvider =
    CountingProvider(byId, delayMicros,
      "perfbench-" + java.util.UUID.randomUUID().toString)
}
