package graft.sinks

import scala.collection.concurrent.TrieMap

/** Keyed TTL counter + top-k leaderboard — the Spark-side equivalent of the
  * reference's Redis state (pipeline/app.py:89-99: INCRBY + EXPIRE 600 per
  * key, ZADD into `top10m`, read via ZREVRANGE 0 9).
  *
  * Semantics preserved exactly: each increment of a key resets that key's
  * TTL (whole-key expiry, so counts decay by key going cold — the
  * reference's documented approximation of a sliding 10-minute window,
  * README.md:95-97). The exact sliding window lives in
  * graft.streaming.Fanout.slidingCounts as a watermarked windowed agg.
  *
  * Scale contract: this store receives PRE-AGGREGATED deltas (one per key
  * that appeared in a partition of the batch — what Redis receives in the
  * reference), never raw events. Swap the TrieMap for a Redis client in
  * production; the interface is sink-shaped on purpose. The injectable
  * clock keeps the TTL behavior deterministic in tests.
  */
class TtlLeaderboard(ttlMs: Long = 600000L, clock: () => Long = () => System.currentTimeMillis()) {

  /** Stable address executors use to reach this store (see companion
    * `connect`) — the local-mode analog of a Redis endpoint. */
  val handle: String = TtlLeaderboard.register(this)

  private case class Entry(count: Long, expiresAt: Long)
  private val store = TrieMap.empty[String, Entry]

  /** Merge (key, delta) pairs: INCRBY + EXPIRE, atomic per key (as
    * Redis' INCRBY is), so partitions of one batch may push the same key
    * concurrently. */
  def increment(deltas: Iterable[(String, Long)]): Unit = {
    val now = clock()
    deltas.foreach { case (k, d) =>
      store.updateWith(k) { cur =>
        Some(Entry(cur.filter(_.expiresAt > now).map(_.count).getOrElse(0L) + d, now + ttlMs))
      }
    }
  }

  /** ZREVRANGE-style top-k of live keys, count desc then key asc. */
  def topK(k: Int = 10): Seq[(String, Long)] = {
    val now = clock()
    store.iterator
      .filter { case (_, e) => e.expiresAt > now }
      .map { case (key, e) => (key, e.count) }
      .toSeq
      .sortBy { case (key, cnt) => (-cnt, key) }
      .take(k)
  }

  /** Current live count for a key (0 if expired/absent). */
  def get(key: String): Long = {
    val now = clock()
    store.get(key).filter(_.expiresAt > now).map(_.count).getOrElse(0L)
  }

  /** Drop expired entries (Redis does this implicitly; callers may sweep
    * periodically to bound memory). */
  def sweep(): Int = {
    val now = clock()
    val dead = store.iterator.collect { case (k, e) if e.expiresAt <= now => k }.toList
    dead.foreach(store.remove)
    dead.size
  }
}

/** Executor-side access: tasks carry only the `handle` string into their
  * closures and `connect` to the store from inside foreachPartition — the
  * exact shape of a per-partition Redis client pool. The registry is the
  * local-/single-JVM stand-in for that network hop; a production build
  * replaces `connect` with a pooled client keyed by endpoint and nothing
  * about the calling plan changes. */
object TtlLeaderboard {
  private val registry = TrieMap.empty[String, TtlLeaderboard]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)

  private def register(lb: TtlLeaderboard): String = {
    val h = s"ttl-lb-${ids.incrementAndGet()}"
    registry.put(h, lb)
    h
  }

  /** Resolve a handle from a task. Fails loudly off-JVM: that is the cue to
    * plug in a real networked store (Redis), not a silent empty sink. */
  def connect(handle: String): TtlLeaderboard =
    registry.getOrElse(handle, throw new IllegalStateException(
      s"TtlLeaderboard '$handle' is not in this JVM — in a multi-JVM deployment " +
        "back this sink with a networked store (e.g. Redis) instead"))
}
