package perfbench

import java.util.concurrent.atomic.AtomicLong
import graft.sinks.TtlLeaderboard

/** `TtlLeaderboard` that times its own `increment` and `topK` calls. Only
  * the traced run uses it; untraced runs use the plain class. */
final class TimedLeaderboard extends TtlLeaderboard() {
  val incrementCalls = new AtomicLong(0L)
  val incrementNanos = new AtomicLong(0L)
  val topKCalls = new AtomicLong(0L)
  val topKNanos = new AtomicLong(0L)

  override def increment(deltas: Iterable[(String, Long)]): Unit = {
    val t = System.nanoTime()
    try super.increment(deltas)
    finally {
      incrementNanos.addAndGet(System.nanoTime() - t)
      incrementCalls.incrementAndGet()
      ()
    }
  }

  override def topK(k: Int): Seq[(String, Long)] = {
    val t = System.nanoTime()
    try super.topK(k)
    finally {
      topKNanos.addAndGet(System.nanoTime() - t)
      topKCalls.incrementAndGet()
      ()
    }
  }
}
