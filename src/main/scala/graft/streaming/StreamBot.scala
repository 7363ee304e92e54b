package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Streaming bot detection — `Analytics.timingRegularity` (q157) as a
  * RESIDENT query: per-user inter-arrival regularity verdicts re-emitted
  * every micro-batch a user is active in, from bounded
  * `transformWithState` state (the [[SessionizeTws]] discipline —
  * RocksDB-backed named state slots, so a fleet-scale user population
  * lives off-heap).
  *
  * State per user: the last seen event (for the cross-batch boundary
  * gap) plus a HISTOGRAM of whole-second gaps (MapState: gap_s →
  * count). The histogram is what makes the exact batch semantics
  * streamable: MAD needs |gap − mean| under the FINAL mean, which no
  * fixed set of running moments yields, but the gap MULTISET collapsed
  * by value does — and the collapse is exactly the signal's shape: a
  * scripted timer produces a handful of distinct gaps forever (the
  * q133 planted-twin argument applied to time), while organic users'
  * distinct whole-second gaps grow slowly. The histogram is CAPPED at
  * `maxDistinctGaps`; a user who exceeds it is emitted with
  * `saturated = true`, `mad_ppm = -1`, `bot_like = false` — by
  * construction a saturated user is maximally irregular, which is the
  * organic verdict, so the cap degrades toward the safe answer rather
  * than an OOM (the df-cap discipline on state).
  *
  * stream == batch contract (spec-pinned): for per-user ts-monotone
  * arrival across batches (the event-time ingestion shape) and any
  * within-batch order, each user's LATEST emitted verdict equals the
  * batch operator's row on the union of all batches — same integer
  * formulas (gap = µs-difference div 1e6, mean = sum div n, mad_ppm =
  * (Σc·|g−mean|·1e6) div (n·max(mean,1))), same thresholds. Users with
  * no gap yet emit nothing, matching the batch operator's inner
  * aggregate.
  */
object StreamBot {

  case class Ev(user_id: Long, ts_us: Long, event_id: Long)
  case class Verdict(user_id: Long, n_gaps: Long, mean_gap_s: Long,
                     mad_ppm: Long, bot_like: Boolean, saturated: Boolean)
  // state rows stay public: Janino cannot compile generated code that
  // touches a private class, and Spark then falls back to interpreted
  // evaluation with a CompileException in the log
  case class Last(lastUs: Long, lastId: Long)
  case class Totals(nGaps: Long, sumGap: Long, nDistinct: Long,
                    saturated: Boolean)

  class Processor(minEvents: Long, botMadPpm: Long, maxDistinctGaps: Long)
      extends StatefulProcessor[Long, Ev, Verdict] {
    @transient private var last: ValueState[Last] = _
    @transient private var tot: ValueState[Totals] = _
    @transient private var hist: MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      last = getHandle.getValueState[Last]("last", Encoders.product[Last],
        TTLConfig.NONE)
      tot = getHandle.getValueState[Totals]("tot", Encoders.product[Totals],
        TTLConfig.NONE)
      hist = getHandle.getMapState[Long, Long]("hist", Encoders.scalaLong,
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timers: TimerValues): Iterator[Verdict] = {
      // within-batch order = the batch operator's (ts, event_id) order
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      if (sorted.isEmpty) return Iterator.empty
      var l = if (last.exists()) Some(last.get()) else None
      var t = if (tot.exists()) tot.get() else Totals(0L, 0L, 0L, saturated = false)
      var newGaps = 0
      sorted.foreach { e =>
        l.foreach { p =>
          val gap = (e.ts_us - p.lastUs) / 1000000L // non-negative under the monotone contract
          if (hist.containsKey(gap)) hist.updateValue(gap, hist.getValue(gap) + 1L)
          else if (t.nDistinct < maxDistinctGaps) {
            hist.updateValue(gap, 1L)
            t = t.copy(nDistinct = t.nDistinct + 1L)
          } else t = t.copy(saturated = true)
          t = t.copy(nGaps = t.nGaps + 1L, sumGap = t.sumGap + gap)
          newGaps += 1
        }
        l = Some(Last(e.ts_us, e.event_id))
      }
      last.update(l.get)
      tot.update(t)
      if (newGaps == 0 || t.nGaps == 0L) Iterator.empty
      else {
        val mean = t.sumGap / t.nGaps
        if (t.saturated)
          Iterator.single(Verdict(key, t.nGaps, mean, -1L,
            bot_like = false, saturated = true))
        else {
          var adev = 0L
          val it = hist.iterator()
          while (it.hasNext) {
            val (g, c) = it.next()
            adev += c * math.abs(g - mean)
          }
          val madPpm = (adev * 1000000L) / (t.nGaps * math.max(mean, 1L))
          Iterator.single(Verdict(key, t.nGaps, mean, madPpm,
            bot_like = t.nGaps >= minEvents - 1L && madPpm <= botMadPpm,
            saturated = false))
        }
      }
    }
  }

  /** Resident verdicts over a streaming events frame with (user_id, ts,
    * event_id) columns. Update-mode emission: a user's latest row is
    * their current verdict. */
  def verdicts(events: DataFrame, minEvents: Long = 10L,
               botMadPpm: Long = 100000L,
               maxDistinctGaps: Long = 4096L): Dataset[Verdict] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long").as("user_id"),
        expr("unix_micros(ts)").as("ts_us"),
        col("event_id").cast("long").as("event_id"))
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new Processor(minEvents, botMadPpm, maxDistinctGaps),
        TimeMode.None(), OutputMode.Update(), Encoders.product[Verdict])
  }
}
