package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** Streaming event-rate anomaly monitor — the live twin of
  * [[graft.operators.Anomaly.rateZScores]] (q100): per-(key, minute)
  * trailing z-scores over the ZERO-FILLED minute spine, maintained as
  * events arrive. A feed outage shows up as strongly negative z rows
  * the moment a later minute for that key proves the silent minutes
  * really were silent.
  *
  * EXACTNESS UNDER DISORDER: a late event changes an already-scored
  * minute's count, which changes the mean/variance of every window
  * containing it — so bounded per-emission state cannot be exact.
  * The state is therefore the key's minute→count map and each batch
  * re-scores the key's whole dense series. With `keepMinutes`
  * covering the key's span and no idle gap past `stateTtl`, a drained
  * run is EXACTLY the batch answer under any batching — q112 runs with
  * such dials and q100's oracle gates it.
  *
  * EMISSION CONTRACT (the progress-stream pattern): a key re-emits
  * its full scored series whenever a batch delivers accepted events
  * for it, tagged with `seen` (the key's accepted-event count —
  * strictly increasing), and consumers keep the max-`seen` emission
  * per (key, minute). Gap minutes INSIDE the observed span are
  * known-zero and scored; minutes after the key's last event are
  * unknown (silence vs. not-yet-arrived) and never scored until a
  * later event closes them — identical to the batch spine's
  * [first, last] contract.
  *
  * BOUNDED STATE — under-report only, never fabricate. State carries
  * a `horizon`: the minute below which the key's history was
  * discarded. A key that has never been pruned or decayed has NO
  * horizon (`Long.MinValue`): every event it has seen is retained, so
  * a late event below its first minute extends the span exactly as a
  * batch recompute would. Three things set the horizon, and each only
  * REMOVES emissions/revisions relative to a batch recompute:
  *
  *  1. RETENTION PRUNE — when a key's span exceeds `keepMinutes`, the
  *     horizon advances to `hi − keepMinutes + 1` and older counts
  *     drop. Windows reaching below the horizon are never (re)scored.
  *  2. LATE DROP — an event with `m < horizon` is discarded; its
  *     minute's already-emitted rows are never revised
  *     ("retention-exact").
  *  3. IDLE DECAY — a key silent for `stateTtl` (processing time, the
  *     [[NearDup]] pattern) collapses to `(∅, horizon = hi+1)`: a
  *     late event for the dead span re-opens NOTHING, while a
  *     genuinely new event starts a fresh span (its first minute
  *     becomes the horizon) that must re-accumulate `trailing` minutes
  *     before scoring. The tombstone is kept deliberately: removing
  *     it would let a late event resurrect the old span with
  *     forgotten minutes silently read as zero.
  *
  * Scale: state is O(active keys · keepMinutes + tombstoned keys).
  * The scorer is a lazy O(trailing)-memory ring.
  *
  * Arithmetic mirrors the batch/oracle formula token for token:
  * exact integer window sums, `mean = s/c`,
  * `var = (ss − s·s/c)/(c−1)`, `z = round((n − mean)/√var, 4)`
  * (HALF_UP — the library-wide round contract), null z on zero
  * variance.
  *
  * CHECKPOINT COMPATIBILITY: a change to [[KeyState]]'s fields changes
  * the flatMapGroupsWithState state encoding — a query restored from
  * a checkpoint written by another encoding fails Spark's state-schema
  * compatibility check at restart (loudly, at query start — no silent
  * misread); restart such a deployment from a FRESH checkpoint. */
object AnomalyStream {

  /** (key, epoch-minute) — pre-truncate upstream. */
  case class MinuteEvent(key: String, m: Long)
  case class ZRow(key: String, m: Long, n: Long, z: Option[Double],
    seen: Long)
  /** `horizon` = first trusted minute (`Long.MinValue` while nothing
    * was ever discarded; counts keys are all ≥ it); `seen` =
    * accepted-event count, strictly increasing; `decayed` = the
    * horizon was set by IDLE DECAY (wall-clock TTL), not by live
    * data — which changes what "far below the horizon" means (see
    * the drop-vs-die rule in [[fn]]). */
  case class KeyState(counts: Map[Long, Long], horizon: Long, seen: Long,
      decayed: Boolean = false)

  private def round4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The dense re-scorer: z over [lo+trailing, hi] with known-zero
    * fill, LAZILY — flatMapGroupsWithState drains the returned
    * iterator on demand, so a sporadically active key with a
    * years-long span costs O(trailing) memory here, not an O(span)
    * materialized buffer. s/ss in BigInt — Σn² passes 2⁶³ on a ~10⁹
    * events/minute key (the batch twin's decimal(38,0) moments). */
  private def scoreSeries(key: String, counts: Map[Long, Long],
      lo: Long, hi: Long, trailing: Int, seen: Long): Iterator[ZRow] = {
    if (hi - lo < trailing) Iterator.empty
    else {
      val ring = new Array[Long](trailing)
      var s = BigInt(0)
      var ss = BigInt(0)
      var m = lo
      while (m < lo + trailing) { // pre-roll the first window
        val n = counts.getOrElse(m, 0L)
        ring(((m - lo) % trailing).toInt) = n
        s += n
        ss += BigInt(n) * n
        m += 1L
      }
      new Iterator[ZRow] {
        private var cur = lo + trailing
        override def hasNext: Boolean = cur <= hi
        override def next(): ZRow = {
          val n = counts.getOrElse(cur, 0L)
          val c = trailing.toDouble
          val mean = s.toDouble / c
          val varr = (ss.toDouble - s.toDouble * s.toDouble / c) /
            (c - 1.0)
          val z = if (varr > 0) Some(round4((n.toDouble - mean) /
            math.sqrt(varr))) else None
          val row = ZRow(key, cur, n, z, seen)
          val slot = ((cur - lo) % trailing).toInt
          s -= ring(slot)
          ss -= BigInt(ring(slot)) * ring(slot)
          ring(slot) = n
          s += n
          ss += BigInt(n) * n
          cur += 1L
          row
        }
      }
    }
  }

  private[graft] def fn(trailing: Int, keepMinutes: Long,
      ttl: Option[java.time.Duration])(
      key: String, it: Iterator[MinuteEvent],
      state: GroupState[KeyState]): Iterator[ZRow] = {
    if (state.hasTimedOut) {
      // idle past TTL: decay to the tombstone. No timeout re-armed —
      // the tombstone is permanent and O(1).
      val s = state.get
      val newHorizon =
        if (s.counts.isEmpty) s.horizon
        else s.counts.keysIterator.max + 1L
      state.update(KeyState(Map.empty, newHorizon, s.seen, decayed = true))
      Iterator.empty
    } else {
      val prev = state.getOption
        .getOrElse(KeyState(Map.empty, Long.MinValue, 0L))
      // late drop: below-horizon events are discarded (the
      // under-report contract). The LOUD exception — an event below
      // the horizon by MORE than keepMinutes — applies ONLY when the
      // horizon was set by LIVE data: there it is epochally
      // misaligned (this event's timestamp is corrupt, or a previous
      // corrupt far-future event dragged the horizon past all real
      // time and would silently blackhole the key FOREVER). A horizon
      // set by IDLE DECAY carries no such bound: a producer offline
      // longer than keepMinutes legitimately flushes a buffer
      // arbitrarily far below the tombstone's horizon — that is
      // lateness, not corruption, and it drops silently, never kills
      // the query (a require here would crash-loop on checkpoint
      // replay).
      var accepted = 0L
      val add = it.foldLeft(Map.empty[Long, Long]) { (acc, e) =>
        if (e.m < prev.horizon) {
          require(prev.decayed || prev.horizon - e.m <= keepMinutes,
            s"AnomalyStream: key $key event at minute ${e.m} is " +
              s"${prev.horizon - e.m} minutes below the live-data " +
              s"retention horizon ${prev.horizon} — beyond keepMinutes=" +
              s"$keepMinutes, so this is a corrupt timestamp (either " +
              "this event's, or an earlier one that dragged the " +
              "horizon into the far future), not lateness")
          acc
        }
        else { accepted += 1L; acc.updated(e.m, acc.getOrElse(e.m, 0L) + 1L) }
      }
      if (add.isEmpty) {
        // nothing accepted: state untouched, but the engine clears the
        // armed timeout on every invocation — re-arm it
        ttl.foreach(t => state.setTimeoutDuration(t.toMillis))
        Iterator.empty
      } else {
        val merged0 = add.foldLeft(prev.counts) { case (acc, (m, c)) =>
          acc.updated(m, acc.getOrElse(m, 0L) + c) }
        val hi = merged0.keysIterator.max
        // an unpruned span starts at its first observed minute; a
        // fresh span over a tombstone starts at its own first minute
        val spanStart =
          if (prev.horizon == Long.MinValue) merged0.keysIterator.min
          else if (prev.counts.isEmpty) add.keysIterator.min
          else prev.horizon
        // retention prune: cap the dense span at keepMinutes
        val lo = math.max(spanStart, hi - keepMinutes + 1L)
        val merged =
          if (lo > spanStart) merged0.filter(_._1 >= lo) else merged0
        val horizon =
          if (lo == spanStart && prev.horizon == Long.MinValue) Long.MinValue
          else lo
        val seen = prev.seen + accepted
        // accepted events make this a LIVE-set horizon again
        state.update(KeyState(merged, horizon, seen, decayed = false))
        ttl.foreach(t => state.setTimeoutDuration(t.toMillis))
        scoreSeries(key, merged, lo, hi, trailing, seen)
      }
    }
  }

  /** `events` needs (key: string, m: long epoch-minute). Null keys
    * and minutes are EXCLUDED here (matching the batch twin's
    * filter) — one malformed production event must not kill the
    * monitor that exists to detect feed problems. `keepMinutes` must
    * exceed `trailing` (a window must fit inside the retained span)
    * and also serves as the corrupt-timestamp guard — a year-9999
    * minute just prunes everything before it instead of exploding
    * state (the guard applies to LIVE-set horizons only; see [[fn]]).
    * `stateTtl` arms the processing-time idle decay; `None` keeps
    * idle keys forever. */
  def zScores(events: DataFrame, trailing: Int = 30,
      keepMinutes: Long = 10080L,
      stateTtl: Option[java.time.Duration] = None): Dataset[ZRow] = {
    require(trailing >= 2, s"trailing=$trailing needs >= 2 minutes")
    require(keepMinutes > trailing,
      s"keepMinutes=$keepMinutes must exceed trailing=$trailing — " +
        "otherwise no window ever fits inside the retained span")
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf = if (stateTtl.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout
    events
      .filter(org.apache.spark.sql.functions.col("key").isNotNull &&
        org.apache.spark.sql.functions.col("m").isNotNull)
      .as[MinuteEvent](Encoders.product[MinuteEvent])
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        fn(trailing, keepMinutes, stateTtl))
  }
}
