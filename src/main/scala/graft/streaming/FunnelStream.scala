package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** Streaming ordered-step funnel — the live twin of
  * [[graft.operators.Funnel.funnelTimes]] (q93): per-user earliest
  * completion times through a fixed step sequence, maintained as
  * events arrive, inside an event-time OBSERVATION WINDOW anchored at
  * each user's earliest observed event and closed by the watermark.
  *
  * EXACTNESS UNDER DISORDER: greedy subsequence matching is
  * order-sensitive, and a late-arriving EARLY event can lower t₁ and
  * thereby re-time every later step — so bounded O(steps) state cannot
  * be exact. The state is therefore the user's buffered step events
  * (the ClickHouse-windowFunnel contract), capped at `cap` EARLIEST
  * events per user: the greedy match prefers early events, so the only
  * miss class is a user whose funnel completion depends on events
  * beyond their `cap` earliest — under-reported depth, never a phantom
  * completion. Each batch merges, re-sorts, and re-runs the match;
  * with `window` and `allowedLateness` covering the feed, a drained
  * run is EXACTLY the batch answer under any batching — q97 runs with
  * such dials and q93's oracle gates it.
  *
  * EMISSION CONTRACT: a progress stream — each user emits a snapshot
  * whenever a batch delivers accepted events for them, tagged with
  * `n_seen` (strictly increasing per user); consumers take the
  * max-`n_seen` row per user for the current funnel state.
  *
  * A funnel window's lifecycle is EVENT time: the close instant is
  * `first event + window + allowedLateness`, fired by a watermark
  * whose delay IS `allowedLateness` via `EventTimeTimeout`; a closed
  * user collapses to an O(1) CLOSED tombstone, so KEY cardinality is
  * bounded by the users with open windows.
  *
  * THE CONTRACT — under-report only, never fabricate:
  *  1. While open, snapshots are the greedy match over the in-window
  *     buffered events (max-`n_seen` consumer rule).
  *  2. An event past `window` of the user's first event is outside
  *     the observation window: dropped (a windowed funnel completion
  *     cannot depend on it) — under-reported depth, never phantom.
  *  3. A late event arriving inside `allowedLateness` re-matches its
  *     funnel exactly — including one that REWRITES the window's
  *     origin earlier (the buffer re-sorts and re-filters per batch,
  *     so the anchor is the true min ts among pre-close arrivals,
  *     not the first PROCESSED event). If the rewritten window is
  *     already past the watermark, the user finalizes immediately.
  *  4. An event arriving after its user CLOSED is dropped — it
  *     re-opens nothing. The tombstone (never `state.remove()`) pins
  *     `n_seen`, so the pre-close snapshot stays the max-`n_seen`
  *     winner; removal would let stragglers re-create the user and,
  *     once their count passed the pre-close `n_seen`, OVERWRITE the
  *     final funnel with a partial one.
  *  5. A fresh-watermark event carrying a timestamp whose window is
  *     already closed (`first + window + lateness <= watermark`)
  *     pins the tombstone and drops — arming a timeout behind the
  *     watermark would throw and crash-loop on checkpoint replay
  *     (the [[QuantileStream]] poison-pill discipline).
  *
  * State: O(min(cap, in-window events)) per OPEN user, O(1) per
  * closed user. */
object FunnelStream {

  case class StepEvent(user_id: Long, ts_us: Long, step: Int,
    ts: java.sql.Timestamp)
  /** `evs` = in-window (ts_us, step) buffer (`cap` earliest);
    * `nSeen` = ACCEPTED (in-window) event count — strictly increasing
    * across emitted snapshots; dropped out-of-window events are not
    * "seen". */
  case class Buf(evs: List[(Long, Int)], nSeen: Long,
    closed: Boolean)
  /** `ts(i)` = earliest completion of step i+1, −1 if unreached. */
  case class Snap(user_id: Long, n_seen: Long, ts: Seq[Long], depth: Long)

  /** The greedy ordered-subsequence match over a ts-sorted buffer. */
  private def matchSteps(merged: List[(Long, Int)],
      nSteps: Int, uid: Long, nSeen: Long): Snap = {
    val t = Array.fill(nSteps)(-1L)
    for ((ts, s) <- merged) {
      if (s == 0 && t(0) == -1L) t(0) = ts
      else if (s > 0 && s < nSteps && t(s - 1) != -1L &&
        ts > t(s - 1) && t(s) == -1L) t(s) = ts
    }
    Snap(uid, nSeen, t.toSeq, t.takeWhile(_ != -1L).length.toLong)
  }

  private[graft] def fn(nSteps: Int, cap: Int, windowMicros: Long,
      latenessMillis: Long)(
      uid: Long, it: Iterator[StepEvent],
      state: GroupState[Buf]): Iterator[Snap] = {
    if (state.hasTimedOut) {
      // watermark passed first + window + lateness: finalize to the
      // closed tombstone; no further timeout (permanent, O(1))
      val s = state.get
      state.update(Buf(Nil, s.nSeen, closed = true))
      Iterator.empty
    } else {
      val prev = state.getOption
        .getOrElse(Buf(Nil, 0L, closed = false))
      if (prev.closed) {
        // post-close straggler: dropped, re-opens nothing (contract 4)
        Iterator.empty
      } else {
        val incoming = it.map(e => (e.ts_us, e.step)).toList
        if (incoming.isEmpty) Iterator.empty
        else {
          val all = (prev.evs ++ incoming).sorted
          val first = all.head._1
          // observation window: events past `first + window` cannot
          // participate (contract 2); the anchor is the min ts over
          // every pre-close arrival, so a late origin-rewriting event
          // re-filters the whole buffer (contract 3)
          val inWindow = all.takeWhile(_._1 <= first + windowMicros)
          // ceil micros to the enclosing millisecond: flooring would
          // fire the close up to 999 µs BEFORE the window's
          // micro-precision end
          val closeMs = Math.addExact(
            Math.floorDiv(first + windowMicros + 999L, 1000L),
            latenessMillis)
          if (state.getCurrentWatermarkMs() >= closeMs) {
            // the (possibly rewritten) window is already past the
            // watermark: finalize now, drop the batch (contract 5) —
            // prior emissions stand as the max-n_seen winners
            state.update(Buf(Nil, prev.nSeen, closed = true))
            Iterator.empty
          } else {
            // only in-window events are ACCEPTED into n_seen; an
            // all-out-of-window batch changes nothing (the buffer and
            // anchor are untouched — an earlier event would be
            // in-window by definition), so it emits nothing and only
            // re-arms the close (the engine clears the armed timeout
            // on every invocation)
            val acceptedIncoming =
              incoming.count(_._1 <= first + windowMicros)
            if (acceptedIncoming == 0) {
              state.setTimeoutTimestamp(closeMs)
              Iterator.empty
            } else {
              val merged = inWindow.take(cap)
              val nSeen = prev.nSeen + acceptedIncoming
              state.update(Buf(merged, nSeen, closed = false))
              state.setTimeoutTimestamp(closeMs)
              Iterator.single(matchSteps(merged, nSteps, uid, nSeen))
            }
          }
        }
      }
    }
  }

  /** `events` needs (user_id, step) with step in 0..nSteps−1 (filter
    * foreign steps upstream — they would waste buffer slots) and `ts`
    * (the event timestamp the watermark runs on — pass the ORIGINAL
    * event time so lateness means what the pipeline's watermark
    * means). The buffer-ordering key `ts_us` is DERIVED here as
    * `unix_micros(ts)` — any caller-supplied `ts_us` column is
    * overwritten, so the contract the close/late-filter math depends
    * on (`ts_us` ≡ microseconds of `ts`) holds by construction. The
    * watermark delay is `allowedLateness`: the engine drops no event
    * within that lateness of the stream's max event time. */
  def funnel(events: DataFrame, nSteps: Int, cap: Int = 10000,
      window: java.time.Duration = java.time.Duration.ofDays(7),
      allowedLateness: java.time.Duration =
        java.time.Duration.ofMinutes(10)): Dataset[Snap] = {
    require(nSteps >= 1, s"nSteps must be >= 1, got $nSteps")
    require(cap >= nSteps,
      s"cap=$cap cannot hold even one event per step (nSteps=$nSteps)")
    require(!window.isNegative && !window.isZero,
      s"window=$window must be positive")
    require(!allowedLateness.isNegative,
      s"allowedLateness=$allowedLateness must be non-negative — a " +
        "negative lateness would arm timeouts behind the watermark")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(org.apache.spark.sql.functions.col("ts").isNotNull)
      .withColumn("ts_us", org.apache.spark.sql.functions
        .unix_micros(org.apache.spark.sql.functions.col("ts")))
      .withWatermark("ts", s"${allowedLateness.toMillis} milliseconds")
      .as[StepEvent](Encoders.product[StepEvent])
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        fn(nSteps, cap, window.toNanos / 1000L,
          allowedLateness.toMillis))
  }
}
