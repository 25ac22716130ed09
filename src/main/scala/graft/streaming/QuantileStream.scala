package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** Streaming windowed value quantiles — the live twin of
  * [[graft.operators.WindowedQuantiles]]: exact p50/p95 per
  * (key, window) maintained as events arrive, windows FINALIZING on
  * the event-time watermark.
  *
  * EXACTNESS UNDER DISORDER ([[AnomalyStream]]'s argument): a late
  * event changes every rank in its window, so bounded per-emission
  * state cannot be exact; the state is the window's quantized
  * value→count map — bounded by the window's DISTINCT quantized
  * values, the same data-bound the batch twin guards, enforced here
  * with the same loud `maxDistinct` — and each batch re-selects the
  * window's ranks. With `allowedLateness` covering the feed, a drained
  * run is EXACTLY the batch answer under any batching — q118 runs with
  * such dials and replays q117's batch SQL as its oracle.
  *
  * EMISSION CONTRACT (the progress-stream pattern): a (key, window)
  * group re-emits its full pct set whenever a batch lands events for
  * it, tagged with strictly increasing `seen`; consumers keep the
  * max-`seen` row per (key, window, pct).
  *
  * A time-window's lifecycle IS event time, so windows close by
  * `EventTimeTimeout` under a watermark whose delay is
  * `allowedLateness`: when the watermark passes
  * `window end + allowedLateness`, the window's value map collapses
  * to an O(1) CLOSED tombstone.
  *
  * THE CONTRACT — under-report only, never fabricate:
  *  1. While open, emissions are the exact rank selection over every
  *     event the window has accepted.
  *  2. A late event inside `allowedLateness` re-ranks its window
  *     exactly.
  *  3. An event arriving after its window CLOSED is DROPPED — it
  *     re-opens NOTHING. The tombstone (not `state.remove()`) is what
  *     makes this safe: removal would let late stragglers re-create
  *     the window from scratch and, once their count exceeded the
  *     pre-close `seen`, OVERWRITE the final answer with a partial
  *     one under the max-`seen` rule. The tombstone pins `seen` and
  *     drops arrivals, so the pre-close emission stays the winner.
  *
  * State: O(distinct quantized values) per OPEN window, O(1) per
  * closed window. Closed tombstones persist: they are 2 fields, and
  * removing them re-opens the door they close.
  *
  * Selection arithmetic is the batch formula token for token: rank
  * `⌈n·p/100⌉`, smallest qv with cum ≥ rank, ONE double division by
  * 10⁴ at emission. */
object QuantileStream {

  /** (key, window-start epoch-seconds, floor(v·10⁴), event time) —
    * quantize upstream with the same `Trend.quantize4` expression the
    * batch twin uses; pass the ORIGINAL event time as `ts`, not the
    * window start, so lateness means what the pipeline's watermark
    * means. */
  case class QEvent(key: String, w: Long, qv: Long,
    ts: java.sql.Timestamp)
  case class QState(counts: Map[Long, Long], seen: Long,
    closed: Boolean)
  case class QRow(key: String, w: Long, pct: Int, n: Long, est: Double,
    seen: Long)

  private[graft] def fn(pcts: Seq[Int], maxDistinct: Long,
      windowSeconds: Long, latenessMillis: Long)(
      group: (String, Long), it: Iterator[QEvent],
      state: GroupState[QState]): Iterator[QRow] = {
    if (state.hasTimedOut) {
      // watermark passed window end + lateness: finalize to the
      // closed tombstone; no further timeout (it is permanent, O(1))
      val s = state.get
      state.update(QState(Map.empty, s.seen, closed = true))
      Iterator.empty
    } else {
      val prev = state.getOption
        .getOrElse(QState(Map.empty, 0L, closed = false))
      val closeMs = (group._2 + windowSeconds) * 1000L + latenessMillis
      if (prev.closed) {
        // post-close straggler: dropped, re-opens nothing (contract 3)
        Iterator.empty
      } else if (state.getCurrentWatermarkMs() >= closeMs) {
        // a window already past its close time with NO open state: a
        // fresh-timestamp event carrying a stale window id (a corrupt
        // w/ts pairing — the event-time filter only vets ts). Arming
        // the timeout would hand Spark a timestamp before the
        // watermark, an IllegalArgumentException that kills the query
        // and crash-loops on checkpoint replay. Treat it exactly like
        // the tombstone path — the window is closed whether or not it
        // ever opened — and pin the tombstone so later twins drop too.
        state.update(QState(Map.empty, prev.seen, closed = true))
        Iterator.empty
      } else {
        val add = it.foldLeft(Map.empty[Long, Long]) { (acc, e) =>
          acc.updated(e.qv, acc.getOrElse(e.qv, 0L) + 1L) }
        if (add.isEmpty) Iterator.empty
        else {
          val merged = add.foldLeft(prev.counts) { case (acc, (qv, c)) =>
            acc.updated(qv, acc.getOrElse(qv, 0L) + c) }
          require(merged.size <= maxDistinct,
            s"QuantileStream: (${group._1}, ${group._2}) holds " +
              s"${merged.size} distinct quantized values — beyond " +
              s"maxDistinct=$maxDistinct; use a sketch for this value domain")
          val seen = prev.seen + add.valuesIterator.sum
          state.update(QState(merged, seen, closed = false))
          state.setTimeoutTimestamp(closeMs)
          val n = merged.valuesIterator.sum
          val sorted = merged.toArray.sortBy(_._1)
          pcts.iterator.map { p =>
            val rank = (n * p + 99) / 100
            var cum = 0L
            var i = 0
            while (cum < rank) { cum += sorted(i)._2; i += 1 }
            QRow(group._1, group._2, p, n,
              sorted(i - 1)._1.toDouble / 10000.0, seen)
          }
        }
      }
    }
  }

  /** `events` needs (key: string, w: long window-start epoch-seconds,
    * qv: long quantized value, ts: timestamp); null keys, windows,
    * values and times are excluded like the batch twin. The watermark
    * delay is `allowedLateness`: the engine drops no event within that
    * lateness of the stream's max event time. */
  def quantiles(events: DataFrame, pcts: Seq[Int] = Seq(50, 95),
      maxDistinct: Long = 100000L, windowSeconds: Long = 3600L,
      allowedLateness: java.time.Duration =
        java.time.Duration.ofMinutes(10)): Dataset[QRow] = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be integer percents in 1..100, got $pcts")
    require(pcts.distinct.size == pcts.size, s"duplicate pcts in $pcts")
    require(maxDistinct >= 1L, s"maxDistinct=$maxDistinct")
    require(windowSeconds >= 1L, s"windowSeconds=$windowSeconds")
    require(!allowedLateness.isNegative,
      s"allowedLateness=$allowedLateness must be non-negative — a " +
        "negative lateness would arm timeouts behind the watermark")
    val spark = events.sparkSession
    import spark.implicits._
    val sortedPcts = pcts.sorted
    events
      .filter(org.apache.spark.sql.functions.col("key").isNotNull &&
        org.apache.spark.sql.functions.col("w").isNotNull &&
        org.apache.spark.sql.functions.col("qv").isNotNull &&
        org.apache.spark.sql.functions.col("ts").isNotNull)
      .withWatermark("ts", s"${allowedLateness.toMillis} milliseconds")
      .as[QEvent](Encoders.product[QEvent])
      .groupByKey(e => (e.key, e.w))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        fn(sortedPcts, maxDistinct, windowSeconds,
          allowedLateness.toMillis))
  }
}
