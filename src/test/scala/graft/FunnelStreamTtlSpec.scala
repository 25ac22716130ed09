package graft

import graft.streaming.FunnelStream
import graft.streaming.FunnelStream.{Buf, StepEvent}
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}

class FunnelStreamTtlSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  private def latest(table: String) =
    spark.table(table)
      .groupBy($"user_id")
      .agg(max_by(struct($"ts", $"depth"), $"n_seen").as("f"))
      .select($"user_id", $"f.ts".as("ts"), $"f.depth".as("depth"))
      .as[(Long, Seq[Long], Long)].collect().toSet

  /** Batch reference: q93's `funnelTimes` over (user_id, ts_us,
    * step) events, as (user_id, step times in µs or −1, depth). */
  private def batchFunnel(events: Seq[(Long, Long, Int)], nSteps: Int) =
    graft.operators.Funnel.funnelTimes(
        events.toDF("user_id", "ts_us", "step")
          .select($"user_id", timestamp_micros($"ts_us").as("ts"),
            concat(lit("s"), $"step".cast("string")).as("tp")),
        "user_id", "ts", "tp", (0 until nSteps).map(i => s"s$i"))
      .select($"user_id", array((1 to nSteps).map(k =>
          coalesce(unix_micros(col(s"t$k")), lit(-1L))): _*).as("ts"),
        $"depth")
      .as[(Long, Seq[Long], Long)].collect().toSet

  /** Drains `batches` of (user_id, ts_us, step) through `mk` one
    * micro-batch each; returns the latest snapshot of every funnel
    * entrant. */
  private def drainBatches(name: String,
      batches: Seq[Seq[(Long, Long, Int)]],
      mk: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Dataset[FunnelStream.Snap]) = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Int)]
    val q = mk(input.toDF().toDF("user_id", "ts_us", "step")
        .select($"user_id", timestamp_micros($"ts_us").as("ts"), $"step"))
      .toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    latest(name).filter(_._3 >= 1L)
  }

  test("generous window: drained snapshots ≡ the batch funnel across " +
      "multi-batch late-event re-matching") {
    // user 1 completes 0→1→2 but step 0 arrives LAST (origin rewrite);
    // user 2 stalls at depth 1; user 3 has an out-of-order non-match
    val b1 = Seq((1L, 200L, 1), (2L, 10L, 0), (3L, 50L, 2))
    val b2 = Seq((1L, 300L, 2), (3L, 60L, 1))
    val b3 = Seq((1L, 100L, 0), (3L, 70L, 0))
    // 7-day window, 10-min lateness: nothing closes
    val got = drainBatches("funnel_eq_batch", Seq(b1, b2, b3),
      ev => FunnelStream.funnel(ev, nSteps = 3))
    val batch = batchFunnel(b1 ++ b2 ++ b3, nSteps = 3)
    assert(got === batch, s"got=$got\nbatch=$batch")
    // and the re-match actually happened: user 1 completed the
    // funnel only once its origin event landed
    assert(got.find(_._1 == 1L).get._3 === 3L)
    assert(got.find(_._1 == 3L).get._3 === 1L) // 2,1,0 order never matches
  }

  test("q97's dials keep the drained funnel exact over a shuffled " +
      "multi-batch feed spanning 30 days") {
    // 60 users, 12 steps each at random instants over 30 days (> the
    // operator's 7-day default window), delivered in 4 shuffled
    // batches so origin events often arrive after later steps
    val rnd = new scala.util.Random(97)
    val t0 = 1704067200000000L // 2024-01-01 00:00:00 UTC in µs
    val span = 30L * 86400L * 1000000L
    val events = (1L to 60L).flatMap { u =>
      Seq.fill(12)((u, t0 + (rnd.nextDouble() * span).toLong,
        rnd.nextInt(4)))
    }
    val shuffled = rnd.shuffle(events)
    val got = drainBatches("q97_dials_out",
      shuffled.grouped(shuffled.size / 4 + 1).toSeq,
      graft.queries.StreamingQueries.q97Monitor)
    val batch = batchFunnel(events, nSteps = 4)
    assert(events.map(_._2).max - events.map(_._2).min >
      7L * 86400L * 1000000L)
    assert(batch.exists(_._3 == 4L), "the feed must complete funnels")
    assert(got === batch, s"got=$got\nbatch=$batch")
  }

  test("the watermark CLOSES an idle user to a tombstone; a post-close " +
      "step is dropped and the pre-close snapshot stays the winner") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Int, java.sql.Timestamp)]
    // 60-second observation window, zero lateness, zero watermark
    // delay: a user closes as soon as the watermark passes
    // first event + 60 s
    val out = FunnelStream.funnel(
      input.toDF().toDF("user_id", "ts_us", "step", "ts"), nSteps = 3,
      window = java.time.Duration.ofSeconds(60),
      allowedLateness = java.time.Duration.ZERO)
    val q = out.toDF().writeStream.format("memory")
      .queryName("fttl_close_out").outputMode("append").start()
    try {
      // batch 1: user 1 reaches depth 2 inside [5 s, 65 s)
      input.addData((1L, 5000000L, 0, ts(5)), (1L, 10000000L, 1, ts(10)))
      q.processAllAvailable()
      // batch 2: a far-future user advances the watermark past 65 s...
      input.addData((2L, 600000000L, 0, ts(600)))
      q.processAllAvailable()
      // batch 3: ...and the next batch fires user 1's close
      input.addData((2L, 610000000L, 1, ts(610)))
      q.processAllAvailable()
      // batch 4: user 1's step 2 arrives after the close — it must
      // emit nothing and must NOT beat the pre-close snapshot
      input.addData((1L, 20000000L, 2, ts(20)))
      q.processAllAvailable()
      val u1 = latest("fttl_close_out").filter(_._1 == 1L)
      assert(u1 === Set((1L, Seq(5000000L, 10000000L, -1L), 2L)),
        s"post-close step changed the funnel: $u1")
      // user 2 (still open) kept accumulating normally
      val u2 = latest("fttl_close_out").filter(_._1 == 2L)
      assert(u2 === Set((2L, Seq(600000000L, 610000000L, -1L), 2L)), u2)
    } finally q.stop()
  }

  test("observation window: a step past `first + window` is outside " +
      "the funnel — under-reported depth, never a phantom completion") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Int, java.sql.Timestamp)]
    val out = FunnelStream.funnel(
      input.toDF().toDF("user_id", "ts_us", "step", "ts"), nSteps = 2,
      window = java.time.Duration.ofSeconds(60),
      // nothing closes; only the window acts
      allowedLateness = java.time.Duration.ofDays(30))
    val q = out.toDF().writeStream.format("memory")
      .queryName("fttl_window_out").outputMode("append").start()
    try {
      // step 0 at 10 s anchors the window [10 s, 70 s]; step 1 at
      // 100 s is beyond it — buffered NOWHERE, depth stays 1
      input.addData((1L, 10000000L, 0, ts(10)))
      q.processAllAvailable()
      input.addData((1L, 100000000L, 1, ts(100)))
      q.processAllAvailable()
      // in-window step 1 at 50 s completes it
      input.addData((2L, 10000000L, 0, ts(10)))
      q.processAllAvailable()
      input.addData((2L, 50000000L, 1, ts(50)))
      q.processAllAvailable()
      val got = latest("fttl_window_out")
      assert(got === Set(
        (1L, Seq(10000000L, -1L), 1L),
        (2L, Seq(10000000L, 50000000L), 2L)), got.toString)
    } finally q.stop()
  }

  test("state machine via TestGroupState: tombstone drops; a stale-" +
      "window/fresh-watermark event finalizes instead of arming a " +
      "behind-watermark timeout; an origin rewrite re-anchors") {
    val f = FunnelStream.fn(nSteps = 2, cap = 100,
      windowMicros = 60000000L, latenessMillis = 0L) _
    def ev(tsUs: Long, step: Int) =
      StepEvent(1L, tsUs, step, new java.sql.Timestamp(tsUs / 1000L))
    // 1. a CLOSED tombstone drops an arriving step — in-function, not
    // just the engine's late filter (which only vets ts)
    val closed = Buf(Nil, 7L, closed = true)
    val s1 = TestGroupState.create[Buf](
      Optional.of(closed), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(500000L), false)
    assert(f(1L, Iterator(ev(5000000L, 0)), s1).isEmpty)
    assert(!s1.isUpdated && !s1.isRemoved)
    // 2. poison pair: no prior state, watermark 500 s already past the
    // event's close (5 s + 60 s) — arming the timeout would throw and
    // crash-loop; the user must finalize silently
    val s2 = TestGroupState.create[Buf](
      Optional.empty[Buf], GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(500000L), false)
    assert(f(1L, Iterator(ev(5000000L, 0)), s2).isEmpty)
    assert(s2.get.closed && s2.get.evs.isEmpty, s2.get.toString)
    assert(!s2.getTimeoutTimestampMs.isPresent,
      "no timeout may be armed behind the watermark")
    // 3. the timeout path: open state collapses to the tombstone,
    // n_seen pinned so the pre-close snapshot stays the winner
    val open = Buf(List((5000000L, 0)), 3L, closed = false)
    val s3 = TestGroupState.create[Buf](
      Optional.of(open), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(500000L), true)
    assert(f(1L, Iterator.empty, s3).isEmpty)
    assert(s3.get === Buf(Nil, 3L, closed = true))
    // 4. origin rewrite: a late EARLIER event re-anchors the window
    // to [50 s, 110 s]; the buffered step 1 at 100 s stays inside it
    // and the funnel completes from the rewritten origin
    val anchored = Buf(List((100000000L, 1)), 1L, closed = false)
    val s4 = TestGroupState.create[Buf](
      Optional.of(anchored), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(0L), false)
    val snap = f(1L, Iterator(ev(50000000L, 0)), s4).toList
    assert(snap.map(s => (s.ts, s.depth)) ===
      List((Seq(50000000L, 100000000L), 2L)), snap.toString)
    // ...and a buffered step NOW outside the rewritten window drops
    // from the buffer: anchor 50 s, window 60 s → 120 s is out
    val anchored2 = Buf(List((120000000L, 1)), 1L, closed = false)
    val s5 = TestGroupState.create[Buf](
      Optional.of(anchored2), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(0L), false)
    val snap2 = f(1L, Iterator(ev(50000000L, 0)), s5).toList
    assert(snap2.map(s => (s.ts, s.depth)) ===
      List((Seq(50000000L, -1L), 1L)), snap2.toString)
    assert(s5.get.evs === List((50000000L, 0)))
    // 5. an origin rewrite whose window is ALREADY past the watermark
    // finalizes now — prior emissions stand
    val s6 = TestGroupState.create[Buf](
      Optional.of(anchored), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(500000L), false)
    assert(f(1L, Iterator(ev(5000000L, 0)), s6).isEmpty)
    assert(s6.get === Buf(Nil, 1L, closed = true))
  }

  test("n_seen counts only ACCEPTED events: an all-out-of-window batch " +
      "emits nothing, leaves state untouched, and re-arms the close") {
    val f = FunnelStream.fn(nSteps = 2, cap = 100,
      windowMicros = 60000000L, latenessMillis = 0L) _
    def ev(tsUs: Long, step: Int) =
      StepEvent(1L, tsUs, step, new java.sql.Timestamp(tsUs / 1000L))
    // open funnel anchored at 10 s (window [10 s, 70 s]); an event at
    // 100 s is outside it — it must not bump n_seen while being
    // dropped
    val open = Buf(List((10000000L, 0)), 1L, closed = false)
    val s = TestGroupState.create[Buf](
      Optional.of(open), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(0L), false)
    assert(f(1L, Iterator(ev(100000000L, 1)), s).isEmpty,
      "an out-of-window-only batch must not emit a snapshot")
    assert(!s.isUpdated, "state must be untouched — n_seen stays pinned")
    assert(s.getTimeoutTimestampMs.isPresent,
      "the close must be re-armed (the engine clears it per invocation)")
    // ...and a subsequent IN-window event counts exactly itself
    val s2 = TestGroupState.create[Buf](
      Optional.of(open), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(0L), false)
    val snap = f(1L, Iterator(ev(100000000L, 1), ev(20000000L, 1)), s2)
      .toList
    assert(snap.map(_.n_seen) === List(2L),
      s"n_seen must be prev(1) + accepted(1), got $snap")
  }

  test("the close instant rounds micros UP to the enclosing " +
      "millisecond — a watermark at floor(close) must not finalize") {
    // window end 5 s + 60.0005 s = 65.0005 s → 65001 ms ceil; flooring
    // to 65000 ms would close up to 999 µs before the window's end
    val f = FunnelStream.fn(nSteps = 2, cap = 100,
      windowMicros = 60000500L, latenessMillis = 0L) _
    val s = TestGroupState.create[Buf](
      Optional.empty[Buf], GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(65000L), false)
    val snap = f(1L, Iterator(
      StepEvent(1L, 5000000L, 0, new java.sql.Timestamp(5000L))), s)
      .toList
    assert(snap.map(_.depth) === List(1L),
      "watermark 65000 ms is inside the 65000.5 ms window — must emit")
    assert(s.getTimeoutTimestampMs.isPresent &&
      s.getTimeoutTimestampMs.get === 65001L,
      s"close must arm at ceil = 65001 ms, got ${s.getTimeoutTimestampMs}")
  }

  test("funnel() derives ts_us from ts — an inconsistent caller-" +
      "supplied ts_us column cannot skew the close/late-filter math") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Int, java.sql.Timestamp)]
    // caller supplies a GARBAGE ts_us (raw seconds, not micros); the
    // operator must overwrite it with unix_micros(ts)
    val out = FunnelStream.funnel(
      input.toDF().toDF("user_id", "ts_us", "step", "ts"), nSteps = 2,
      window = java.time.Duration.ofSeconds(60),
      allowedLateness = java.time.Duration.ofDays(30))
    val q = out.toDF().writeStream.format("memory")
      .queryName("fttl_derive_out").outputMode("append").start()
    try {
      input.addData((1L, 10L, 0, ts(10)), (1L, 50L, 1, ts(50)))
      q.processAllAvailable()
      val got = latest("fttl_derive_out")
      assert(got === Set((1L, Seq(10000000L, 50000000L), 2L)),
        s"snapshots must carry derived micro timestamps: $got")
    } finally q.stop()
  }

  test("guards: cap below nSteps, zero window, negative lateness") {
    val df = Seq((1L, 0L, 0, ts(0))).toDF("user_id", "ts_us", "step", "ts")
    intercept[IllegalArgumentException] {
      FunnelStream.funnel(df, nSteps = 3, cap = 2) }
    intercept[IllegalArgumentException] {
      FunnelStream.funnel(df, nSteps = 3,
        window = java.time.Duration.ZERO) }
    intercept[IllegalArgumentException] {
      FunnelStream.funnel(df, nSteps = 3,
        allowedLateness = java.time.Duration.ofMinutes(-1)) }
  }
}
