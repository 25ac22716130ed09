package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Main.{Args, Outcome, Workload, median, pct, timed}

object Workloads {
  /** Timed repetitions: one per `unitS` seconds of `--seconds` (about
    * what one repetition takes at 4 cores), at least one. A fixed
    * count, not a deadline: how many repetitions fit would otherwise
    * vary between runs and shift the median, as the JIT is still
    * warming after the untimed warm-up. */
  def reps(seconds: Int, unitS: Int): Int = math.max(1, seconds / unitS)
}

/** Sets the three end-to-end values from one run's samples (seconds). */
private object E2e {
  def set(o: Outcome, jobS: Seq[Double], latMs: Seq[Double]): Unit = {
    o.e2e("job_s") = median(jobS)
    o.e2e("lat_p50_ms") = median(latMs)
    o.e2e("lat_p99_ms") = pct(latMs, 0.99)
  }

  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }
}

/** `corpus_prep`: the unit of work is one `prepare` call, timed from the
  * call until its parquet output is written. */
final class CorpusPrepWorkload(spark: SparkSession, a: Args) extends Workload {
  private val dir = s"${a.work}/corpus_prep"
  private var in: CorpusPrep.Inputs = _
  private var reference: Digest = _

  def setup(): Double = {
    val gens = (1 to 3).map { i =>
      val (inputs, s) = timed(CorpusPrep.inputs(spark, s"$dir/in$i", a.seed))
      in = inputs
      s
    }
    val (_, warm) = timed(CorpusPrep.prepare(spark, in, s"$dir/warm"))
    reference = Digest.of(spark.read.parquet(s"$dir/warm"))
    spark.catalog.clearCache()
    System.err.println(f"[perfbench] corpus_prep: ${in.nDocs} docs, inputs " +
      f"${median(gens)}%.2f s, warm-up prepare $warm%.2f s")
    median(gens) + warm
  }

  def measure(t: Tracer): Outcome = {
    val o = new Outcome
    val times = mutable.ArrayBuffer.empty[Double]
    for (i <- 1 to Workloads.reps(a.seconds, 10)) {
      val out = s"$dir/out-${t.enabled}-$i"
      o.attempted += 1
      try {
        val (_, s) = timed(t.span("measure")(CorpusPrep.prepare(spark, in, out)))
        times += s
        CorpusPrep.check(spark, in, out).foreach(p => o.problems += p)
        val d = Digest.of(spark.read.parquet(out))
        o.check(d == reference, s"prepare digest ${d.json} differs from the " +
          s"warm-up's ${reference.json} at the same seed")
      } catch {
        case NonFatal(e) =>
          o.failed += 1
          o.problems += s"prepare failed: $e"
      } finally spark.catalog.clearCache()
    }
    E2e.set(o, times.toSeq, times.map(_ * 1000).toSeq)
    System.err.println(s"[perfbench] corpus_prep: prepare ${times.map(x => f"$x%.2f").mkString(" ")} s")
    if (t.enabled) layers(t, o)
    o
  }

  private def layers(t: Tracer, o: Outcome): Unit = {
    val out = s"$dir/unrolled"
    CorpusPrep.unrolled(spark, in, out, t)
    val d = Digest.of(spark.read.parquet(out))
    o.check(d == reference, s"unrolled composition digest ${d.json} differs " +
      s"from prepare's ${reference.json}")
    spark.catalog.clearCache()
    val ops = Seq("quality_gate", "dedup_spans", "dedup_corpus",
      "semantic_collapse", "decontaminate", "winnow_overlap", "heldout_score",
      "band_reweight", "pack").map("operators." + _)
    ops.foreach(n => o.layers(n + "_s") = t.seconds(n))
    o.layers("pipeline.prepare_s") = o.e2e("job_s")
    o.layers("pipeline.composition_gap_s") =
      o.e2e("job_s") - ops.map(t.seconds).sum
    o.layers ++= CorpusPrep.functions(spark, in, t)
    o.layers ++= CorpusPrep.lshCounts(spark, in)
    spark.catalog.clearCache()
  }
}

/** `query_mix`: the unit of work is one pass over the queries, each run
  * to its digest; per-query times are per-layer metrics. */
final class QueryMixWorkload(spark: SparkSession, a: Args) extends Workload {
  private val order = QueryMix.order(a.seed)
  private var data: String = _
  private lazy val expected: Map[String, Digest] =
    if (a.record) Map.empty else QueryMix.expected(a.expected)

  def setup(): Double = {
    val gens = (1 to 3).map { i =>
      data = s"${a.work}/query_mix/data$i"
      timed(Gen.standardTables(spark, data, QueryMix.DataSeed))._2
    }
    val (warm, s) = timed(order.map(q => q -> QueryMix.run(spark, data, q)))
    if (a.record) {
      val lines = QueryMix.Queries.map { q =>
        val d = warm.toMap.apply(q).getOrElse(
          throw new IllegalStateException(s"$q failed while recording"))
        s"$q ${d.rows} ${d.hash}"
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(a.expected),
        ("# query rows xxhash64-sum, generated tables at data seed 42\n" +
          lines.mkString("", "\n", "\n")).getBytes("UTF-8"))
    }
    System.err.println(f"[perfbench] query_mix: tables ${median(gens)}%.2f s, " +
      f"warm-up pass $s%.2f s")
    median(gens) + s
  }

  def measure(t: Tracer): Outcome = {
    val o = new Outcome
    val perQuery = mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    val passes = mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to Workloads.reps(a.seconds, 5)) {
      var sum = 0.0
      t.span("measure") {
        order.foreach { q =>
          o.attempted += 1
          val (d, s) = timed(t.span(s"queries.$q")(QueryMix.run(spark, data, q)))
          d match {
            case None => o.failed += 1; o.problems += s"$q failed"
            case Some(got) =>
              // a failed query never enters the timing statistics
              perQuery(q) = s :: perQuery(q)
              sum += s
              expected.get(q).foreach(want => o.check(got == want,
                s"$q digest ${got.json} != expected ${want.json}"))
          }
        }
      }
      passes += sum
    }
    System.err.println(s"[perfbench] query_mix: passes ${passes.map(x => f"$x%.2f").mkString(" ")} s")
    E2e.set(o, passes.toSeq, passes.map(_ * 1000).toSeq)
    if (t.enabled) QueryMix.Queries.foreach(q =>
      o.layers(s"queries.${q}_s") = median(perQuery(q)))
    o
  }
}

/** `egal_stream`: open loop. The latency unit is one generated chunk at
  * the paced rate; the job is draining a fixed burst of events. */
final class EgalStreamWorkload(spark: SparkSession, a: Args) extends Workload {
  import EgalStream._
  private val dir = s"${a.work}/egal_stream"
  private var plan: Plan = _

  def setup(): Double = {
    val gens = (1 to 3).map(_ => timed { plan = EgalStream.plan(a.seed, a.seconds) }._2)
    val (_, warm) = timed {
      val src = new Source(a.seed + 1)
      val p = new Pipeline(spark, s"$dir/warm", layered = false)
      try {
        p.offer(src.chunk(500), System.currentTimeMillis())
        p.drain()
      } finally p.stop()
      EsCapture.payloads.clear()
      E2e.delete(s"$dir/warm")
    }
    System.err.println(f"[perfbench] egal_stream: plan ${median(gens)}%.2f s, " +
      f"warm-up $warm%.2f s")
    median(gens) + warm
  }

  def measure(t: Tracer): Outcome = {
    val o = new Outcome
    EsCapture.payloads.clear()
    val run = s"$dir/run-${t.enabled}"
    val p = new Pipeline(spark, run, layered = t.enabled)
    var due = Array.empty[Long]
    var lag, backlog = 0.0
    val drains = mutable.ArrayBuffer.empty[Double]
    try {
      p.offer(plan.prime, System.currentTimeMillis())
      p.drain()
      t.span("measure") {
        val (d, l) = feed(p, plan.paced, TickMs)
        backlog = plan.paced.map(_.keys.size).sum + plan.prime.keys.size -
          captured(0, EsCapture.payloads.size).size
        p.drain()
        plan.bursts.foreach { b =>
          drains += timed {
            p.offer(b, System.currentTimeMillis())
            p.drain()
          }._2
        }
        due = d
        lag = l
      }
    } catch {
      case NonFatal(e) => o.problems += s"stream failed: $e"
    } finally p.stop()
    val commits = scala.jdk.CollectionConverters.IterableHasAsScala(p.commits).asScala.toSeq
    val lat = if (due.isEmpty) Nil else latencies(plan.paced, due, commits, 0)
    E2e.set(o, drains.toSeq, lat)
    System.err.println(s"[perfbench] egal_stream: ${lat.size} latency samples, " +
      s"${commits.size} batches")
    check(o, p, run)
    if (t.enabled) layers(t, o, p, backlog, lag)
    E2e.delete(run)
    o
  }

  /** Every distinct (eventID, lastUpdateDate) that parses reaches ES
    * exactly once; the lake holds the latest version per eventID; the
    * archive holds every message offered. */
  private def check(o: Outcome, p: Pipeline, run: String): Unit = {
    val chunks = plan.chunks
    val want = chunks.flatMap(_.keys)
    val got = captured(0, EsCapture.payloads.size)
    val gotSet = got.toSet
    val missing = want.count(k => !gotSet(k))
    val dupes = got.size - gotSet.size
    o.attempted += want.size
    o.failed += missing + dupes
    o.check(missing == 0, s"$missing generated events never reached ES")
    o.check(dupes == 0, s"$dupes events reached ES more than once")
    o.check(gotSet.size == want.size, s"ES holds ${gotSet.size} distinct events, " +
      s"${want.size} were generated")
    val latest = want.groupBy(_._1).map { case (id, ks) => id -> ks.map(_._2).max }
    val lake = graft.sources.Lake.read(spark, p.lake)
      .select(col("eventID"), col("lastUpdateDate")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    o.check(lake.size == latest.size && lake.toMap == latest,
      s"lake holds ${lake.size} rows; want the latest of ${latest.size} events")
    val archived = spark.read.parquet(p.archive).count()
    val messages = chunks.map(_.messages.size).sum
    o.check(archived == messages, s"archive holds $archived of $messages messages")
  }

  private def layers(t: Tracer, o: Outcome, p: Pipeline, backlog: Double,
      lag: Double): Unit = {
    t.drain()
    val reports = t.progressReports.filter(r => r.name == "egal_sink" && r.numInputRows > 0)
    def dur(k: String) = median(reports.map(r =>
      Option(r.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val states = reports.flatMap(_.stateOperators)
    Seq("trigger_ms" -> dur("triggerExecution"), "add_batch_ms" -> dur("addBatch"),
      "query_planning_ms" -> dur("queryPlanning"), "wal_commit_ms" -> dur("walCommit"),
      "commit_offsets_ms" -> dur("commitOffsets"), "latest_offset_ms" -> dur("latestOffset"),
      "batches" -> reports.size.toDouble,
      "rows_per_batch" -> median(reports.map(_.numInputRows.toDouble)),
      "state_rows" -> states.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state_memory_bytes" -> states.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "state_commit_ms" -> median(states.map(_.commitTimeMs.toDouble)),
      "rows_dropped_by_watermark" -> states.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "backlog_events" -> backlog, "generator_lag_ms" -> lag,
      "sustained_eps" -> Burst / o.e2e("job_s"))
      .foreach { case (k, v) => o.layers("streaming." + k) = if (v.isNaN) 0.0 else v }
    val esBytes = scala.jdk.CollectionConverters.IterableHasAsScala(EsCapture.payloads)
      .asScala.map(_.getBytes("UTF-8").length.toLong).sum
    o.layers("sources.es_bulk_s") = p.esNs / 1e9
    o.layers("sources.es_bulk_bytes") = esBytes.toDouble
    o.layers("sources.lake_upsert_s") = p.lakeNs / 1e9
    o.layers("sources.lake_bytes_written") = p.lakeBytes.toDouble
    o.layers("sources.lake_write_amplification") =
      if (esBytes > 0) p.lakeBytes.toDouble / esBytes else 0.0
    // archive lag: a file's write time minus the newest chunk it holds
    val files = spark.read.parquet(p.archive)
      .groupBy(input_file_name().as("f")).agg(max(col("timestamp")).as("ts"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime))
    o.layers("sources.archive_lag_ms") = median(files.toSeq.map { case (f, ts) =>
      (new java.io.File(new java.net.URI(f)).lastModified() - ts).toDouble })
    val raw = spark.createDataFrame(plan.bursts.head.messages.map(m => Tuple1(m.getBytes("UTF-8"))))
      .toDF("value")
    val kept = t.span("ops.parse_enrich") {
      val parsed = graft.streaming.Jobs.eventsPipeline(raw).localCheckpoint(true)
      parsed.count()
    }
    o.layers("ops.parse_enrich_s") = t.seconds("ops.parse_enrich")
    o.layers("ops.parse_kept_share") = kept.toDouble / plan.bursts.head.events
  }
}
