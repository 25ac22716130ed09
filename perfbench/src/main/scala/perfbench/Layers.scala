package perfbench

/** The per-layer metrics, named after the library's modules. Every
  * traced run prints all of them; a layer that a workload bypasses
  * reads 0 there. */
object Layers {
  val engineNames: Seq[String] = Seq("jobs", "stages", "tasks", "failed_tasks",
    "exchanges", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "scan_bytes", "task_busy_s", "busy_share", "planning_s", "gc_s", "peak_heap_mb")
    .map("engine." + _)

  val names: Seq[String] = engineNames ++
    Seq("quality_gate_s", "dedup_spans_s", "dedup_corpus_s", "semantic_collapse_s",
      "decontaminate_s", "winnow_overlap_s", "heldout_score_s", "band_reweight_s",
      "pack_s", "lsh_candidate_pairs", "lsh_verified_pairs", "lsh_precision",
      "hot_buckets_degraded").map("operators." + _) ++
    Seq("pipeline.prepare_s", "pipeline.composition_gap_s") ++
    Seq("word_shingles_s", "minhash_sig_s", "window_hashes_s", "simhash64_s",
      "jaccard_sim_s", "text_bytes").map("functions." + _) ++
    QueryMix.Queries.map(q => s"queries.${q}_s") ++
    Seq("trigger_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms",
      "commit_offsets_ms", "latest_offset_ms", "batches", "rows_per_batch",
      "state_rows", "state_memory_bytes", "state_commit_ms",
      "rows_dropped_by_watermark", "backlog_events", "generator_lag_ms",
      "sustained_eps").map("streaming." + _) ++
    Seq("ops.parse_enrich_s", "ops.parse_kept_share") ++
    Seq("es_bulk_s", "es_bulk_bytes", "lake_upsert_s", "lake_bytes_written",
      "lake_write_amplification", "archive_lag_ms").map("sources." + _) ++
    Seq("job_s", "lat_p50_ms", "lat_p99_ms").map("trace_overhead." + _)

  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes") || name.endsWith("bytes_written")) "bytes"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_eps")) "1/s"
    else if (name.endsWith("share") || name.endsWith("precision") ||
      name.endsWith("amplification")) "ratio"
    else "count"

  /** Engine counts of the traced end-to-end operation: the `measure`
    * span and everything under it. */
  def engine(t: Tracer, o: Main.Outcome): Unit = {
    t.drain()
    val root = t.allSpans.filter(_.name == "measure")
    val c = new EngineCounts
    root.foreach(s => c.add(t.engine(s.id)))
    val wall = root.map(_.seconds).sum
    val busy = c.taskBusyNs / 1e9
    Seq("jobs" -> c.jobs.toDouble, "stages" -> c.stages.toDouble,
      "tasks" -> c.tasks.toDouble, "failed_tasks" -> c.failedTasks.toDouble,
      "exchanges" -> c.exchanges.toDouble,
      "shuffle_write_bytes" -> c.shuffleWrite.toDouble,
      "shuffle_read_bytes" -> c.shuffleRead.toDouble,
      "spill_bytes" -> c.spill.toDouble, "scan_bytes" -> c.scan.toDouble,
      "task_busy_s" -> busy,
      "busy_share" -> (if (wall > 0) busy / (wall * Main.Cores) else 0.0),
      "planning_s" -> c.planningNs / 1e9, "gc_s" -> t.gcSeconds,
      "peak_heap_mb" -> t.peakHeapMb)
      .foreach { case (k, v) => o.layers("engine." + k) = v }
  }

  def json(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s""""$k":${Main.jsonNumber(v)}""" }.mkString("{", ",", "}")
}
