package perfbench

/** Every per-layer metric a traced run prints, with its unit, named
  * `<module>.<metric>`. A workload that does not load a module reports
  * its metrics as 0. */
object Layers {
  val Artifacts: Seq[String] = Seq("bucketed", "ivf", "knn_index", "merged_ivf", "minhash",
    "minhash_merged", "sigs", "classifier", "pq", "evalsh", "tokenizer")

  val HeavyPipelineQueries: Seq[String] = Seq("q_pipeline_full", "q_dedup_canonical_refined",
    "q_dedup_cluster_merge", "q_entity_master_merge", "q_pipeline_waterfall")

  private def streaming(p: String, timers: Boolean): Seq[(String, String)] = Seq(
    s"$p.triggers" -> "count", s"$p.add_batch_ms" -> "ms", s"$p.wal_commit_ms" -> "ms",
    s"$p.state_commit_ms" -> "ms", s"$p.state_rows" -> "count", s"$p.state_mem_bytes" -> "bytes",
    s"$p.rows_dropped_late" -> "count", s"$p.watermark_lag_ms" -> "ms") ++
    (if (timers) Seq(s"$p.timers_expired" -> "count") else Nil)

  private def query(p: String): Seq[(String, String)] = Seq(
    s"$p.build_s" -> "s", s"$p.plan_time_jobs" -> "count", s"$p.analysis_s" -> "s",
    s"$p.optimization_s" -> "s", s"$p.planning_s" -> "s", s"$p.jobs" -> "count",
    s"$p.stages" -> "count", s"$p.tasks" -> "count", s"$p.executor_cpu_s" -> "s",
    s"$p.executor_run_s" -> "s", s"$p.busy_frac" -> "ratio", s"$p.shuffle_read_bytes" -> "bytes",
    s"$p.shuffle_write_bytes" -> "bytes", s"$p.spill_bytes" -> "bytes", s"$p.untracked_s" -> "s")

  val all: Seq[(String, String)] =
    Seq("setup.session_s" -> "s", "setup.warm_s" -> "s") ++
      Artifacts.map(a => s"setup.artifact.${a}_s" -> "s") ++
      Seq("setup.artifact_failures" -> "count", "caches.clear_s" -> "s",
        "sources.input_rows" -> "count", "sources.input_bytes" -> "bytes",
        "pattern.events_per_s" -> "1/s", "pattern.ns_per_event" -> "ns",
        "pattern.matches" -> "count", "pattern.timeouts" -> "count",
        "pattern.live_partials_peak" -> "count", "pattern.held_outputs_peak" -> "count",
        "operators.wall_s" -> "s", "operators.events_per_s" -> "1/s", "operators.cpu_s" -> "s",
        "operators.overhead_x" -> "ratio", "operators.shuffle_write_bytes" -> "bytes",
        "operators.spill_bytes" -> "bytes", "operators.task_max_s" -> "s",
        "operators.task_skew" -> "ratio",
        "sql.build_s" -> "s", "sql.wall_s" -> "s", "sql.events_per_s" -> "1/s", "sql.cpu_s" -> "s",
        "sql.overhead_x" -> "ratio", "sql.matches" -> "count") ++
      streaming("streaming.cep", timers = true) ++ streaming("streaming.ewma", timers = false) ++
      query("relational") ++ query("pipeline") ++
      HeavyPipelineQueries.map(q => s"pipeline.jobs.$q" -> "count")
}
