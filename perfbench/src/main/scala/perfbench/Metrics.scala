package perfbench

/** The benchmark's output schema: every metric name it prints, with its unit.
  *
  * `endToEnd` metrics are printed by every run of every workload, each
  * defined per workload (see `Main`). `perLayer` metrics are printed by every
  * traced run; a layer the workload leaves idle reports 0.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "peak_rss_mb" -> "MB",
    "success_rate" -> "ratio",
    "op_p50_ms" -> "ms",
    "op_p90_ms" -> "ms",
    "suite_s" -> "s",
    "items_per_s" -> "items/s")

  /** Workload-specific end-to-end figures; 0 on the other workloads. */
  val workload: Seq[(String, String)] = Seq(
    "error_rate" -> "ratio",
    "sync.catchup_rows_per_s" -> "rows/s",
    "sync.window_p50_ms" -> "ms",
    "sync.window_p90_ms" -> "ms",
    "dedup.text_docs_per_s" -> "items/s",
    "dedup.embed_vecs_per_s" -> "items/s",
    "queries.suite_s" -> "s",
    "queries.p50_ms" -> "ms",
    "queries.p90_ms" -> "ms")

  val families: Seq[String] = Seq("q", "d", "s", "m", "t")
  val namedQueries: Seq[String] = Seq("s03", "s10", "s12", "d07", "d13", "t12", "q52")

  val layers: Seq[(String, String)] = Seq(
    "sources.discover_ms" -> "ms",
    "sources.files_listed" -> "count",
    "sources.files_planned" -> "count",
    "sources.scan_rows" -> "rows",
    "sources.scan_bytes" -> "bytes",
    "merge.ms" -> "ms",
    "merge.rows_in" -> "rows",
    "merge.keys_out" -> "rows",
    "merge.shuffle_write_bytes" -> "bytes",
    "stream.start_ms" -> "ms",
    "stream.planning_ms" -> "ms",
    "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms",
    "stream.state_bytes_written" -> "bytes",
    "stream.state_rows_rewritten_per_input_row" -> "ratio",
    "dedup.pairs_ms" -> "ms",
    "dedup.pairs_out" -> "rows",
    "dedup.pairs_kept_ratio" -> "ratio",
    "dedup.cc_ms" -> "ms",
    "dedup.cc_jobs" -> "count",
    "dedup.embed_pairs_ms" -> "ms",
    "dedup.semantic_ms" -> "ms") ++
    families.map(f => s"queries.family.${f}_s" -> "s") ++
    namedQueries.map(q => s"queries.q.${q}_ms" -> "ms") ++ Seq(
    "engine.jobs_per_op" -> "count",
    "engine.stages_per_op" -> "count",
    "engine.tasks_per_op" -> "count",
    "engine.planning_ms" -> "ms",
    "engine.codegen_compile_ms" -> "ms",
    "engine.task_busy_s" -> "s",
    "engine.task_cpu_s" -> "s",
    "engine.core_util" -> "ratio",
    "engine.skew_max_median" -> "ratio",
    "engine.shuffle_read_bytes" -> "bytes",
    "engine.shuffle_write_bytes" -> "bytes",
    "engine.spill_bytes" -> "bytes",
    "engine.gc_ms" -> "ms",
    "engine.tasks_failed" -> "count")

  /** Traced minus untraced, per end-to-end metric. */
  val overhead: Seq[(String, String)] = endToEnd.map { case (n, u) => s"trace_overhead.$n" -> u }

  val perLayer: Seq[(String, String)] = workload ++ layers ++ overhead

  val units: Map[String, String] = (endToEnd ++ perLayer).toMap
}
