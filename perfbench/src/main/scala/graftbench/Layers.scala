package graftbench

/** Every per-layer metric the traced run reports, with its unit. */
object Layers {
  val all: Seq[(String, String)] =
    Tracer.Spans.flatMap(s => Seq(
      s"$s.wall_ms" -> "ms", s"$s.task_ms" -> "ms", s"$s.gc_ms" -> "ms",
      s"$s.shuffle_mb" -> "MB", s"$s.spill_mb" -> "MB", s"$s.max_task_ms" -> "ms")) ++
    Seq(
      "streaming.offsets_ms" -> "ms", "streaming.wal_ms" -> "ms",
      "streaming.add_batch_ms" -> "ms", "streaming.jobs_per_trigger" -> "count",
      "streaming.files_per_trigger" -> "count", "streaming.trigger_drift" -> "ratio",
      "streaming.ledger_skips" -> "count", "generator.late_ms_max" -> "ms",
      "apply.changes_in" -> "count", "apply.keys_out" -> "count",
      "apply.dedup_ratio" -> "ratio", "apply.task_ms" -> "ms", "apply.shuffle_mb" -> "MB",
      "sources.versions" -> "count", "sources.manifest_kb" -> "KB",
      "sources.live_files" -> "count", "sources.merge_task_ms" -> "ms",
      "sources.files_written_per_commit" -> "count",
      "sources.bytes_written_per_change" -> "B", "sources.bytes_per_live_row" -> "B",
      "sources.lookup_files_scanned" -> "count", "sources.lookup_rows_scanned" -> "count",
      "monitor.log_rows" -> "count",
      "text.kept_ratio" -> "ratio", "dedup.exact_groups" -> "count",
      "dedup.minhash_pairs" -> "count", "dedup.minhash_recall" -> "ratio",
      "corpus.contaminated_docs" -> "count",
      "similarity.train_jobs" -> "count", "similarity.recall_at_10" -> "ratio",
      "trace_overhead_ratio" -> "ratio")
}
