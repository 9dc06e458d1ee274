package graftbench

/** The benchmark's metric catalogue: name → unit. `BENCHMARK.json` lists
  * the same names and units (MetricCatalogSpec keeps the two in step). */
object Metrics {

  /** Reported with tracing off, on every workload. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "work_per_s" -> "1/s",
    "op_ms.p50" -> "ms")

  /** Reported by the traced run, per traced pass; a layer a workload does
    * not exercise reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "api.build_ms" -> "ms",
    "api.eager_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "sched.jobs" -> "count",
    "sched.stages" -> "count",
    "sched.tasks" -> "count",
    "sched.delay_ms" -> "ms",
    "exec.wall_ms" -> "ms",
    "exec.run_ms" -> "ms",
    "exec.cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms",
    "shuffle.write_bytes" -> "bytes",
    "shuffle.write_records" -> "count",
    "shuffle.fetch_wait_ms" -> "ms",
    "spill.bytes" -> "bytes",
    "gvcf.combine_ms" -> "ms",
    "gvcf.genotype_ms" -> "ms",
    "gvcf.export_ms" -> "ms",
    "gvcf.coverage_rows" -> "count",
    "gvcf.cells_per_coverage_row" -> "ratio",
    "sink.write_ms" -> "ms",
    "sink.files" -> "count",
    "sink.bytes" -> "bytes",
    "store.scan_ms" -> "ms",
    "store.scan_files_read" -> "count",
    "store.scan_pruned_ratio" -> "ratio",
    "store.scan_bytes_read" -> "bytes",
    "store.asof_ms" -> "ms",
    "store.compact_ms" -> "ms",
    "store.compact_bytes_rewritten" -> "bytes",
    "store.live_files" -> "count",
    "store.write_amp" -> "ratio",
    "store.space_amp" -> "ratio",
    "dedup.exact_ms" -> "ms",
    "dedup.near_ms" -> "ms",
    "dedup.ngram_ms" -> "ms",
    "dedup.simhash_ms" -> "ms",
    "dedup.clean_ms" -> "ms",
    "dedup.band_exchange_bytes" -> "bytes",
    "dedup.pair_rows" -> "count",
    "dedup.planted_recall" -> "ratio",
    "jvm.driver_gc_ms" -> "ms",
    "jvm.live_heap_mb" -> "MB",
    "op_ms.tail" -> "ms",
    "op_ms.tail_pct" -> "pct",
    "op_ms.samples" -> "count",
    "trace.op_self_ms" -> "ms",
    "trace.run_s" -> "s",
    "trace.untraced_run_s" -> "s",
    "trace.overhead_ratio" -> "ratio")

  val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"
}
