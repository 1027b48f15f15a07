package perfbench

/** The per-layer metrics every traced run reports, in BENCHMARK.json
  * order. A workload that does not exercise a layer reports 0 for it
  * (state metrics in batch, construction metrics in streaming).
  */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "source.rows" -> "count",
    "source.latest_offset_ms" -> "ms",
    "source.get_batch_ms" -> "ms",
    "source.lag_ms" -> "ms",
    "stream.query_planning_ms" -> "ms",
    "stream.add_batch_ms" -> "ms",
    "stream.busy_frac" -> "ratio",
    "microbatch.p90_ms" -> "ms",
    "sink.alerts" -> "count",
    "state.commit_ms" -> "ms",
    "state.rows_total" -> "count",
    "state.rows_updated" -> "count",
    "state.rows_removed" -> "count",
    "state.memory_bytes" -> "bytes",
    "state.rows_dropped_by_watermark" -> "count",
    "state.rocksdb_get_count" -> "count",
    "state.rocksdb_put_count" -> "count",
    "state.rocksdb_bytes_written" -> "bytes",
    "state.rocksdb_file_sync_ms" -> "ms",
    "state.rocksdb_compact_ms" -> "ms",
    "wal.offset_log_ms" -> "ms",
    "wal.commit_log_ms" -> "ms",
    "construct.s" -> "s",
    "construct.jobs" -> "count",
    "plan.s" -> "s",
    "exec.s" -> "s",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.task_cpu_s" -> "s",
    "exec.task_overhead_s" -> "s",
    "shuffle.read_bytes" -> "bytes",
    "shuffle.write_bytes" -> "bytes",
    "shuffle.spill_bytes" -> "bytes",
    "scan.bytes" -> "bytes",
    "scan.rows" -> "count",
    "scan.files" -> "count",
    "build.s" -> "s",
    "build.jobs" -> "count",
    "build.postings_s" -> "s",
    "jvm.gc_s" -> "s",
    "jvm.jit_s" -> "s",
    "jvm.heap_peak_mb" -> "MB",
    "jvm.rss_peak_mb" -> "MB")

  /** Every layer metric in order, 0 where `measured` has no value. */
  def fill(measured: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val byName = measured.map(m => m._1 -> m).toMap
    val unknown = byName.keySet -- units.map(_._1)
    require(unknown.isEmpty, s"layer metrics missing from Layers.units: $unknown")
    units.map { case (n, u) => byName.get(n).map(_.copy(_3 = u)).getOrElse((n, 0.0, u)) }
  }
}
