package perfbench

/** The metric catalogue: the names and units the benchmark emits, in the
  * order BENCHMARK.json lists them. BenchmarkJsonSpec holds the two equal. */
object Metrics {
  final case class M(name: String, unit: String)

  val endToEnd: Seq[M] = Seq(
    M("setup_s", "s"),
    M("wall_s", "s"),
    M("op_p50_ms", "ms"),
    M("op_p90_ms", "ms"),
    M("heap_live_mb", "MB"),
    M("write_p50_ms", "ms"),
    M("write_p90_ms", "ms"),
    M("read_p50_ms", "ms"),
    M("read_p90_ms", "ms"),
    M("storage_amp", "ratio"))

  val perLayer: Seq[M] = Seq(
    M("queries.build_ms", "ms"),
    M("plans.analysis_ms", "ms"),
    M("plans.optimizer_ms", "ms"),
    M("plans.planning_ms", "ms"),
    M("plans.actions", "count/op"),
    M("plans.codegen_compiles", "count"),
    M("plans.codegen_compile_ms", "ms"),
    M("spark.jobs", "count"),
    M("spark.job_wall_ms", "ms"),
    M("spark.task_run_ms", "ms"),
    M("spark.task_cpu_ms", "ms"),
    M("spark.sched_delay_ms", "ms"),
    M("spark.shuffle_read_bytes", "B"),
    M("spark.shuffle_write_bytes", "B"),
    M("spark.shuffle_fetch_wait_ms", "ms"),
    M("spark.spill_bytes", "B"),
    M("spark.gc_ms", "ms"),
    M("spark.input_rows", "count"),
    M("spark.output_rows", "count"),
    M("spark.rows_in_per_row_out", "ratio"),
    M("spark.core_util", "ratio"),
    M("spark.failed_tasks", "count"),
    M("driver.gap_ms", "ms"),
    M("driver.gc_ms", "ms"),
    M("sources.txlog.meta_ms", "ms"),
    M("sources.txlog.snapshot_ms", "ms"),
    M("sources.txlog.log_files", "count"),
    M("sources.txlog.versions", "count"),
    M("sources.txlog.checkpoints", "count"),
    M("sources.fs.read_ops", "count"),
    M("sources.fs.write_ops", "count"),
    M("sources.fs.bytes_read", "B"),
    M("sources.fs.bytes_written", "B"),
    M("sources.fs.files_created", "count"),
    M("sources.fs.files_deleted", "count"),
    M("sources.warehouse.write_ms", "ms"),
    M("self.queries_ms", "ms"),
    M("self.plans_ms", "ms"),
    M("self.spark_ms", "ms"),
    M("self.sources.txlog_ms", "ms"),
    M("self.sources.warehouse_ms", "ms"),
    M("self.driver_ms", "ms"),
    M("trace.overhead_ms", "ms"),
    M("trace.accounting_misses", "count"),
    M("host.probe_ms", "ms"))
}
