package perfbench

/** The benchmark's metric names. Later changes claim gains against
  * these names, so they are fixed: add new names, never rename.
  *
  * `endToEnd` and `perLayer` are what every workload prints on its last
  * stdout line (untraced and traced run respectively) and what
  * BENCHMARK.json declares. The workload-specific lists hold the
  * metrics that apply to one workload only; they are printed on the
  * `perfbench-summary` line and written to the run record.
  */
object Metrics {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "ops_per_s" -> "1/s",
    "latency_p50_s" -> "s",
    "heap_peak_mb" -> "MB"
  )

  val perLayer: Seq[(String, String)] = Seq(
    "plans.plan_s" -> "s",
    "plans.analysis_s" -> "s",
    "plans.optimization_s" -> "s",
    "plans.planning_s" -> "s",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "B",
    "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "spark.input_bytes" -> "B",
    "spark.output_bytes" -> "B",
    "spark.stage_wait_s" -> "s",
    "spark.task_skew" -> "ratio",
    "spark.failed_tasks" -> "count",
    "spark.unattributed_jobs" -> "count"
  )

  /** End-to-end metrics beyond the shared ones. `latency_p90_s` is
    * reported only with at least 10 samples beyond it
    * (`Stats.tailPercentile`); `cpu_s_per_op` is the JVM's CPU time in
    * the window per op. */
  private val common = Seq("latency_p90_s" -> "s", "failed_ratio" -> "ratio", "cpu_s_per_op" -> "s")
  val workloadEndToEnd: Map[String, Seq[(String, String)]] = Map(
    "query_batch" -> common,
    "catalog_open" -> common,
    "day2_ingest" -> (common ++ Seq(
      "stored_bytes_per_input_byte" -> "ratio",
      "written_bytes_per_input_byte" -> "ratio"))
  )

  /** Span and counter metrics of the layers each workload drives. Span
    * times are mean seconds per call; counters are per op. */
  val workloadLayers: Map[String, Seq[(String, String)]] = Map(
    "query_batch" -> Seq("queries.build_s" -> "s"),
    "catalog_open" -> Seq(
      "datatypes.detect_s" -> "s",
      "datatypes.head_bytes_read" -> "B",
      "readers.recommend_s" -> "s",
      "readers.read_s" -> "s",
      "readers.discover_s" -> "s",
      "pipeline.auto_s" -> "s",
      "pipeline.discover_s" -> "s",
      "inspect.inspect_s" -> "s",
      "catalog.load_s" -> "s",
      "catalog.resolve_s" -> "s",
      "catalog.search_s" -> "s"),
    "day2_ingest" -> Seq(
      "ops.text_probe_s" -> "s",
      "ops.vector_probe_s" -> "s",
      "ops.text_index_append_s" -> "s",
      "ops.vector_index_append_s" -> "s",
      "readers.delta_append_s" -> "s",
      "readers.iceberg_append_s" -> "s",
      "readers.delta_scan_s" -> "s",
      "readers.iceberg_scan_s" -> "s",
      "ops.text_index_compact_s" -> "s",
      "ops.vector_index_compact_s" -> "s",
      "readers.delta_compact_s" -> "s",
      "readers.iceberg_compact_s" -> "s",
      "readers.live_files" -> "count",
      "ops.text_dup_share" -> "ratio",
      "ops.vector_dup_share" -> "ratio")
  )

  /** The declared workloads. */
  val workloads: Seq[String] = Seq("query_batch", "catalog_open", "day2_ingest")

  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val UnitRe = "[A-Za-z0-9_/%.-]{1,16}".r

  def validName(n: String): Boolean = NameRe.matches(n)
  def validUnit(u: String): Boolean = UnitRe.matches(u)

  /** Every name the benchmark can print, per workload. */
  def allFor(workload: String): Seq[(String, String)] =
    endToEnd ++ perLayer ++ workloadEndToEnd(workload) ++ workloadLayers(workload)
}
