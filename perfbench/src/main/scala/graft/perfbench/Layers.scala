package graft.perfbench

/** A reported metric. A per-layer metric is named `<layer>.<what>`;
 *  `moves` names the end-to-end metrics, and `workloads` the workloads,
 *  that a change in it should show up on. */
final case class Metric(name: String, unit: String, better: String,
    moves: String = "", workloads: Seq[String] = Nil) {
  def layer: String = name.takeWhile(_ != '.')
}

object Layers {
  val workloads: Seq[String] = Seq("geo_filter", "geo_ingest", "zone_join", "doc_dedup")
  val layers: Seq[String] = Seq("functions", "plans", "operators", "sources", "spark", "trace")

  private val geo = Seq("geo_filter")
  private val probe = Seq("geo_filter", "geo_ingest")
  private val ingest = Seq("geo_ingest")
  private val zone = Seq("zone_join")
  private val dedup = Seq("doc_dedup")
  private val heavy = Seq("zone_join", "doc_dedup")

  val endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", "lower"),
    Metric("op_p50_ms", "ms", "lower"),
    Metric("op_tail_ms", "ms", "lower"),
    Metric("rows_per_s", "rows/s", "higher"),
    Metric("cpu_ms_per_op", "ms", "lower"),
    Metric("peak_heap_mb", "MB", "lower"))

  val perLayer: Seq[Metric] = Seq(
    Metric("plans.optimize_ms", "ms", "lower", "op_p50_ms", probe),
    Metric("plans.physical_ms", "ms", "lower", "op_p50_ms", probe),
    Metric("plans.bbox_rewrite_frac", "frac", "higher", "op_p50_ms", probe),
    Metric("plans.grid_join_rewrite_frac", "frac", "higher", "op_p50_ms", zone),
    Metric("sources.rows_scanned_per_row_returned", "ratio", "lower", "op_p50_ms,op_tail_ms", probe),
    Metric("sources.bytes_read_per_op", "bytes", "lower", "op_p50_ms,op_tail_ms", probe),
    Metric("sources.append_ms", "ms", "lower", "op_p50_ms", ingest),
    Metric("sources.probe_ms", "ms", "lower", "op_p50_ms", ingest),
    Metric("sources.bytes_written_per_row", "bytes/row", "lower", "op_p50_ms", ingest),
    Metric("sources.table_files", "count", "lower", "op_p50_ms", ingest),
    Metric("sources.stored_bytes_per_row", "bytes/row", "lower", "op_p50_ms", probe),
    Metric("sources.write_clustered_s", "s", "lower", "setup_s", geo),
    Metric("functions.wkb_read_ns", "ns", "lower", "cpu_ms_per_op,op_p50_ms", zone),
    Metric("functions.st_contains_ns", "ns", "lower", "cpu_ms_per_op,op_p50_ms", zone),
    Metric("functions.st_extent_ns", "ns", "lower", "cpu_ms_per_op,op_p50_ms", zone),
    Metric("functions.st_within_literal_ns", "ns", "lower", "cpu_ms_per_op,op_p50_ms", probe),
    Metric("functions.minhash_sig_us", "us", "lower", "rows_per_s", dedup),
    Metric("operators.cell_estimate_ms", "ms", "lower", "op_p50_ms", zone),
    Metric("operators.join_shuffle_records_per_output_row", "ratio", "lower", "op_p50_ms", zone),
    Metric("operators.exact_dedup_ms", "ms", "lower", "rows_per_s", dedup),
    Metric("operators.minhash_dedup_ms", "ms", "lower", "rows_per_s", dedup),
    Metric("operators.minhash_candidates_per_verified_pair", "ratio", "lower", "rows_per_s", dedup),
    Metric("spark.task_cpu_ms", "ms", "lower", "cpu_ms_per_op,op_p50_ms", heavy),
    Metric("spark.shuffle_write_bytes", "bytes", "lower", "cpu_ms_per_op,op_p50_ms", heavy),
    Metric("spark.shuffle_read_bytes", "bytes", "lower", "cpu_ms_per_op,op_p50_ms", heavy),
    Metric("spark.spill_bytes", "bytes", "lower", "cpu_ms_per_op,op_p50_ms", heavy),
    Metric("spark.stages", "count", "lower", "cpu_ms_per_op,op_p50_ms", heavy),
    Metric("spark.tasks", "count", "lower", "cpu_ms_per_op,op_p50_ms", heavy),
    Metric("spark.driver_ms", "ms", "lower", "cpu_ms_per_op,op_p50_ms", heavy),
    Metric("spark.gc_ms", "ms", "lower", "peak_heap_mb,op_tail_ms", heavy),
    Metric("spark.peak_exec_mem_mb", "MB", "lower", "peak_heap_mb,op_tail_ms", heavy),
    Metric("spark.task_wait_ms", "ms", "lower", "op_tail_ms", zone),
    Metric("spark.task_skew", "ratio", "lower", "op_tail_ms", zone),
    Metric("spark.jit_ms", "ms", "lower", "cpu_ms_per_op,op_p50_ms", heavy),
    Metric("spark.codegen_compiles", "count", "lower", "cpu_ms_per_op,op_p50_ms", heavy),
    Metric("trace.overhead_ms", "ms", "lower"))
}
