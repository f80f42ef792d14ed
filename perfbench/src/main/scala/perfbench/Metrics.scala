package perfbench

/** Names and units of the per-layer metrics a traced run reports, in the
  * order of BENCHMARK.json. A metric a workload does not exercise reads 0. */
object Metrics {
  /** query_mix's registry queries: TPC-H pricing summary, the interval
    * join, the windowed anomaly scan, and pagerank, whose iterations carry
    * the driver gap. */
  val queries: Seq[String] = Seq(
    "q1_pricing_summary", "join_interval", "events_anomaly", "graph_pagerank")

  /** The smoke run's two queries (one relational, one MDIO). */
  val smokeQueries: Seq[String] = Seq("q1_pricing_summary", "mdio_agc")

  val sliceKinds: Seq[String] =
    Seq("inline", "crossline", "timeslice", "sel_range", "value_range", "coord_select")

  val perLayer: Seq[(String, String)] = Seq(
    "spec.create_ms" -> "ms",
    "zarr.fetch_MBps" -> "MiB/s",
    "zarr.decompress_MBps" -> "MiB/s",
    "zarr.decode_MBps" -> "MiB/s",
    "zarr.encode_MBps" -> "MiB/s",
    "zarr.compress_MBps" -> "MiB/s",
    "zarr.ceiling_MiB" -> "MiB",
    "zarr.bytes_read" -> "bytes",
    "zarr.read_ops" -> "count",
    "zarr.bytes_returned" -> "bytes",
    "zarr.read_amp" -> "ratio",
    "zarr.bytes_written" -> "bytes",
    "zarr.stored_bytes" -> "bytes",
    "zarr.write_amp" -> "ratio",
    "sources.scan_tasks" -> "count",
    "sources.scan_beyond_codec_s" -> "s",
    "sources.write_shuffle_MiB" -> "MiB",
    "sources.write_commit_ms" -> "ms",
    "operators.open_ms" -> "ms") ++
    sliceKinds.map(k => s"operators.${k}_p50_ms" -> "ms") ++ Seq(
    "operators.stats_compute_s" -> "s",
    "operators.stats_attach_ms" -> "ms") ++
    queries.map(q => s"queries.${q}_s" -> "s") ++ Seq(
    "driver.analysis_ms" -> "ms",
    "driver.optimization_ms" -> "ms",
    "driver.planning_ms" -> "ms",
    "driver.jobs" -> "count",
    "driver.gap_ms" -> "ms",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.run_s" -> "s",
    "exec.cpu_s" -> "s",
    "exec.gc_s" -> "s",
    "exec.core_util" -> "ratio",
    "exec.shuffle_read_MiB" -> "MiB",
    "exec.shuffle_write_MiB" -> "MiB",
    "exec.spill_MiB" -> "MiB",
    "error_rate" -> "ratio",
    "traced.setup_s" -> "s",
    "traced.kind_p50_ms" -> "ms",
    "traced.pass_s" -> "s",
    "traced.peak_rss_MiB" -> "MiB")
}
