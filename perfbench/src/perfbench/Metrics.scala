package perfbench

/** Every metric the benchmark prints, with its unit. `BENCHMARK.json`
  * lists the same names and units (the self-test checks it). */
object Metrics {

  /** Printed by every untraced run, on every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "rep_s" -> "s",
    "call_iqm_s" -> "s")

  /** Printed by every traced run, on every workload. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s",
    "sources.bytes_read" -> "bytes",
    "sources.jobs" -> "count",
    "sources.volumes" -> "count",
    "sources.undecodable" -> "count",
    "sources.self_share" -> "frac",
    "pipeline.csv_read_s" -> "s",
    "pipeline.truth_labels_s" -> "s",
    "pipeline.build_mapping_s" -> "s",
    "pipeline.json_sink_s" -> "s",
    "pipeline.jobs" -> "count",
    "pipeline.json_read_s" -> "s",
    "pipeline.ground_truths_s" -> "s",
    "pipeline.truths_sink_s" -> "s",
    "pipeline.self_share" -> "frac",
    "pipeline.records_out" -> "count",
    "pipeline.label.benign" -> "count",
    "pipeline.label.malignant" -> "count",
    "pipeline.label.unknown" -> "count",
    "queries.construct_s" -> "s",
    "queries.construct_jobs" -> "count",
    "queries.checkpoint_rdds" -> "count",
    "queries.plan_s" -> "s",
    "queries.stages" -> "count",
    "queries.tasks" -> "count",
    "queries.slot_busy_frac" -> "frac",
    "queries.exec_s" -> "s",
    "queries.exchanges" -> "count",
    "queries.shuffle_write_bytes" -> "bytes",
    "queries.spill_bytes" -> "bytes",
    "queries.task_cpu_frac" -> "frac",
    "queries.construct_share" -> "frac",
    "queries.exec_share" -> "frac",
    "queries.sampled" -> "count",
    "queries.skipped" -> "count",
    "functions.cosine_sim.ns_per_row" -> "ns/row",
    "functions.squared_l2.ns_per_row" -> "ns/row",
    "functions.minhash_slots.ns_per_row" -> "ns/row",
    "functions.hashed_shingles.ns_per_row" -> "ns/row",
    "functions.squash_non_alnum.ns_per_row" -> "ns/row",
    "functions.set_intersect_size.ns_per_row" -> "ns/row",
    "operators.connected_components_s" -> "s",
    "operators.cc_jobs" -> "count",
    "streaming.add_batch_s" -> "s",
    "streaming.plan_s" -> "s",
    "streaming.offsets_s" -> "s",
    "streaming.commit_s" -> "s",
    "streaming.state_rows" -> "count",
    "streaming.state_mem_bytes" -> "bytes",
    "streaming.state_commit_s" -> "s",
    "streaming.batches" -> "count",
    "streaming.rows_dropped_late" -> "count",
    "streaming.input_rows" -> "count",
    "streaming.add_batch_share" -> "frac",
    "jvm.gc_s" -> "s",
    "jvm.heap_peak_mb" -> "MiB",
    "host.steal_frac" -> "frac",
    "host.load_start" -> "load",
    "trace.overhead_frac" -> "frac",
    "e2e.call_p50_s" -> "s",
    "e2e.call_p90_s" -> "s",
    "e2e.calls" -> "count",
    "failed_frac" -> "frac")

  /** The result line: `correct`, `attempted`, `failed` and each metric
    * of `spec` by name with its unit. Fails if a metric is missing. */
  def resultLine(spec: Seq[(String, String)], values: Map[String, Double],
      attempted: Int, failed: Int): String = {
    val missing = spec.map(_._1).filterNot(values.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val ms = spec.map { case (n, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(values(n))},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }
}
