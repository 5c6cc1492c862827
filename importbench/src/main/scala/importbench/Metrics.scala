package importbench

/** Every metric the benchmark prints, with its unit: the end-to-end set
  * of an untraced run and the per-layer set of a traced one. A run
  * prints exactly its set, in this order; `BENCHMARK.json` lists the
  * same names and units. */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "import_s" -> "s",
    "pages_per_s" -> "pages/s",
    "quads_per_s" -> "quads/s",
    "rss_peak_mb" -> "MB")

  /** Self-time metric → the layer (span name) it reports. */
  val SelfTimes: Seq[(String, String)] = Seq(
    "pagesource.read_s" -> "pagesource.read",
    "extract.extract_s" -> "extract.extract",
    "extract.externalize_s" -> "extract.externalize",
    "extract.provenance_s" -> "extract.provenance",
    "rdf.tag_s" -> "rdf.tag",
    "rdf.serialize_s" -> "rdf.serialize",
    "sink.ttl_write_s" -> "sink.ttl",
    "sink.sizes_s" -> "sink.sizes",
    "sink.html_write_s" -> "sink.html",
    "registry.s" -> "registry",
    "taskstore.load_s" -> "taskstore.load",
    "state.swap_s" -> "state.swap",
    "state.checkpoint_s" -> "state.checkpoint",
    "state.read_s" -> "state.read",
    "pipeline.orchestrate_s" -> "pipeline.orchestrate",
    "delta.engine_s" -> "delta",
    "spark.unattributed_s" -> Attribution.Unattributed)

  val PerLayer: Seq[(String, String)] = SelfTimes.map(_._1 -> "s") ++ Seq(
    "service.recover_s" -> "s",
    "delta.batches" -> "count",
    "delta.dispatch_lag_s" -> "s",
    "state.rows" -> "count",
    "taskstore.pages" -> "count",
    "pagesource.bytes_read" -> "bytes",
    "pagesource.scan_tasks" -> "count",
    "pagesource.read_amplification" -> "ratio",
    "html.parse_ms_per_page" -> "ms",
    "html.extract_ms_per_page" -> "ms",
    "html.quads_per_page" -> "count",
    "html.failed_pages" -> "count",
    "extract.quads" -> "count",
    "extract.provenance_quads" -> "count",
    "rdf.valid" -> "count",
    "rdf.corrected" -> "count",
    "rdf.invalid" -> "count",
    "rdf.codegen_fallbacks" -> "count",
    "sink.ttl_bytes" -> "bytes",
    "sink.html_files" -> "count",
    "sink.html_write_tasks" -> "count",
    "registry.quads_minted" -> "count",
    "registry.quads_appended" -> "count",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.executor_cpu_s" -> "s",
    "spark.driver_gap_s" -> "s",
    "spark.max_task_share" -> "ratio",
    "trace.coverage" -> "ratio",
    "trace.import_s" -> "s",
    "trace.overhead_s" -> "s")

  /** `values` in the declared order with units; fails on a missing or
    * undeclared name, so the printed set never drifts from the list. */
  def ordered(declared: Seq[(String, String)],
      values: Map[String, Double]): Seq[(String, Double, String)] = {
    val names = declared.map(_._1).toSet
    require(values.keySet == names,
      s"metrics differ from the declared set: extra ${values.keySet -- names}, " +
        s"missing ${names -- values.keySet}")
    declared.map { case (n, u) => (n, values(n), u) }
  }
}
