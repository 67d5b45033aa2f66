package perfbench

/** Names of everything the benchmark measures. BENCHMARK.json lists the
  * same per-layer metrics; the self-tests keep the two in step. */
object Catalog {

  val Workloads: Seq[String] = Seq("load_codecs", "pipeline_sf001")

  val Variants: Seq[String] =
    Seq("narrow-zstd1", "narrow-zstd6", "narrow-snappy", "narrow-lz4", "narrow-gzip", "wide-zstd6")

  /** The headline queries, plus q53 for `Workload.selectWhereLimitLateMat`. */
  val PipelineQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q02_count_eq", "q03_count_ts_range", "q04_count_like",
    "q05_count_composite", "q06_select_limit", "q07_join_agg", "q10_window_topn", "q13_topk",
    "q15_dedup_exact", "q16_token_stats", "q18_langid", "q20_sessionize", "q21_minhash_pairs",
    "q23_ngram_pairs", "q24_cosine_topk", "q36_tfidf", "q37_bm25", "q53_select_latemat")

  /** (name, unit, better) of every per-layer metric. A traced run reports
    * all of them; a layer its workload does not call reads 0. */
  val perLayer: Seq[(String, String, String)] =
    Seq(("gen.noop_s.narrow", "s", "lower"), ("gen.noop_s.wide", "s", "lower")) ++
      Variants.flatMap(v => Seq(
        (s"ddl.write_s.$v", "s", "lower"),
        (s"ddl.data_bytes.$v", "B", "lower"),
        (s"ddl.files.$v", "count", "lower"),
        (s"load.table_s.$v", "s", "lower"),
        (s"load.batches.$v", "count", "higher"),
        (s"load.slot_util.$v", "ratio", "higher"),
        (s"measure.s.$v", "s", "lower"))) ++
      Seq(("report.s", "s", "lower")) ++
      PipelineQueries.map(q => (s"pipeline.${q}_s", "s", "lower")) ++
      Seq(
        ("run.task_cpu_s", "s", "lower"),
        ("run.task_run_s", "s", "lower"),
        ("run.tasks", "count", "lower"),
        ("run.stages", "count", "lower"),
        ("run.shuffle_write_bytes", "B", "lower"),
        ("run.shuffle_read_bytes", "B", "lower"),
        ("run.spill_bytes", "B", "lower"),
        ("run.input_bytes", "B", "lower"),
        ("run.driver_s", "s", "lower"),
        ("run.gc_s", "s", "lower"),
        ("run.heap_peak_mb", "MB", "lower"),
        ("trace.overhead_frac", "ratio", "lower"))
}
