package perfbench

/** The metrics a run prints, with their units, in the order of
  * BENCHMARK.json. */
object Metrics {
  /** Every untraced run prints all of these; each workload gives them its
    * own meaning (see README.md). */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "peak_heap_mb" -> "MB",
    "op_p50_s" -> "s",
    "aux_op_p50_s" -> "s",
    "items_per_s" -> "1/s",
    "stored_bytes_per_item" -> "bytes")

  /** Every traced run prints all of these; a layer the workload does not
    * call reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    // every workload: Spark work per operation
    "spark.tasks" -> "count",
    "spark.gc_ms" -> "ms",
    "spark.spill_bytes" -> "bytes",
    "trace.overhead_pct" -> "%",
    // sales_etl
    "etl_run_s" -> "s",
    "ingest.triage_s" -> "s",
    "io.landing_zone_s" -> "s",
    "io.ledger_s" -> "s",
    "io.sinks.write_s" -> "s",
    "io.sinks.write_customer_mart_s" -> "s",
    "io.sinks.write_sales_mart_s" -> "s",
    "io.sinks.write_fact_s" -> "s",
    "etl.csv_bytes_read_per_landed" -> "ratio",
    "etl.shuffle_bytes" -> "bytes",
    "etl.jobs" -> "count",
    // index_ingest
    "ingest_batch_p50_s" -> "s",
    "ingest_docs_per_s" -> "1/s",
    "index_bytes_per_doc" -> "bytes",
    "ops.dedup.append_partial_s" -> "s",
    "streaming.protocol_s" -> "s",
    "io.bucketing.metastore_calls_per_batch" -> "count",
    "io.bucketing.maintain_s" -> "s",
    "io.bucketing.rewrites" -> "count",
    // index_ingest and index_serve
    "io.bucketing.index_files" -> "count",
    // index_serve
    "serve_probe_p50_s" -> "s",
    "serve_mutation_p50_s" -> "s",
    "ops.dedup.probe_tasks" -> "count",
    "ops.dedup.probe_shuffle_bytes" -> "bytes",
    "ops.dedup.probe_jobs" -> "count",
    "sql.parse_s" -> "s",
    "io.tombstones.retract_s" -> "s",
    "io.tombstones.purge_s" -> "s",
    "io.bucketing.compact_s" -> "s",
    // curation_batch
    "curation_run_s" -> "s",
    "ops.text_analysis.classifier_s" -> "s",
    "ops.text_analysis.classifier_jobs" -> "count",
    "ops.text_analysis.classifier_shuffle_bytes" -> "bytes",
    "ops.dedup.minhash_lsh_s" -> "s",
    "ops.similarity.lsh_topk_s" -> "s",
    // index_ingest and curation_batch
    "functions.minhash_signature_s" -> "s")
}
