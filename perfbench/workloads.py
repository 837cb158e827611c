"""The benchmark's workloads and its per-layer metric names.

Each workload is a fixed, ordered list of `SparkEntry.queries` names. The
lists are sized so that a run (JVM start, warmup passes, timed passes,
output dump and the DuckDB check) takes under a minute at sf0.1 on 4 cores.
"""

WORKLOADS = {
    # The paper's connector traffic, then audit reads of what it wrote:
    # paged JSON extraction, timestamped append into a raw table, a CDC
    # upsert, a SQL update through the MergeableCatalog and a streaming
    # aggregate; then TPC-H pricing and a sort-merge join, short queries
    # where planning and per-action driver cost are a large share. A
    # layout change that helps reads and costs writes shows in both halves.
    "etl": [
        "source_api_v2", "sink_raw_append", "sink_cdc_apply", "sql_update",
        "stream_tumbling", "q1_pricing_summary", "join_sortmerge",
    ],
    # The north star's curation and graph operators: MinHash dedup on the
    # graft.plans kernels, exact vector top-k, product-quantized search,
    # BM25 scoring from TextOps, and a biased random walk over a stored
    # graph layout (persist/localCheckpoint loops inside construction, many
    # Spark jobs per entry).
    "curate": [
        "dedup_near", "sim_topk", "sim_pq", "text_bm25",
        "graph_random_walk_biased_stored",
    ],
}

# (name, unit) of every per-layer metric a traced run reports.
PER_LAYER = [
    ("entry.construct_s", "s"), ("entry.action_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_s", "s"), ("spark.executor_cpu_s", "s"), ("spark.task_gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.peak_exec_mem_mb", "MB"),
    ("spark.input_mb", "MB"), ("spark.tasks_failed", "count"),
    ("spark.driver_only_s", "s"),
    ("plan.queries", "count"), ("plan.s", "s"), ("plan.exchanges", "count"),
    ("plan.sorts", "count"), ("plan.smj", "count"), ("plan.bhj", "count"),
    ("plan.windows", "count"), ("plan.inmem_scans", "count"),
    ("sources.s", "s"), ("sources.input_mb", "MB"),
    ("sinks.s", "s"), ("sinks.output_mb", "MB"), ("sinks.files", "count"),
    ("sinks.write_amp", "ratio"),
    ("stream.s", "s"), ("stream.batches", "count"), ("stream.rows", "count"),
    ("stream.state_rows_peak", "count"), ("stream.state_mb_peak", "MB"),
    ("stream.commit_ms", "ms"), ("stream.trigger_ms", "ms"),
    ("relational.s", "s"),
    ("graph.s", "s"), ("graph.build_s", "s"), ("graph.loop_s", "s"),
    ("graph.stored_s", "s"),
    ("sim.s", "s"), ("sim.knn_index_build_s", "s"), ("sim.knn_ingest_s", "s"),
    ("sim.refresh_audit_s", "s"),
    ("dedup.s", "s"), ("text.s", "s"), ("pipeline.s", "s"),
    ("pipeline.embed_train_r1_s", "s"), ("pipeline.embed_train_r2_s", "s"),
    ("pipeline.embed_serve_s", "s"),
    ("kernel.vector_dot.rows_per_s", "1/s"), ("kernel.argmin_l2.rows_per_s", "1/s"),
    ("kernel.top_cells_l2.rows_per_s", "1/s"), ("kernel.pq_encode_l2.rows_per_s", "1/s"),
    ("kernel.minhash_sig.rows_per_s", "1/s"), ("kernel.shingle_set.rows_per_s", "1/s"),
    ("kernel.simhash60.rows_per_s", "1/s"),
    ("cache.written_mb", "MB"), ("cache.peak_mb", "MB"), ("cache.left_mb", "MB"),
    ("cache.leaking_entries", "count"),
    ("jvm.gc_s", "s"), ("jvm.gc_count", "count"), ("jvm.jit_s", "s"),
]
