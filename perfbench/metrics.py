"""The benchmark's metric definitions: the single source for what a run
prints and for ``BENCHMARK.json`` (see ``manifest.py``)."""

from __future__ import annotations

#: The pinned query workload: 20 of the 50 headline queries of the
#: repository's ``bench.py`` when this benchmark was defined, copied so
#: that later edits to ``bench.py`` cannot change the workload.  Seven
#: are the costly operators the roadmap targets (LSH near-dup, curation
#: funnel, eager-heavy PageRank and dedup clusters, similarity search,
#: decontamination); thirteen are cheap relational, window, text and
#: multimodal queries whose cost is mostly fixed per-query overhead.  All
#: 50 take ~50 s cold and ~25 s warm per pass on 4 cores, more than one
#: run can spend and still leave a warm timed pass.
QUERIES = [
    "q_neardup_lsh", "q_curation_pipeline", "q_pagerank", "q_dedup_clusters",
    "q_similarity_topk", "q_similarity_ivf", "q_decontaminate",
    "q_groupby_agg", "q_edge_join", "q_fk_lookup_join", "q_window_rank",
    "q_rollup", "q_sessionize", "q_asof_join", "q_shipping_priority",
    "q_local_supplier_volume", "q_text_tokens", "q_multimodal_features",
    "q_doc_chunks", "q_count_distinct",
]

#: the curation gates of graph_stream's dedup stream, in pipeline order,
#: as ``StreamingDedupIngest.gate_census()`` names them
GATES = ("c4", "quality", "quality_model", "gopher_rep", "dsir", "lm", "dedup")

#: seconds one run measures (BENCHMARK.json ``run_seconds``)
RUN_SECONDS = 10

WORKLOADS = {
    "query_suite": (
        "the analyst's path: 20 pinned headline queries, planned with "
        "Query.fn and forced by a noop write; loads plan build, eager "
        "driver actions and Spark execution, never the streaming layers"
    ),
    "graph_stream": (
        "the streams: Avro topic with 2% JSON frames into the graph ingest "
        "with a DLQ, keyed reads on the many-file store it made, then docs "
        "through the 7-gate curation and MinHash-LSH dedup ingest"
    ),
}

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_gmean_ms": ("ms", "lower", 0.25),
    "work_per_s": ("1/s", "higher", 0.25),
}

_LAYER_UNITS = {
    # registry / queries: plan build
    "queries.build_s": "s",
    "queries.eager_s": "s",
    "queries.eager_jobs": "count",
    "queries.plan_s": "s",
    # Spark execution, from the status store
    "exec.write_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.jobs_per_batch": "count",
    "exec.tasks_per_batch": "count",
    # streaming.lifecycle: sums of the per-trigger durationMs breakdown
    "lifecycle.trigger_s": "s",
    "lifecycle.add_batch_s": "s",
    "lifecycle.wal_commit_s": "s",
    "lifecycle.commit_offsets_s": "s",
    "lifecycle.latest_offset_s": "s",
    "lifecycle.planning_s": "s",
    "stream.batches": "count",
    "stream.batch_p50_s": "s",
    "stream.batch_p75_s": "s",
    # streaming.ingest + sources.avro_codec
    "ingest.process_batch_s": "s",
    "ingest.self_s": "s",
    "ingest.valid_rows": "count",
    "ingest.dlq_rows": "count",
    # operators.graph / operators.store
    "graph.upsert_objects_s": "s",
    "graph.upsert_relationships_s": "s",
    "store.merge_new_s": "s",
    "store.stage_s": "s",
    "store.publish_s": "s",
    "store.files": "count",
    "graph.lookup_s": "s",
    "read.p50_ms": "ms",
    "read.p90_ms": "ms",
    "graph.new_vertices": "count",
    "graph.new_edges": "count",
    # streaming.dedup + gate operators: gate_census() per gate, the dedup
    # stage's sub-splits, and the dedup stream's own batches
    **{f"gate.{g}_s": "s" for g in GATES},
    **{f"gate.{g}_rejected": "count" for g in GATES},
    "dedup.sig_s": "s",
    "dedup.probe_s": "s",
    "dedup.merge_s": "s",
    "dedup.docs_in": "count",
    "dedup.dup_ratio": "ratio",
    "dedup.batches": "count",
    "dedup.batch_p50_s": "s",
    "dedup.jobs_per_batch": "count",
    "dedup.tasks_per_batch": "count",
    # peak resident set (VmHWM) of the driver plus its JVM
    "proc.peak_rss_mb": "MB",
    # the traced run's own end-to-end figures; minus the untraced run's,
    # they give the tracing overhead
    "traced.op_gmean_ms": "ms",
    "traced.work_per_s": "1/s",
}

PER_LAYER = {
    **_LAYER_UNITS,
    **{f"query.{q}_s": "s" for q in QUERIES},
}

#: per-layer metrics where a higher value is better; all others: lower
HIGHER = {
    "traced.work_per_s", "ingest.valid_rows", "graph.new_vertices",
    "graph.new_edges", "gate.dedup_rejected", "dedup.dup_ratio",
}
