"""graph_stream: the reference's consume → decode → graph-upsert loop,
keyed reads against the store it produced, then a gated dedup stream.

Set-up draws (subject, predicate, object) rows from the seed, encodes
them with ``sources.avro_codec.to_confluent_avro`` and writes them as a
``sources.kafka.FileStreamStandIn`` topic of ``SIZES[scale]["files"]``
parquet files.
2% of the frames are replaced by unframed JSON, the reference's dominant
failure ("Invalid CP1 magic byte 123").  A second, small topic feeds the
warm-up stream.  Set-up also writes the document topics and fits the
gate models of ``gated_dedup``.

The timed region replays the topic one file per trigger through
``streaming.ingest.StreamingGraphIngest`` (started with its public
``start()``, with a DLQ), then runs ``GraphStore.get_object_id`` reads,
half on present names and half on absent ones in a seeded order, until
at least ``min_reads`` reads are done and ``seconds`` have elapsed.
Last it replays the document topic one file per trigger through
``streaming.dedup.StreamingDedupIngest`` with the full gate chain.

Ops are the micro-batches of both streams and the reads.  There are
three kinds of op; ``op_gmean_ms`` is the geometric mean of the median
latency of each kind (graph micro-batch ``triggerExecution``, dedup
micro-batch ``triggerExecution``, read), so each kind weighs the same,
as each query does in ``query_suite``.  ``work_per_s`` is the geometric
mean of the two streams' throughputs: graph rows and documents per
batch, each divided by its stream's median ``triggerExecution``.  A
change that trades write cost against read cost, such as store file
layout, shows both sides in one run.  A graph batch costs about the
same whatever its row count (~10 Spark jobs each), so the replay loads
the per-trigger lifecycle, the ingest and the store rather than the
codec's per-row work; the dedup stream loads the gate operators.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

import duckdb
import pandas as pd

import datagen
import gated_dedup
from harness import Result, gmean, log, quantile, timed_setup

SIZES = {
    # rows, topic files, distinct subjects, warm-up files, minimum reads
    "bench": dict(rows=10_000, files=10, subjects=1_500, warm_files=1, min_reads=40),
    "tiny": dict(rows=800, files=4, subjects=100, warm_files=2, min_reads=10),
}
JSON_SHARE = 0.02
SCHEMA_ID = 2
#: metrics of layers this workload never enters; reported as 0
IDLE = ("queries.", "query.", "exec.write_s")

_CONFIG = {
    "kafka": {},
    "type_map": {"spo": {"key_column": "subject", "columns": ["S", "P", "O"]}},
    "column_map": {"S": "subject", "P": "predicate", "O": "object"},
}


def _topic(spark, schema_config, path: str, valid: pd.DataFrame, invalid, n_files: int):
    """Write a Confluent-Avro topic of ``n_files`` files: the ``valid``
    (S, P, O) rows encoded, plus the ``invalid`` rows sent as unframed
    JSON."""
    from pyspark.sql import functions as F

    from consume_kafka_avro_data_spark.sources.avro_codec import to_confluent_avro
    from consume_kafka_avro_data_spark.sources.kafka import FileStreamStandIn

    frames = to_confluent_avro(
        spark.createDataFrame(valid), schema_config, schema_id=SCHEMA_ID
    ).select(F.col("key").cast("binary").alias("key"), "value")
    if invalid:
        frames = frames.unionByName(
            spark.createDataFrame(
                [(r[0].encode(), json.dumps(dict(zip("SPO", r))).encode()) for r in invalid],
                "key binary, value binary",
            )
        )
    topic = FileStreamStandIn(spark, path)
    topic.write_batch(
        frames.select(
            "key",
            "value",
            F.lit("spo").alias("topic"),
            F.lit(0).alias("partition"),
            F.monotonically_increasing_id().alias("offset"),
        ).repartition(n_files)
    )
    return topic


def _expected_graph(valid: pd.DataFrame) -> tuple[int, int]:
    """Vertex and edge counts of the valid triples, computed by DuckDB."""
    con = duckdb.connect()
    con.register("t", valid)
    nv = con.sql("SELECT count(*) FROM (SELECT S FROM t UNION SELECT O FROM t)").fetchone()[0]
    ne = con.sql("SELECT count(*) FROM (SELECT DISTINCT S, P, O FROM t)").fetchone()[0]
    con.close()
    return nv, ne


def run(spark, *, work, seed, seconds, scale, tracer, sparkwork) -> Result:
    from consume_kafka_avro_data_spark.config import parse_config
    from consume_kafka_avro_data_spark.operators import store as store_mod
    from consume_kafka_avro_data_spark.operators.graph import GraphStore
    from consume_kafka_avro_data_spark.streaming.ingest import StreamingGraphIngest

    size = SIZES[scale]
    schema_config = parse_config(_CONFIG).schema_for("spo")
    rows = datagen.triples(seed, size["rows"], size["subjects"])
    rng = random.Random(seed)
    bad = set(rng.sample(range(len(rows)), round(JSON_SHARE * len(rows))))
    valid = pd.DataFrame(
        [r for i, r in enumerate(rows) if i not in bad], columns=["S", "P", "O"]
    )
    invalid = [rows[i] for i in sorted(bad)]
    warm = pd.DataFrame(
        datagen.triples(seed + 1, len(rows) // size["files"] * size["warm_files"], size["subjects"]),
        columns=["S", "P", "O"],
    )
    res = Result()

    def prepare(rep: int):
        d = os.path.join(work, f"topics{rep}")
        docs = os.path.join(d, "docs")
        os.makedirs(docs)
        gated_dedup.write_inputs(seed, scale, docs)
        return (
            _topic(spark, schema_config, os.path.join(d, "spo"), valid, invalid, size["files"]),
            _topic(spark, schema_config, os.path.join(d, "warm"), warm, [], size["warm_files"]),
            docs,
        )

    (topic, warm_topic, docs), build_s = timed_setup(prepare)
    t0 = time.perf_counter()
    models = gated_dedup.fit_models(spark, docs)
    res.e2e["setup_s"] = build_s + time.perf_counter() - t0

    def ingest_into(name: str):
        store = GraphStore(spark, os.path.join(work, name, "graph"))
        ingest = StreamingGraphIngest(
            spark,
            store,
            schema_config,
            checkpoint_dir=os.path.join(work, name, "ckpt"),
            dlq_dir=os.path.join(work, name, "dlq"),
            expected_schema_id=SCHEMA_ID,
            created_at="2024-01-01",
        )
        return store, ingest

    log(f"set-up done in {res.e2e['setup_s']:.2f} s; warming up")
    # warm-up: the same paths, on their own topics and stores
    warm_store, warm_ingest = ingest_into("warm")
    warm_ingest.start(warm_topic.read_stream(max_files_per_trigger=1)).awaitTermination()
    for name in (warm["S"][0], "absent"):
        warm_store.get_object_id(name)
    gated_dedup.ingest(spark, os.path.join(work, "dedup-warm"), models).start(
        gated_dedup.stream(spark, docs, "warm")
    ).awaitTermination()
    dedup = gated_dedup.ingest(spark, os.path.join(work, "dedup"), models)
    doc_stream = gated_dedup.stream(spark, docs, "topic")

    present = sorted(set(valid["S"]) | set(valid["O"]))
    absent = [str(size["subjects"] + i) for i in range(len(present))]
    store, ingest = ingest_into("run")
    tracer.wrap(ingest, "process_batch", "ingest.process_batch", op_arg=1)
    tracer.wrap(store, "upsert_objects", "graph.upsert_objects")
    tracer.wrap(store, "upsert_relationships", "graph.upsert_relationships")
    tracer.wrap(store, "get_object_id", "graph.lookup")
    for method in ("merge_new", "stage", "publish"):
        tracer.wrap(store_mod.ManifestTable, method, f"store.{method}")

    # -- timed: graph replay, keyed reads, dedup replay ------------------------
    log("timing")
    mark0 = sparkwork.mark() if sparkwork else None
    t0 = time.perf_counter()
    query = ingest.start(topic.read_stream(max_files_per_trigger=1))
    query.awaitTermination()
    replay_s = time.perf_counter() - t0
    mark1 = sparkwork.mark() if sparkwork else None

    reads: list[tuple[str, object, float]] = []
    t_start = time.perf_counter()
    while len(reads) < size["min_reads"] or time.perf_counter() - t_start < seconds - replay_s:
        name = rng.choice(present) if rng.random() < 0.5 else rng.choice(absent)
        with tracer.span("read", op=f"read:{len(reads)}"):
            r0 = time.perf_counter()
            got = store.get_object_id(name)
            reads.append((name, got, time.perf_counter() - r0))
    mark2 = sparkwork.mark() if sparkwork else None
    tracer.unwrap()  # the dedup ingest's signature store is a ManifestTable too
    t_dedup = time.perf_counter()
    dedup_query = dedup.start(doc_stream)
    dedup_query.awaitTermination()
    dedup_s = time.perf_counter() - t_dedup
    mark3 = sparkwork.mark() if sparkwork else None

    log(f"replay {replay_s:.1f} s, {len(reads)} reads, dedup {dedup_s:.1f} s; checking")
    # -- checks, outside the timed region -------------------------------------
    m = ingest.metrics
    ids = {r["object_name"]: r["id"] for r in store.objects().collect()}
    n_edges = store.relationships().count()
    nv, ne = _expected_graph(valid)
    dlq_rows = spark.read.parquet(ingest.dlq_dir).count() if bad else 0
    problems = [
        f"{what}: {got} != {want}"
        for what, got, want in (
            ("batches", m.batches, size["files"]),
            ("valid rows", m.valid_rows, len(valid)),
            ("dlq counter", m.error_rows, len(bad)),
            ("dlq rows", dlq_rows, len(bad)),
            ("vertices", len(ids), nv),
            ("new vertices", m.new_vertices, nv),
            ("edges", n_edges, ne),
            ("new edges", m.new_edges, ne),
        )
        if got != want
    ]
    present_set = set(present)
    problems += [
        f"read {name!r}: {got} != {ids.get(name)}"
        for name, got, _ in reads
        if got != (ids[name] if name in present_set else None)
    ]
    problems += gated_dedup.check(dedup, scale)
    for p in problems:
        print(f"CHECK FAILED {p}", flush=True)
    res.attempted = m.batches + len(reads) + dedup.metrics.batches
    res.failed = len(problems)

    ms = [r[2] * 1e3 for r in reads]
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
    dedup_trig = gated_dedup.batch_seconds(dedup_query)
    log(f"graph batches {[round(t, 3) for t in trig]}, dedup batches "
        f"{[round(t, 3) for t in dedup_trig]}, read p50 {quantile(ms, 0.5):.2f} ms")
    res.e2e["op_gmean_ms"] = gmean(
        [statistics.median(trig) * 1e3, statistics.median(dedup_trig) * 1e3, quantile(ms, 0.5)]
    )
    res.e2e["work_per_s"] = gmean([
        m.valid_rows / m.batches / statistics.median(trig),
        dedup.metrics.docs / dedup.metrics.batches / statistics.median(dedup_trig),
    ])

    if sparkwork:
        dur = lambda key: sum(p["durationMs"].get(key, 0) for p in progress) / 1e3  # noqa: E731
        replay = sparkwork.between(mark0, mark1)
        total = sparkwork.between(mark0, mark3)
        process = tracer.total("ingest.process_batch")
        upserts = tracer.total("graph.upsert_objects") + tracer.total("graph.upsert_relationships")
        res.layers = {
            **{f"exec.{k}": total[k] for k in (
                "jobs", "stages", "tasks", "run_s", "cpu_s",
                "shuffle_bytes", "spill_bytes",
            )},
            "exec.jobs_per_batch": replay["jobs"] / m.batches,
            "exec.tasks_per_batch": replay["tasks"] / m.batches,
            "lifecycle.trigger_s": dur("triggerExecution"),
            "lifecycle.add_batch_s": dur("addBatch"),
            "lifecycle.wal_commit_s": dur("walCommit"),
            "lifecycle.commit_offsets_s": dur("commitOffsets"),
            "lifecycle.latest_offset_s": dur("latestOffset"),
            "lifecycle.planning_s": dur("queryPlanning"),
            "stream.batches": len(progress),
            "stream.batch_p50_s": statistics.median(trig),
            "stream.batch_p75_s": quantile(trig, 0.75),
            "ingest.process_batch_s": process,
            "ingest.self_s": process - upserts,
            "ingest.valid_rows": m.valid_rows,
            "ingest.dlq_rows": m.error_rows,
            "graph.upsert_objects_s": tracer.total("graph.upsert_objects"),
            "graph.upsert_relationships_s": tracer.total("graph.upsert_relationships"),
            "store.merge_new_s": tracer.total("store.merge_new"),
            "store.stage_s": tracer.total("store.stage"),
            "store.publish_s": tracer.total("store.publish"),
            "store.files": len(store.objects().inputFiles())
            + len(store.relationships().inputFiles()),
            "graph.lookup_s": tracer.total("graph.lookup"),
            "read.p50_ms": quantile(ms, 0.5),
            "read.p90_ms": quantile(ms, 0.9),
            "graph.new_vertices": m.new_vertices,
            "graph.new_edges": m.new_edges,
            **gated_dedup.layers(dedup, dedup_trig, sparkwork.between(mark2, mark3)),
        }
    return res
