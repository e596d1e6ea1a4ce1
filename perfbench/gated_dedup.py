"""The gated dedup stream that ``graph_stream`` replays after its graph
topic: ``streaming.dedup.StreamingDedupIngest`` with the full curation
gate chain on.

Set-up generates documents from the seed and writes, as parquet, a
training corpus, a one-file warm-up topic and a ``files``-file topic.
It fits the three gate models on the training corpus: the quality
classifier, DSIR and a KN language model.  The chain and its settings
are those of the repository's six-gate census when this benchmark was
defined: c4, heuristic quality, learned quality, gopher repetition,
DSIR and KN-LM gates, then MinHash-LSH dedup against the signature
store.  Thresholds are permissive, so every gate pays its per-document
cost on nearly every document.  The generated texts carry no sentence
punctuation, so each gets a '.' appended; without it the c4 line rule
would empty every text and dedup would see one signature.

The topic is replayed one file per trigger, started with the ingest's
public ``start()``.  At this size a micro-batch costs ~5 s on 4 cores,
most of it fixed per batch; the per-document gate kernels and the
signature-store probe are the rest.
"""

from __future__ import annotations

import os
import statistics

import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from metrics import GATES

SIZES = {
    # training docs, topic files, docs per topic file, warm-up docs
    "bench": dict(train=400, files=3, per_file=170, warm=20),
    "tiny": dict(train=200, files=2, per_file=30, warm=20),
}

_GATE_CONFIG = dict(
    c4=True,
    c4_min_line_words=1,
    c4_min_sentences=0,
    quality_threshold=0.0,
    quality_model_threshold=0.0,
    gopher_rep=True,
    dsir_threshold=-1e9,
    lm_threshold=1e9,
)


def write_inputs(seed: int, scale: str, out: str) -> None:
    """Training corpus, warm-up topic and topic under ``out``; pure
    Arrow, no Spark."""
    size = SIZES[scale]
    pq.write_table(
        datagen.documents(seed + 10_000, size["train"]), os.path.join(out, "train.parquet")
    )
    for name, docs, files in (
        ("warm", datagen.documents(seed + 20_000, size["warm"]), 1),
        ("topic", datagen.documents(seed, size["files"] * size["per_file"]), size["files"]),
    ):
        d = os.path.join(out, name)
        os.makedirs(d)
        docs = docs.select(["doc_id", "text"])
        docs = docs.set_column(
            1, "text", pa.array([t + "." for t in docs.column("text").to_pylist()])
        )
        per = len(docs) // files
        for i in range(files):
            pq.write_table(docs.slice(i * per, per), os.path.join(d, f"part-{i:03d}.parquet"))


def fit_models(spark, out: str) -> dict:
    """The quality classifier, DSIR and KN-LM gate models, fitted on the
    training corpus (trusted side: source ``src0``)."""
    from pyspark.sql import functions as F

    from consume_kafka_avro_data_spark.operators.dsir import dsir_fit
    from consume_kafka_avro_data_spark.operators.lm import NgramKN
    from consume_kafka_avro_data_spark.operators.quality import (
        quality_training_frame,
        train_quality_classifier,
    )

    train = spark.read.parquet(os.path.join(out, "train.parquet"))
    high = train.where(F.col("source") == "src0")
    low = train.where(F.col("source") != "src0")
    return dict(
        quality_model=train_quality_classifier(quality_training_frame(high, low), max_iter=25),
        dsir_model=dsir_fit(high, low),
        lm_model=NgramKN.fit(train, order=2, min_count=2),
    )


def ingest(spark, work: str, models: dict):
    from consume_kafka_avro_data_spark.streaming.dedup import StreamingDedupIngest

    return StreamingDedupIngest(
        spark,
        store_dir=os.path.join(work, "store"),
        checkpoint_dir=os.path.join(work, "ckpt"),
        **_GATE_CONFIG,
        **models,
    )


def stream(spark, out: str, name: str):
    """The ``name`` topic ("warm" or "topic") as a stream of one file
    per trigger."""
    d = os.path.join(out, name)
    schema = spark.read.parquet(d).schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)


def check(ing, scale: str) -> list[str]:
    """Routing sums to the doc count and the store holds the novel docs."""
    size = SIZES[scale]
    m = ing.metrics
    routed = m.rejected_docs + m.contaminated_docs + m.dup_docs + m.novel_docs
    stored = ing.store.read().count()
    return [
        f"dedup {what}: {got} != {want}"
        for what, got, want in (
            ("batches", m.batches, size["files"]),
            ("docs", m.docs, size["files"] * size["per_file"]),
            ("routed docs", routed, m.docs),
            ("stored docs", stored, m.novel_docs),
        )
        if got != want
    ]


def batch_seconds(query) -> list[float]:
    """Per-trigger ``triggerExecution`` of the batches that read data."""
    return [
        p["durationMs"]["triggerExecution"] / 1e3
        for p in query.recentProgress
        if p["numInputRows"] > 0
    ]


def layers(ing, trig: list[float], work: dict) -> dict:
    """Per-gate census, dedup sub-stages and per-batch Spark work."""
    census = ing.gate_census()
    sub = census["dedup"].get("sub", {})
    m = ing.metrics
    return {
        **{f"gate.{g}_s": census[g]["sec"] for g in GATES},
        **{f"gate.{g}_rejected": census[g]["docs_rejected"] for g in GATES},
        "dedup.sig_s": sub.get("sig", 0.0),
        "dedup.probe_s": sub.get("probe", 0.0),
        "dedup.merge_s": sub.get("merge", 0.0),
        "dedup.docs_in": census["dedup"]["docs_in"],
        "dedup.dup_ratio": m.dup_docs / census["dedup"]["docs_in"],
        "dedup.batches": len(trig),
        "dedup.batch_p50_s": statistics.median(trig),
        "dedup.jobs_per_batch": work["jobs"] / m.batches,
        "dedup.tasks_per_batch": work["tasks"] / m.batches,
    }
