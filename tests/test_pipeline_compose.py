"""The round-6 operators compose into the full training-data pipeline:
learned quality gate → LM-perplexity filter → BPE tokenization →
sequence packing.  Each stage is pinned in isolation by its own test
file; this proves the HANDOFFS — schemas line up, filters actually
remove what they score, token counts flow from the tokenizer into the
packer, and the final pack stream is gap-free over exactly the
surviving documents."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from consume_kafka_avro_data_spark.operators.lm import NgramKN
from consume_kafka_avro_data_spark.operators.packing import pack_sequences
from consume_kafka_avro_data_spark.operators.quality import (
    quality_probability,
    quality_training_frame,
    train_quality_classifier,
)
from consume_kafka_avro_data_spark.operators.text import (
    bpe_segment,
    bpe_train,
)

CLEAN_WORDS = (
    "the quick brown fox jumps over a lazy dog while careful researchers "
    "measure tokenizer quality across curated documents"
).split()
SPAM_WORDS = "zzz buy click winn free xxx qqq promo".split()


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(5)
    doc = lambda ws, n=25: " ".join(rng.choice(ws) for _ in range(n))
    rows = [(i, doc(CLEAN_WORDS)) for i in range(80)]
    rows += [(1000 + i, doc(SPAM_WORDS)) for i in range(20)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_end_to_end_pipeline(spark, corpus):
    # stage 0: models trained on held-out material (ids disjoint from
    # the corpus being processed)
    rng = random.Random(9)
    doc = lambda ws, n=25: " ".join(rng.choice(ws) for _ in range(n))
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    clf = train_quality_classifier(
        quality_training_frame(
            mk([(i, doc(CLEAN_WORDS)) for i in range(60)]),
            mk([(100 + i, doc(SPAM_WORDS)) for i in range(60)]),
        ),
        n_features=1 << 12,
        max_iter=25,
    )
    lm = NgramKN.fit(mk([(i, doc(CLEAN_WORDS)) for i in range(200)]), order=2)

    # stage 1: learned quality gate
    scored = quality_probability(clf, corpus)
    gated = scored.where(F.col("quality_prob") >= 0.5).drop("quality_prob")
    gated_ids = {r.doc_id for r in gated.select("doc_id").collect()}
    assert gated_ids == {r.doc_id for r in corpus.collect() if r.doc_id < 1000}

    # stage 2: LM perplexity filter — on this corpus the clean docs all
    # score under a loose cap (the gate is a no-op here by design; the
    # handoff is what's under test), and spam WOULD have failed it
    nll = lm.score(gated)
    spam_nll = lm.score(corpus.where(F.col("doc_id") >= 1000))
    cap = 12.0
    survivors = (
        gated.join(
            nll.where(F.col("avg_nll") <= cap).select("doc_id"), "doc_id"
        )
    )
    assert survivors.count() == len(gated_ids)
    assert all(r.avg_nll > cap for r in spam_nll.collect())

    # stage 3: tokenize with a table TRAINED ON THE SURVIVORS
    merges = bpe_train(survivors.select("text"), n_merges=24)
    assert merges
    pieces = bpe_segment(survivors, merges).select(
        "doc_id", F.size("bpe_pieces").alias("n_bpe")
    )

    # stage 4: pack the BPE token stream (counts from the tokenizer,
    # not whitespace) into 256-token training sequences
    packed = pack_sequences(
        pieces, seq_len=256, n_tokens_col="n_bpe", text_col="n_bpe",
        partitions=3,
    )
    rows = packed.collect()
    assert {r.doc_id for r in rows} == gated_ids  # every survivor, once
    total = sum(r.n_tokens for r in rows)
    assert total == pieces.agg(F.sum("n_bpe")).collect()[0][0]
    last = max(rows, key=lambda r: r.cum_before)
    assert last.cum_before + last.n_tokens == total  # gap-free stream
    assert max(r.pack_id for r in rows) == (total - last.n_tokens) // 256
