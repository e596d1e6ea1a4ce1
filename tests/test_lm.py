"""Interpolated Kneser-Ney at the bigram order (operators/lm,
``NgramKN(order=2)``): the Spark fit must reproduce a pure-Python
implementation of the published bigram formulas value-for-value,
satisfy the signature KN invariant (Σ_w2 P(w2|w1) = 1 per seen
context), back off exactly per the formula at score time, and score
the documents table end to end."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from consume_kafka_avro_data_spark.operators.lm import NgramKN, doc_ngrams

CORPUS = [
    "the cat sat on the mat",
    "the dog sat on the rug",
    "a cat and a dog",
    "the cat saw the dog",
]


def _ref_kn(texts, discount=0.75):
    """The published interpolated-KN bigram formulas, computed the
    slow obvious way."""
    bg = Counter()
    for t in texts:
        toks = t.lower().split()
        bg.update(zip(toks, toks[1:]))
    c1 = Counter()
    n1_fwd = Counter()
    n1_bwd = Counter()
    for (w1, w2), c in bg.items():
        c1[w1] += c
        n1_fwd[w1] += 1
        n1_bwd[w2] += 1
    n_types = len(bg)
    pcont = {w2: n / n_types for w2, n in n1_bwd.items()}
    lam = {w1: discount * n1_fwd[w1] / c1[w1] for w1 in c1}

    def p(w1, w2):
        if (w1, w2) in bg:
            return max(bg[(w1, w2)] - discount, 0.0) / c1[w1] + lam[
                w1
            ] * pcont.get(w2, 0.0)
        if w1 in c1:
            return lam[w1] * pcont.get(w2, 0.0)
        return pcont.get(w2, 0.0)

    return p, bg, c1, pcont, lam, n_types


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame([(t,) for t in CORPUS], "text string")


@pytest.fixture(scope="module")
def model(corpus_df):
    m = NgramKN.fit(corpus_df, order=2)
    yield m
    m.unpersist()


def test_fit_matches_reference_formulas(model, corpus_df):
    """Every observed bigram's interpolated probability, every context's
    λ, and every continuation probability must equal the reference
    implementation's (same integer counts, same divisions)."""
    p_ref, bg, c1, pcont, lam, n_types = _ref_kn(CORPUS)
    got_p = {
        (r.w1, r.w2): r.p for r in model.probs[2].collect()
    }
    assert set(got_p) == set(bg) and len(got_p) == n_types
    for key, got in got_p.items():
        assert got == pytest.approx(p_ref(*key), abs=1e-15), key
    got_lam = {r.w1: r.lam for r in model.lams[2].collect()}
    assert got_lam == pytest.approx(lam)
    got_cont = {r.w1: r.p1 for r in model.p1.collect()}
    assert got_cont == pytest.approx(pcont)


def test_kn_distribution_sums_to_one_per_context(model):
    """The signature KN invariant: for every SEEN context w1, the
    observed mass plus λ(w1)·(continuation mass of the full w2
    vocabulary) is exactly 1 — discount taken equals discount
    redistributed."""
    obs = (
        model.probs[2].groupBy("w1").agg(F.sum("p").alias("p_obs")).collect()
    )
    lam = {r.w1: r.lam for r in model.lams[2].collect()}
    cont_rows = model.p1.collect()
    cont_total = sum(r.p1 for r in cont_rows)
    assert cont_total == pytest.approx(1.0)  # Pcont is a distribution
    # Σ_w2∈vocab P(w2|w1) = Σ_observed p + λ·Σ_{unseen w2} pcont
    seen_w2 = {
        (r.w1, r.w2) for r in model.probs[2].select("w1", "w2").collect()
    }
    pcont = {r.w1: r.p1 for r in cont_rows}
    for r in obs:
        unseen_mass = sum(
            pc for w2, pc in pcont.items() if (r.w1, w2) not in seen_w2
        )
        total = r.p_obs + lam[r.w1] * unseen_mass
        assert total == pytest.approx(1.0, abs=1e-12), r.w1


def test_score_backoff_tiers(spark, model):
    """One doc per backoff tier, scores checked against the reference
    formula: observed bigram, unseen-pair-seen-context, unseen context,
    fully-OOV (floored), and a <2-token doc (NULL score, 0 bigrams)."""
    p_ref, *_ = _ref_kn(CORPUS)
    floor = 1e-9
    docs = spark.createDataFrame(
        [
            (1, "the cat"),  # observed bigram
            (2, "cat rug"),  # seen context 'cat', unseen pair
            (3, "zzz cat"),  # unseen context -> pcont('cat')
            (4, "zzz qqq"),  # fully OOV -> floor
            (5, "solo"),  # no bigrams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in model.score(docs, p_floor=floor).collect()}
    assert got[1].avg_nll == pytest.approx(-math.log(p_ref("the", "cat")))
    assert got[2].avg_nll == pytest.approx(-math.log(p_ref("cat", "rug")))
    assert got[3].avg_nll == pytest.approx(-math.log(p_ref("zzz", "cat")))
    assert got[4].avg_nll == pytest.approx(-math.log(floor))
    assert got[5].n_ngrams == 0 and got[5].avg_nll is None
    assert all(got[i].n_ngrams == 1 for i in (1, 2, 3, 4))


def test_natural_text_scores_below_shuffled(spark, corpus_df, model):
    """The filter's purpose: in-domain word order scores lower NLL than
    the same unigrams scrambled (bigram evidence is what the unigram
    q_perplexity scorer cannot see)."""
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "mat the on sat cat the")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.avg_nll for r in model.score(docs).collect()}
    assert got[1] < got[2]


def test_fit_validates_discount(corpus_df):
    with pytest.raises(ValueError, match="discount"):
        NgramKN.fit(corpus_df, order=2, discount=1.0)
    with pytest.raises(ValueError, match="discount"):
        NgramKN.fit(corpus_df, order=2, discount=0.0)


def test_doc_bigrams_is_shuffle_free(spark, corpus_df):
    """The doc→bigram expansion must stay map-only (zipped adjacent
    slices — no window, no Exchange)."""
    bgs = doc_ngrams(corpus_df, 2)
    plan = bgs._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        bgs._jdf.queryExecution(), "simple"
    )
    assert "Exchange" not in plan
    # NULL and empty docs emit no pairs; 2 tokens emit exactly 1
    docs = spark.createDataFrame(
        [(None,), ("",), ("a b",)], "text string"
    )
    assert doc_ngrams(docs, 2).count() == 1


def test_score_on_documents_table(spark, sf_dir):
    """End-to-end smoke at test SF: fit on half the corpus, score the
    other half — every doc gets a row, multi-token docs get finite
    positive NLL."""
    from consume_kafka_avro_data_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.where(F.col("doc_id") % 2 == 0)
    held = docs.where(F.col("doc_id") % 2 == 1)
    lm = NgramKN.fit(train, order=2)
    out = lm.score(held)
    assert out.count() == held.count()
    bad = out.where(
        (F.col("n_ngrams") > 0)
        & (F.col("avg_nll").isNull() | (F.col("avg_nll") <= 0))
    )
    assert bad.count() == 0
    lm.unpersist()


def test_null_id_doc_keeps_its_score(spark, model):
    """The corpus-wide NULL-id convention: a NULL-id doc's bigrams are
    grouped together and its score reaches its output row (a plain
    equality restore-join would orphan it to n_ngrams=0)."""
    docs = spark.createDataFrame(
        [(None, "the cat"), (7, "the cat")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in model.score(docs).collect()}
    assert rows[None].n_ngrams == 1
    assert rows[None].avg_nll == pytest.approx(rows[7].avg_nll)


def test_unpersist_releases_model_state(corpus_df):
    """The fitted model's resident state is its checkpointed count
    tables; unpersist() releases them and the tables still answer
    (re-derived from lineage)."""
    m = NgramKN.fit(corpus_df, order=2)
    n = m.probs[2].count()
    m.unpersist()
    assert m.probs[2].count() == n  # lazily re-derivable, just uncached
