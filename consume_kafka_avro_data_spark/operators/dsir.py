"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"; public
knowledge).  The remaining tier of the repo's data-selection ladder:

* heuristic gates (``text.quality_score``, Gopher rules) score a doc in
  isolation;
* the learned classifier (``operators/quality``) scores a doc against a
  trusted/raw DECISION BOUNDARY;
* the KN perplexity filter (``operators/lm``) scores fluency under a
  trusted LM;
* DSIR instead matches the selected corpus's DISTRIBUTION to a target:
  each doc gets an importance weight = likelihood ratio of its hashed
  n-gram bag under target vs raw bag-of-ngrams models, then k docs are
  sampled WITHOUT replacement proportionally to the weights.

Algorithm (paper §3, hashed n-gram variant — their deployed one):

1. Featurize: lowercase word unigrams + bigrams, hashed into
   ``buckets`` (default 10⁴) counts.
2. Fit: bucket unigram distributions p̂_target / p̂_raw with add-λ
   smoothing — two bounded aggregates; the model is ONE length-B float
   vector (80 KB at the default), driver-sized at any corpus scale.
3. Weigh: log w(x) = Σ_b counts_x[b]·(log p̂_target[b] − log p̂_raw[b])
   — map-only, the broadcast log-ratio vector rides the UDF closure.
4. Resample: Gumbel top-k (Vieira 2014; Kool et al. 2019 — public):
   key_i = log w_i + Gumbel_i gives an EXACT without-replacement sample
   ∝ w; the Gumbel noise is derived deterministically from
   (seed, doc id) so selection is reproducible and layout-independent.

Two bucket families, each with one execution tier, chosen by the
model's ``hash_fn`` (recorded at fit, so a weight never comes from
mismatched buckets):

* ``md5`` (default — the original DSIR featurizer): Arrow-batched
  Python UDFs.  Its JVM form has to conv-parse the md5 hex per gram
  and measured slower than Arrow.
* ``xxhash64``: pure codegen'd JVM expressions (Spark's seed-42
  ``xxhash64``) — no Python workers, no Arrow transfer.

Scale shape: fit = one distributed pass per corpus whose partial
aggregates are B-bounded per task + a B-bounded sum; weighing and
resampling are map-only passes; the final top-k is a TakeOrdered
(per-partition heap + driver merge of k·P rows), never a global sort.
Nothing model- or corpus-sized ever sits on the driver except the
B-vector and the k winners.
"""

from __future__ import annotations

import hashlib
import math
import re
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "DsirModel",
    "dsir_bucket_expr",
    "dsir_fit",
    "dsir_log_weights",
    "dsir_resample",
    "doc_bucket_array",
    "hashed_ngram_counts",
]

#: DSIR's featurizer tokenizes on lowercase word characters — kept
#: self-contained (Python-side regex) because featurization happens
#: inside Arrow-batched UDFs on both the fit and score paths.
DSIR_TOKEN_RE = re.compile(r"[a-z0-9']+")

DEFAULT_BUCKETS = 10_000


def _bucket(ngram: str, buckets: int) -> int:
    """The md5 family's bucket: first 8 bytes of MD5 as an unsigned
    big-endian integer, mod buckets — stable across processes
    (Python's builtin hash() is salted per process — unusable for a
    deterministic model)."""
    h = hashlib.md5(ngram.encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big") % buckets


def _check_buckets(buckets: int) -> None:
    """Shared bound for both families: ≥ 1 and < 2³¹ — the bucket
    columns are 32-bit ints, so one model-size bound holds whichever
    family a model was fit with."""
    if buckets < 1:
        raise ValueError("buckets must be positive")
    if buckets >= 1 << 31:
        raise ValueError(
            f"buckets must be < 2**31 (got {buckets}): the bucket "
            "columns are 32-bit ints"
        )


def _doc_buckets(text: str, buckets: int) -> list[int]:
    """Hashed (md5 family) unigram+bigram bucket ids for one document
    (with multiplicity — the bag, not the set)."""
    toks = DSIR_TOKEN_RE.findall((text or "").lower())
    out = [_bucket(t, buckets) for t in toks]
    out.extend(
        _bucket(toks[i] + " " + toks[i + 1], buckets)
        for i in range(len(toks) - 1)
    )
    return out


def dsir_bucket_expr(gram: Column, buckets: int) -> Column:
    """The xxhash64 family's bucket as one JVM expression:
    ``pmod(xxhash64(gram), B)`` — Spark's seed-42 XXH64 of the UTF-8
    bytes as a SIGNED long, floored-mod bucketed; no hex-string
    round-trip (~3× cheaper than an md5 chain, measured)."""
    _check_buckets(buckets)
    return F.pmod(F.xxhash64(gram), F.lit(buckets)).cast("int")


def doc_bucket_array(text: Column, buckets: int) -> Column:
    """The xxhash64 family's per-doc bag as a pure JVM expression:
    array<int> of hashed unigram+bigram bucket ids (with multiplicity,
    document order — unigrams first, then bigrams, the md5 tier's
    layout).  Tokenization mirrors ``DSIR_TOKEN_RE`` via
    ``regexp_extract_all`` over the lowercased text."""
    toks = F.regexp_extract_all(
        F.lower(F.coalesce(text, F.lit(""))), F.lit(r"[a-z0-9']+"), 0
    )
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(toks, bigrams)
    return F.transform(grams, lambda g: dsir_bucket_expr(g, buckets))


def hashed_ngram_counts(
    df: DataFrame,
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    hash_fn: str = "md5",
) -> DataFrame:
    """(bucket, cnt) totals for a corpus — ONE distributed pass, in
    the tier of the ``hash_fn`` family (see the module docstring).

    ``md5``: per-batch pre-aggregated histograms from ``mapInPandas``
    (at most ``buckets`` rows per Arrow batch) + a bucket-keyed sum
    whose result is B-bounded.

    ``xxhash64``: explode the per-doc bucket array and count as
    codegen'd expressions; Spark's partial aggregation collapses each
    task's grams to ≤ B rows before the exchange, so the shuffle is
    B-bounded per task like the md5 tier's."""
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(
            f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}"
        )
    _check_buckets(buckets)
    if hash_fn == "xxhash64":
        return (
            df.select(
                F.explode(doc_bucket_array(F.col(text_col), buckets)).alias(
                    "bucket"
                )
            )
            .groupBy(F.col("bucket").cast("long").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    import numpy as np
    import pandas as pd

    b = buckets

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        hist = np.zeros(b, dtype=np.int64)
        for pdf in batches:
            for t in pdf[text_col]:
                for bucket in _doc_buckets(t, b):
                    hist[bucket] += 1
        nz = np.flatnonzero(hist)
        yield pd.DataFrame({"bucket": nz.astype(np.int64), "cnt": hist[nz]})

    return (
        df.select(text_col)
        .mapInPandas(gen, schema="bucket long, cnt long")
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


@dataclass(frozen=True)
class DsirModel:
    """The fitted importance model: one log-ratio float per bucket.
    ``log_ratio`` is a plain tuple so the model is picklable into UDF
    closures and trivially JSON-serializable for persistence.
    ``hash_fn`` records which bucket family the model was fit with —
    scoring ALWAYS uses the model's own family, so a weight can never
    silently come from mismatched buckets."""

    log_ratio: tuple[float, ...]
    buckets: int
    smoothing: float
    hash_fn: str = "md5"

    def save(self, spark, path: str) -> None:
        """Persist as ONE JSON file (the model is a B-vector — 80 KB
        at the default), tmp-then-rename atomic commit via fsio;
        floats round-trip bit-identically through json's repr
        encoding (pinned by pytest)."""
        import json

        from consume_kafka_avro_data_spark.fsio import fs_for

        io = fs_for(spark, path)
        payload = {
            "version": 1,
            "buckets": self.buckets,
            "smoothing": self.smoothing,
            "hash_fn": self.hash_fn,
            "log_ratio": list(self.log_ratio),
        }
        tmp = path + ".tmp"
        io.write_bytes(tmp, json.dumps(payload).encode())
        io.rename_overwrite(tmp, path)

    @classmethod
    def load(cls, spark, path: str) -> "DsirModel":
        """Reopen a saved model — see ``save``.  Pre-round-8 saves
        carry no hash_fn field and were all md5."""
        import json

        from consume_kafka_avro_data_spark.fsio import fs_for

        io = fs_for(spark, path)
        payload = json.loads(io.read_bytes(path))
        return cls(
            log_ratio=tuple(float(x) for x in payload["log_ratio"]),
            buckets=int(payload["buckets"]),
            smoothing=float(payload["smoothing"]),
            hash_fn=str(payload.get("hash_fn", "md5")),
        )


def _smoothed_log_probs(
    counts: dict[int, int], buckets: int, smoothing: float
) -> list[float]:
    total = sum(counts.values())
    denom = math.log(total + smoothing * buckets)
    base = math.log(smoothing) - denom
    out = [base] * buckets
    for bucket, c in counts.items():
        out[bucket] = math.log(c + smoothing) - denom
    return out


def dsir_fit(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    smoothing: float = 1.0,
    hash_fn: str = "md5",
) -> DsirModel:
    """Fit p̂_target / p̂_raw over hashed n-gram buckets (add-λ
    smoothed) and return their per-bucket log ratio.  Two distributed
    histogram passes; everything after the B-bounded collect is
    driver-side float math.  ``hash_fn`` ("md5" default, Arrow tier /
    "xxhash64", JVM tier) is recorded on the model and picks the tier
    of every later scoring pass."""
    _check_buckets(buckets)
    if smoothing <= 0.0:
        raise ValueError("smoothing must be > 0 (unsmoothed ratios diverge)")
    t_counts = {
        r["bucket"]: r["cnt"]
        for r in hashed_ngram_counts(target, text_col, buckets, hash_fn).collect()
    }
    r_counts = {
        r["bucket"]: r["cnt"]
        for r in hashed_ngram_counts(raw, text_col, buckets, hash_fn).collect()
    }
    if not t_counts or not r_counts:
        raise ValueError("empty corpus: both target and raw need tokens")
    lp_t = _smoothed_log_probs(t_counts, buckets, smoothing)
    lp_r = _smoothed_log_probs(r_counts, buckets, smoothing)
    return DsirModel(
        log_ratio=tuple(a - b for a, b in zip(lp_t, lp_r)),
        buckets=buckets,
        smoothing=smoothing,
        hash_fn=hash_fn,
    )


def dsir_log_weights(
    model: DsirModel,
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "dsir_logw",
) -> DataFrame:
    """Append log w(x) = Σ n-gram log-ratios — map-only (the plan is
    pinned Exchange-free): at 100 TB the weigher runs at parquet scan
    speed, like the quality classifier it complements.  Empty/NULL text
    weighs 0 (an even ratio), never NULL.

    An md5 model weighs in one Arrow-batched pass.  An xxhash64 model
    weighs as ONE codegen'd expression — the B-vector rides a
    SINGLE-ROW broadcast frame (the repo's stats-frame idiom; an
    inline array literal would cost B py4j calls + a B-child analyzer
    pass PER JOB) and each doc folds element lookups over its bucket
    array (``aggregate`` over ``transform``), with NO Python workers
    and NO Arrow transfer in the hot path."""
    if model.hash_fn == "xxhash64":
        spark = df.sparkSession
        ratio_col = "_dsir_ratio"
        while ratio_col in df.columns:
            ratio_col += "_"
        ratio_df = spark.createDataFrame(
            [(list(model.log_ratio),)], f"{ratio_col} array<double>"
        )
        logw = F.aggregate(
            F.transform(
                doc_bucket_array(F.col(text_col), model.buckets),
                lambda bkt: F.element_at(F.col(ratio_col), bkt + F.lit(1)),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return (
            df.crossJoin(F.broadcast(ratio_df))
            .withColumn(out_col, logw)
            .drop(ratio_col)
        )
    import numpy as np
    import pandas as pd

    ratio = np.asarray(model.log_ratio, dtype=np.float64)
    b = model.buckets

    def weigh(batches: Iterator["pd.Series"]) -> Iterator["pd.Series"]:
        for texts in batches:
            yield pd.Series(
                [
                    float(ratio[_doc_buckets(t, b)].sum())
                    for t in texts
                ],
                dtype=np.float64,
            )

    weigh.__annotations__ = {
        "batches": Iterator[pd.Series],
        "return": Iterator[pd.Series],
    }
    weigh_udf = F.pandas_udf(weigh, returnType="double")
    return df.withColumn(out_col, weigh_udf(F.col(text_col)))


def gumbel_key_expr(
    logw_col: str, id_col: str, seed: int
) -> Column:
    """log w + Gumbel(0,1) with the noise derived deterministically
    from (seed, id): u = (xxhash64(seed-salted id) as uniform in (0,1)),
    g = −log(−log u).  Pure JVM expression — codegen, reproducible,
    layout-independent.

    The noise is a pure function of (seed, id), so ``id_col`` must be
    unique per row (NULL counts as one value): duplicate ids share one
    Gumbel draw and would enter a top-k all-or-nothing instead of
    independently."""
    h = F.xxhash64(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    # map to (0,1) STRICTLY: offset by 0.5 inside the 2^64 grid, then
    # clamp below 1 — cast('double') rounds the top ~2^10 hash values
    # up to 2^63 exactly (ulp there is 1024), which would make u = 1.0
    # and log(-log(1.0)) NULL, silently excluding the doc from any
    # desc-ordered top-k
    u = (h.cast("double") + F.lit(2.0**63) + F.lit(0.5)) / F.lit(2.0**64)
    u = F.least(u, F.lit(1.0 - 2.0**-53))
    return F.col(logw_col) - F.log(-F.log(u))


def dsir_ess(
    model: DsirModel,
    df: DataFrame,
    text_col: str = "text",
) -> dict[str, float]:
    """Importance-sampling health check: effective sample size
    ESS = (Σw)²/Σw² over the candidate pool (Kong 1992's classic
    diagnostic — public).  ESS ≈ n means target and raw are close
    (weights nearly flat); ESS ≪ k being requested means the sample
    will concentrate on a few documents and the deployment should
    narrow the gap (bigger target corpus, more smoothing) before
    trusting the selection.  One map-only weigh pass + one bounded
    aggregate; weights are exponentiated around their max for
    overflow-safe Σw and Σw² (the standard log-sum-exp shift —
    RELATIVE weights are all ESS needs)."""
    w = dsir_log_weights(model, df, text_col)
    mx = w.agg(F.max("dsir_logw").alias("m")).collect()[0]["m"]
    if mx is None:
        return {"ess": 0.0, "n": 0, "ess_fraction": 0.0}
    sums = w.select(
        F.exp(F.col("dsir_logw") - F.lit(mx)).alias("w1"),
    ).agg(
        F.sum("w1").alias("s1"),
        F.sum(F.col("w1") * F.col("w1")).alias("s2"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    ess = float(sums["s1"]) ** 2 / float(sums["s2"])
    n = int(sums["n"])
    return {"ess": ess, "n": n, "ess_fraction": ess / n if n else 0.0}


def dsir_resample(
    model: DsirModel,
    df: DataFrame,
    k: int,
    seed: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Select k documents WITHOUT replacement with probability ∝ w(x)
    — the Gumbel top-k trick: perturb each log-weight with deterministic
    Gumbel noise and take the k largest keys (exact sampling; Vieira
    2014).  Plan: map-only weigh + TakeOrdered(k) — no global sort, no
    shuffle of the corpus.  Returns the caller's columns plus
    ``dsir_logw``; selection is reproducible for a fixed seed and
    independent of partition layout.  ``id_col`` must be unique per
    row — the noise derives from it (see ``gumbel_key_expr``), so
    duplicated ids would be selected all-or-nothing."""
    if k < 1:
        raise ValueError("k must be positive")
    weighted = dsir_log_weights(model, df, text_col)
    key = gumbel_key_expr("dsir_logw", id_col, seed)
    # column hygiene: re-selecting an input that already carries
    # dsir_logw must not produce a duplicate-named column, and the
    # internal sort key must not clobber (then leak back) a caller
    # column of the same name
    out_cols = list(df.columns)
    if "dsir_logw" not in out_cols:
        out_cols.append("dsir_logw")
    key_col = "_dsir_key"
    while key_col in df.columns:
        key_col += "_"
    return (
        weighted.withColumn(key_col, key)
        .orderBy(F.col(key_col).desc())
        .limit(k)
        .select(*out_cols)
    )
