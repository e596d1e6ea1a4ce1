"""Seeded input generators for the benchmark.

The benchmark must not read anything outside its checkout, so it builds
its own copy of the engine's ten input tables with the shapes and value
distributions of the project's synthetic test data (TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``).  The same
seed always gives byte-identical tables.

``SIZES`` pins the row counts of each scale.  ``bench`` mirrors the
sf0.01 layout; ``tiny`` mirrors sf0.001 and exists for the smoke test.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "bench": dict(
        customer=1500, supplier=100, part=2000, orders=15000,
        lineitem=60000, events=10000, users=150, documents=500,
        embeddings=500,
    ),
    "tiny": dict(
        customer=150, supplier=10, part=200, orders=1500,
        lineitem=6000, events=1000, users=15, documents=200,
        embeddings=200,
    ),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_DAY_US = 86_400_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(rng, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _documents(rng, n: int) -> dict:
    """Random word sequences; 5% are an earlier document plus " dup",
    the near-duplicates the dedup operators look for."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def tables(seed: int, scale: str = "bench") -> dict[str, pa.Table]:
    """The ten input tables as Arrow tables, deterministic in ``seed``."""
    s = SIZES[scale]
    rng = np.random.default_rng(seed)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS})
    out["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    n = s["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": i64(range(n)),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": i32(rng.integers(0, 25, n)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n)],
        }
    )
    n = s["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": i64(range(n)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": i32(rng.integers(0, 25, n)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = s["part"]
    out["part"] = pa.table(
        {
            "p_partkey": i64(range(n)),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n)],
            "p_size": i32(rng.integers(1, 51, n)),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1),
        }
    )
    n = s["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": i64(range(n)),
            "o_custkey": i64(rng.integers(0, s["customer"], n)),
            "o_orderstatus": [("P", "O", "F")[j] for j in rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", n)),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n)],
        }
    )
    n = s["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, s["orders"], n)),
            "l_partkey": i64(rng.integers(0, s["part"], n)),
            "l_suppkey": i64(rng.integers(0, s["supplier"], n)),
            "l_linenumber": i32(rng.integers(1, 8, n)),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n)],
            "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, n)],
            "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", n)),
        }
    )
    n = s["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    gaps = rng.exponential(30 * _DAY_US / n, n).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": i64(range(n)),
            "ts": _ts(start + np.cumsum(gaps)),
            "user_id": i64(rng.integers(0, s["users"], n)),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n)],
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        }
    )
    out["documents"] = pa.table(_documents(rng, s["documents"]))
    out["embeddings"] = _embeddings(rng, s["embeddings"])
    return out


def documents(seed: int, n: int) -> pa.Table:
    """``n`` documents shaped like the ``documents`` table (``doc_id``,
    ``text``, ``lang``, ``source``, ``n_chars``), 5% of them near-duplicates
    of an earlier one."""
    return pa.table(_documents(np.random.default_rng(seed), n))


def write_tables(tabs: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` per table, the layout the loaders read."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tabs.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def triples(seed: int, n: int, n_subjects: int) -> list[tuple[str, str, str]]:
    """(subject, predicate, object) rows shaped like the reference's SPO
    topic: subjects are user ids, predicates event types and objects
    small JSON property documents."""
    rng = np.random.default_rng(seed)
    subj = rng.integers(0, n_subjects, n)
    pred = rng.integers(0, len(EVENT_TYPES), n)
    obj = rng.integers(0, 100, n)
    return [
        (str(int(s)), EVENT_TYPES[p], json.dumps({"k": int(o)}))
        for s, p, o in zip(subj, pred, obj)
    ]
