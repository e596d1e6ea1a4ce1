"""query_suite: the pinned headline queries, one client, closed loop.

Set-up generates the ten input tables from the seed, writes them as
parquet and resolves them through ``tables.load_table``.  The warm-up
runs every query once, planned with ``Query.fn``, collected and checked
against its DuckDB oracle by ``WARMUP_CLIENTS`` concurrent clients.  It
is untimed and has finished before the timed loop starts.  A first
execution costs about twice a warm one: one client at a time, the
warm-up took ~31 s on 4 cores, four clients take ~16 s, and the runs of
both workloads have to fit the benchmark's time budget.  The timed loop runs the suite in a seeded order per
pass, each query planned with ``Query.fn`` and forced with a ``noop``
write, pass after pass until ``seconds`` have elapsed at the end of one.

An op is one query execution.  Latency per query is its median over the
timed passes; a pass takes ~11 s on 4 cores, so at the benchmark's
``run_seconds`` that is usually one pass's time.  ``op_gmean_ms`` is
the geometric mean of those medians,
so each query weighs the same whatever its cost; ``work_per_s`` is the
query count divided by their sum, the throughput of one pass.  Single
query latencies on 4 cores swing by ~30% between passes, and a median
sits in the gap between the cheap and the costly queries, so both are
steadier than a percentile.  Per-layer sums are reported per pass.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import check
import datagen
from harness import Result, gmean, log, timed_setup
from metrics import QUERIES
from spans import add_work

#: concurrent clients of the warm-up pass, which runs every suite query
#: once, collects its result and checks it against the DuckDB oracle
WARMUP_CLIENTS = 4
#: metrics of layers this workload never enters; reported as 0
IDLE = (
    "lifecycle.", "stream.", "ingest.", "graph.", "store.", "read.",
    "exec.jobs_per_batch", "exec.tasks_per_batch", "gate.", "dedup.",
)


def run(spark, *, work, seed, seconds, scale, tracer, sparkwork) -> Result:
    from consume_kafka_avro_data_spark.registry import all_queries
    from consume_kafka_avro_data_spark.tables import TABLES, load_table

    registry = all_queries()
    queries = [registry[n] for n in QUERIES]
    res = Result()

    def prepare(rep: int) -> str:
        sf_dir = os.path.join(work, f"tables{rep}")
        datagen.write_tables(datagen.tables(seed, scale), sf_dir)
        for t in TABLES:
            load_table(spark, sf_dir, t)
        return sf_dir

    sf_dir, res.e2e["setup_s"] = timed_setup(prepare)
    # data-dependent oracle factories read the tables they will run on
    os.environ["SPARK_GRAFT_TEST_SF_DIR"] = sf_dir

    log(f"set-up done, median {res.e2e['setup_s']:.2f} s; warming up and checking")
    con = check.oracle_connection(sf_dir)

    def check_one(q) -> str | None:
        try:
            got = q.fn(spark, sf_dir).toPandas()
            oracle = q.oracle_text()
            if oracle is None:
                return None if len(got.columns) else "no columns"
            return check.mismatch(got, con.cursor().sql(oracle).df())
        except Exception:
            return traceback.format_exc()

    with ThreadPoolExecutor(max_workers=WARMUP_CLIENTS) as pool:
        for q, bad in zip(queries, pool.map(check_one, queries)):
            res.attempted += 1
            if bad:
                res.failed += 1
                print(f"CHECK FAILED {q.name}: {bad}", file=sys.stderr)
    con.close()
    log("timing")
    latency: dict[str, list[float]] = {q.name: [] for q in queries}
    layer: dict = {}
    t_start = time.perf_counter()
    passes = 0
    done = False
    while not done:
        order = queries[:]
        random.Random(seed * 7919 + passes).shuffle(order)
        for q in order:
            spark.catalog.clearCache()
            res.attempted += 1
            t0 = time.perf_counter()
            ok = True
            try:
                with tracer.span("query", op=f"{passes}:{q.name}"):
                    if sparkwork:
                        m0 = sparkwork.mark()
                    with tracer.span("queries.build"):
                        df = q.fn(spark, sf_dir)
                    if sparkwork:
                        m1 = sparkwork.mark()
                    with tracer.span("exec.write"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception:
                ok = False
                res.failed += 1
                traceback.print_exc()
            latency[q.name].append(time.perf_counter() - t0)
            if sparkwork and ok:
                m2 = sparkwork.mark()
                eager = sparkwork.between(m0, m1)
                layer["queries.eager_jobs"] = layer.get("queries.eager_jobs", 0) + eager["jobs"]
                layer["queries.eager_s"] = layer.get("queries.eager_s", 0.0) + eager["job_s"]
                add_work(layer.setdefault("exec", {}), eager)
                add_work(layer["exec"], sparkwork.between(m1, m2))
        passes += 1
        done = time.perf_counter() - t_start >= seconds

    log(f"timed {passes} pass(es) in {time.perf_counter() - t_start:.1f} s")

    per_query = {n: statistics.median(v) for n, v in latency.items()}
    res.e2e["op_gmean_ms"] = gmean(list(per_query.values())) * 1e3
    res.e2e["work_per_s"] = len(per_query) / sum(per_query.values())

    if sparkwork:
        per_pass = 1 / passes
        build = tracer.total("queries.build")
        ex = layer.get("exec", {})
        res.layers = {
            "queries.build_s": build * per_pass,
            "queries.eager_s": layer.get("queries.eager_s", 0.0) * per_pass,
            "queries.eager_jobs": layer.get("queries.eager_jobs", 0) * per_pass,
            "queries.plan_s": (build - layer.get("queries.eager_s", 0.0)) * per_pass,
            "exec.write_s": tracer.total("exec.write") * per_pass,
            **{f"exec.{k}": ex.get(k, 0) * per_pass for k in (
                "jobs", "stages", "tasks", "run_s", "cpu_s",
                "shuffle_bytes", "spill_bytes",
            )},
            **{f"query.{n}_s": v for n, v in per_query.items()},
        }
    return res
