"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Each run starts one Spark session
through ``session.get_session`` at as many cores as the process may use,
sets no tuning confs of its own, builds its inputs from ``--seed``,
warms up on the same code paths, measures a closed loop (one client; the
next query, micro-batch or read starts when the previous one has
finished), checks every output it can against an independent DuckDB
computation outside the timed region, and prints every metric by name
with its unit.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics of ``metrics.END_TO_END``.
``--trace 1`` wraps the package's public functions in spans, reads Spark
work from the status store, and reports ``metrics.PER_LAYER`` instead;
its ``traced.*`` figures minus the untraced run's give the overhead.

Everything a run writes (tables, topic, stores, Spark scratch space,
spans) stays under ``perfbench/.work`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let Python workers import the package from it.  Must run
    before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", choices=("bench", "tiny"), default="bench",
        help="input sizes; 'tiny' is for the smoke test only",
    )
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    import metrics as M

    if args.workload not in M.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(M.WORKLOADS)}")
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)

    from consume_kafka_avro_data_spark.session import get_session
    from pyspark import SparkContext

    from spans import SparkWork, Tracer

    if args.workload == "query_suite":
        import query_suite as workload
    else:
        import graph_stream as workload

    cores = len(os.sched_getaffinity(0))
    spark = get_session(app_name=f"perfbench-{args.workload}", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    jvm = SparkContext._gateway.proc
    tracer = Tracer(enabled=bool(args.trace))
    try:
        res = workload.run(
            spark,
            work=work,
            seed=args.seed,
            seconds=args.seconds,
            scale=args.scale,
            tracer=tracer,
            sparkwork=SparkWork(spark) if args.trace else None,
        )
        res.layers["proc.peak_rss_mb"] = _hwm_mb("self") + _hwm_mb(jvm.pid)
    finally:
        spark.stop()
        SparkContext._gateway.shutdown()
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        tracer.dump(os.path.join(WORK_ROOT, f"spans-{args.workload}-{args.seed}.json"))
        wanted = {n: u for n, u in M.PER_LAYER.items()}
        values = res.layers
        for n in wanted:
            if n.startswith(workload.IDLE):
                values.setdefault(n, 0.0)
        values["traced.op_gmean_ms"] = res.e2e["op_gmean_ms"]
        values["traced.work_per_s"] = res.e2e["work_per_s"]
    else:
        wanted = {n: spec[0] for n, spec in M.END_TO_END.items()}
        values = res.e2e
    missing = sorted(set(wanted) - set(values))
    if missing:
        raise RuntimeError(f"workload did not report {missing}")
    out = {n: {"value": float(values[n]), "unit": u} for n, u in wanted.items()}
    for n, m in out.items():
        print(f"{n:<34} {m['value']:>16.6g} {m['unit']}")
    print(f"ops attempted {res.attempted}, failed {res.failed}")
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": out,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
