"""Smoke self-test of the benchmark, at tiny input sizes.

    python3 perfbench/smoke.py

Runs every workload untraced and traced and asserts that each run ends
in a result line that names every metric of ``BENCHMARK.json`` with no
failed op.  Also checks that ``BENCHMARK.json`` is current and that the
benchmark fails without a result when the package is absent.  Takes
about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def main() -> int:
    subprocess.run([sys.executable, os.path.join(HERE, "manifest.py"), "--check"], check=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = _run(ROOT, w["name"], trace)
            assert p.returncode == 0, p.stderr[-4000:]
            out = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
            assert out["failed"] == 0 and out["correct"] and out["attempted"] >= 1, out
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {n: m["unit"] for n, m in out["metrics"].items()}
            assert got == want, sorted(set(want) ^ set(got))
            if key == "end_to_end":
                assert all(m["value"] > 0 for m in out["metrics"].values()), out
            print(f"ok {w['name']} trace={trace} attempted={out['attempted']}", flush=True)

    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = _run(bare, spec["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0 and '"metrics"' not in p.stdout, p.stdout[-2000:]
    print("ok fails without the package", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
