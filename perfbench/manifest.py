"""Write ``BENCHMARK.json`` at the repository root from ``metrics.py``.

    python3 perfbench/manifest.py           # (re)write BENCHMARK.json
    python3 perfbench/manifest.py --check   # exit 1 if it is out of date
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402

PATH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
_UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def manifest() -> dict:
    doc = {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": M.RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in M.WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in M.END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": "higher" if n in M.HIGHER else "lower"}
            for n, u in M.PER_LAYER.items()
        ],
    }
    names = [e["name"] for k in ("workloads", "end_to_end", "per_layer") for e in doc[k]]
    assert len(names) == len(set(names)), "metric or workload name used twice"
    assert all(_NAME.fullmatch(n) for n in names), "bad name"
    assert all(
        _UNIT.fullmatch(e["unit"]) for k in ("end_to_end", "per_layer") for e in doc[k]
    ), "bad unit"
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in doc["workloads"])
    assert 2 <= len(doc["workloads"]) <= 8 and len(doc["per_layer"]) <= 128
    assert all(0 < e["bound"] <= 0.25 for e in doc["end_to_end"])
    assert "setup_s" in M.END_TO_END
    return doc


def main() -> int:
    text = json.dumps(manifest(), indent=2) + "\n"
    if "--check" in sys.argv[1:]:
        with open(PATH) as f:
            if f.read() != text:
                print("BENCHMARK.json is out of date: run perfbench/manifest.py")
                return 1
        return 0
    with open(PATH, "w") as f:
        f.write(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
