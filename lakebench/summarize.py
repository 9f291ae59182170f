"""Summarise saved benchmark outputs: median and spread of every metric.

    python3 lakebench/summarize.py OUT_FILE...

Each file holds the stdout of one ``run.py`` run. Spread is the distance
between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), the steadiness measure the
benchmark's bounds are checked against. For traced runs it also prints
the median of the traced run's own end-to-end numbers, so tracing
overhead is the difference to an untraced summary of the same seeds.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakebench.stats import spread  # noqa: E402


def load(path: str) -> tuple[dict, dict]:
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    return json.loads(lines[-2]), json.loads(lines[-1])


def summarize(paths: list[str]) -> dict[str, dict[str, float]]:
    values: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    bad = 0
    for p in paths:
        detail, result = load(p)
        bad += not result["correct"]
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        for k, v in detail["detail"].get("traced_end_to_end", {}).items():
            traced.setdefault(f"traced:{k}", []).append(v)
    out = {}
    for k, vs in {**values, **traced}.items():
        med = statistics.median(vs)
        row = {"n": len(vs), "median": med, "min": min(vs), "max": max(vs)}
        if len(vs) >= 2 and med:
            row["spread"] = spread(vs)
        out[k] = row
    out["_incorrect_runs"] = {"n": bad}
    return out


if __name__ == "__main__":
    print(json.dumps(summarize(sys.argv[1:]), indent=1))
