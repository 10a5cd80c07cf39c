#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric and workload by
workload, against the bounds in BENCHMARK.json:

  python3 perfbench/compare.py parent.out change.out

Each file holds the stdout of any number of `run.py` runs (the host line
followed by the result line, as run.py prints them). Runs taken on
different (cpus, heap) configurations are not comparable: the comparison
is refused.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load(path):
    """[(detail, result)] for every complete run in a run.py stdout file."""
    runs, detail = [], None
    with open(path) as f:
        for line in f:
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if isinstance(obj, dict) and "host" in obj:
                detail = obj
            elif isinstance(obj, dict) and "metrics" in obj and detail is not None:
                runs.append((detail, obj))
                detail = None
    return runs


def config(detail):
    return (detail["host"]["cpus"], detail["host"]["heap"])


def compare(a_runs, b_runs, spec):
    """Rows of (workload, metric, parent median, change median, change
    as a share of the parent, bound, verdict)."""
    configs = {config(d) for d, _ in a_runs + b_runs}
    if len(configs) != 1:
        raise SystemExit(f"refused: runs come from different (cpus, heap) configurations: "
                         f"{sorted(configs)}")
    bounds = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    rows = []
    for w in sorted({d["workload"] for d, _ in a_runs + b_runs}):
        for name, m in bounds.items():
            a = [r["metrics"][name]["value"] for d, r in a_runs
                 if d["workload"] == w and name in r["metrics"]]
            b = [r["metrics"][name]["value"] for d, r in b_runs
                 if d["workload"] == w and name in r["metrics"]]
            if not a or not b:
                continue
            (_, ma, _), (_, mb, _) = stats.quartiles(a), stats.quartiles(b)
            share = (mb - ma) / ma if ma else 0.0
            worse = share if m["better"] == "lower" else -share
            bound = m.get("bound")
            verdict = "-" if bound is None else ("WORSE" if worse > bound else "ok")
            rows.append((w, name, ma, mb, share, bound, verdict))
    return rows


def main(argv):
    if len(argv) != 3:
        raise SystemExit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    rows = compare(load(argv[1]), load(argv[2]), spec)
    for w, name, ma, mb, share, bound, verdict in rows:
        print(f"{w:20s} {name:28s} {ma:12.4f} {mb:12.4f} {share:+8.1%} "
              f"{'' if bound is None else f'{bound:.0%}':>5s} {verdict}")
    return 1 if any(r[-1] == "WORSE" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
