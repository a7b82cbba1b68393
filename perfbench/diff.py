"""Compare two sets of benchmark results, workload by workload.

    python3 perfbench/diff.py <before> <after>

Each side is a results directory (`.bench_results/` as `run.py` writes
it) or a single result file. For every workload and metric it prints the
median of each side over its runs and the relative change; an end-to-end
metric that got worse by more than its bound in BENCHMARK.json is
flagged REGRESSION, one that improved by more than its bound is flagged
better. Per-layer metrics have no bound and are listed for attribution.
Exits 1 when any regression is flagged.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    """{(workload, metric): [values]} over every result file under `path`."""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = {}
    for f in files:
        a = json.load(open(f))
        w = a["header"]["workload"]
        for m, v in a["result"]["metrics"].items():
            if v["value"] is not None:
                out.setdefault((w, m), []).append(v["value"])
    return out


def diff(before, after, spec):
    """Rows of (workload, metric, median before, median after, change, flag)."""
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    rows = []
    for key in sorted(set(before) & set(after)):
        w, m = key
        a, b = statistics.median(before[key]), statistics.median(after[key])
        change = (b - a) / a if a else (0.0 if b == a else float("inf"))
        flag = ""
        if m in bounds:
            worse = change if better[m] == "lower" else -change
            if worse > bounds[m]["bound"]:
                flag = "REGRESSION"
            elif -worse > bounds[m]["bound"]:
                flag = "better"
        rows.append((w, m, a, b, change, flag))
    return rows


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    rows = diff(load(sys.argv[1]), load(sys.argv[2]), spec)
    for w, m, a, b, change, flag in rows:
        if a or b:
            print(f"{w:10s} {m:42s} {a:14.4f} -> {b:14.4f} {change:+8.2%} {flag}")
    sys.exit(1 if any(r[5] == "REGRESSION" for r in rows) else 0)


if __name__ == "__main__":
    main()
