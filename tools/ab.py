#!/usr/bin/env python3
"""Paired A/B runs of the benchmark in two checkouts.

    python3 tools/ab.py --workload W --seeds 2001-2010 PARENT_DIR CHANGE_DIR

For each seed it runs `perfbench/run.py --trace 0` once in each
checkout, for the `run_seconds` of the change's BENCHMARK.json, as one
pair; the side that goes first alternates from pair to
pair (the parent on even pairs, the change on odd ones). Each run's
result is the JSON object on the last line of its stdout. For every
end-to-end metric in the change's BENCHMARK.json it prints each side's
median and quartiles, the change's wins out of the pairs (ties count
for neither side; a pair with a missing value is no win), the median
gap in the better direction against the parent's interquartile range,
and whether the gain rule holds: the change wins at least nine tenths
of the pairs and the gap is larger than the parent's IQR. It also prints
failed out of attempted operations per side. Quartiles are the
inclusive (linear-interpolation) ones of `statistics.quantiles`.
`--out FILE` writes every run's result and the summary as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def parse_seeds(text):
    """`2001-2010` or `1,5,9` (ranges and single seeds may be mixed)."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout, workload, seed, seconds):
    """One untraced run; its result object, or None when the run printed
    none (the JVM or the build failed)."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = r.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def quartiles(values):
    """(q1, median, q3); one value is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def value(result, metric):
    if result is None:
        return None
    return result.get("metrics", {}).get(metric, {}).get("value")


def summarize(pairs, metric, better):
    """The A/B summary of one metric over `pairs`, a list of
    {"parent": result, "change": result}; `better` is "lower" or "higher"."""
    sign = -1.0 if better == "lower" else 1.0
    vals = {s: [v for v in (value(p[s], metric) for p in pairs) if v is not None]
            for s in SIDES}
    wins = 0
    for p in pairs:
        a, b = value(p["parent"], metric), value(p["change"], metric)
        if a is not None and b is not None and sign * (b - a) > 0:
            wins += 1
    out = {"metric": metric, "better": better, "pairs": len(pairs), "wins": wins}
    for s in SIDES:
        out[s] = dict(zip(("q1", "median", "q3"), quartiles(vals[s]))) if vals[s] else None
    if out["parent"] and out["change"]:
        out["gap"] = sign * (out["change"]["median"] - out["parent"]["median"])
        out["parent_iqr"] = out["parent"]["q3"] - out["parent"]["q1"]
        out["rule_met"] = (10 * wins >= 9 * len(pairs) and out["gap"] > out["parent_iqr"])
    else:
        out.update(gap=None, parent_iqr=None, rule_met=False)
    return out


def failures(pairs, side):
    """(failed, attempted, runs with no result) over one side's runs."""
    results = [p[side] for p in pairs]
    done = [r for r in results if r is not None]
    return (sum(r["failed"] for r in done), sum(r["attempted"] for r in done),
            len(results) - len(done))


def fmt(q):
    return "-" if q is None else f"{q['median']:.4g} ({q['q1']:.4g}-{q['q3']:.4g})"


def report(summaries, pairs):
    lines = [f"{'metric':<16} {'parent median (q1-q3)':<30} {'change median (q1-q3)':<30} "
             f"{'wins':>6} {'gap':>9} {'p.IQR':>9}  rule"]
    for s in summaries:
        gap = "-" if s["gap"] is None else f"{s['gap']:.4g}"
        iqr = "-" if s["parent_iqr"] is None else f"{s['parent_iqr']:.4g}"
        lines.append(f"{s['metric']:<16} {fmt(s['parent']):<30} {fmt(s['change']):<30} "
                     f"{s['wins']:>3}/{s['pairs']:<2} {gap:>9} {iqr:>9}  "
                     f"{'met' if s['rule_met'] else 'not met'}")
    for side in SIDES:
        failed, attempted, missing = failures(pairs, side)
        lines.append(f"{side}: failed {failed}/{attempted} operations; "
                     f"{missing} run(s) without a result")
    lines.append("gap: median improvement in the metric's better direction (change - parent)")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 2001-2010 or 1,4,9")
    ap.add_argument("--out", help="write every run's result and the summary here as JSON")
    ap.add_argument("parent")
    ap.add_argument("change")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(args.change, "BENCHMARK.json")))
    seconds = spec["run_seconds"]
    dirs = {"parent": args.parent, "change": args.change}

    pairs = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(dirs[side], args.workload, seed, seconds)
            got = value(pair[side], "build_p50_ms")
            print(f"pair {i + 1} seed {seed} {side}: "
                  f"{'no result' if pair[side] is None else f'build_p50_ms {got}'}",
                  file=sys.stderr, flush=True)
        pairs.append(pair)

    summaries = [summarize(pairs, m["name"], m["better"]) for m in spec["end_to_end"]]
    print(f"workload {args.workload}, {len(pairs)} pairs, --seconds {seconds:g}")
    print(report(summaries, pairs))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": seconds, "pairs": pairs,
                       "summary": summaries}, f, indent=1)


if __name__ == "__main__":
    main()
