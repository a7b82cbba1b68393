"""Metric arithmetic for the benchmark: medians, the tail-percentile rule,
and per-layer self time / driver time from traced span intervals."""
import statistics

# every layer span the benchmark records, by workload
SPANS = {
    "warehouse": ["sources.ingest", "etl.clean", "etl.scd_build", "etl.dims",
                  "etl.fact", "sources.sink", "queries.dashboard",
                  "streaming.scd_batch", "streaming.cdc_batch", "streaming.rollup_batch"],
    "curation": ["text.filter", "curate.classify", "dedup.near", "graph.pagerank",
                 "sim.semantic_dedup", "curate.sample", "dedup.incremental"],
}
ALL_SPANS = sorted({s for v in SPANS.values() for s in v})
LAYER_METRICS = [("wall_ms", "ms"), ("jobs", "count"), ("tasks", "count"),
                 ("task_ms", "ms"), ("driver_ms", "ms"),
                 ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes")]
TAIL_BEYOND = 10


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n); value and percentile are None when
    there are not more than `beyond` samples. Sorted ascending, the sample
    at 1-based rank n - beyond has exactly `beyond` samples beyond it, and
    it sits at percentile 100 * (n - beyond) / n."""
    n = len(values)
    if n <= beyond:
        return None, None, n
    rank = n - beyond
    return sorted(values)[rank - 1], 100.0 * rank / n, n


def _union(intervals):
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _subtract(base, holes):
    """`base` intervals minus the union of `holes`."""
    holes = _union(holes)
    out = []
    for a, b in base:
        cur = a
        for h0, h1 in holes:
            if h1 <= cur or h0 >= b:
                continue
            if h0 > cur:
                out.append([cur, h0])
            cur = max(cur, h1)
        if cur < b:
            out.append([cur, b])
    return out


def _length(intervals):
    return sum(b - a for a, b in intervals)


def span_layers(spans):
    """Per span: self time and driver time, in ms.

    Self time is the span's interval minus the part its child spans
    cover. Driver time is the part of the self interval during which
    none of the span's own tasks was running."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = children.get(s["id"], [])
        own_ns = _subtract([[s["start_ns"], s["end_ns"]]],
                           [[k["start_ns"], k["end_ns"]] for k in kids])
        own_ms = _subtract([[s["start_ms"], s["end_ms"]]],
                           [[k["start_ms"], k["end_ms"]] for k in kids])
        out[s["id"]] = {
            "wall_ms": _length(own_ns) / 1e6,
            "driver_ms": float(_length(_subtract(own_ms, s["task_intervals"]))),
        }
    return out


def layer_metrics(spans):
    """Per span name: each metric summed over the span's calls in one
    iteration, then the median over traced iterations."""
    derived = span_layers(spans)
    per_iter = {}
    for s in spans:
        row = per_iter.setdefault((s["name"], s["iter"]), dict.fromkeys(
            (m for m, _ in LAYER_METRICS), 0.0))
        d = derived[s["id"]]
        row["wall_ms"] += d["wall_ms"]
        row["driver_ms"] += d["driver_ms"]
        for m in ("jobs", "tasks", "task_ms", "shuffle_bytes", "spill_bytes"):
            row[m] += s[m]
    by_name = {}
    for (name, _), row in per_iter.items():
        by_name.setdefault(name, []).append(row)
    return {name: {m: statistics.median(r[m] for r in rows) for m, _ in LAYER_METRICS}
            for name, rows in by_name.items()}
