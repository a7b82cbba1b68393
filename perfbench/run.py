"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the benchmark program (the
graft sources plus `perfbench/src`) with sbt on first use, generates the
workload's inputs from the seed, runs the workload in one JVM at
local[nproc], checks the outputs, and prints the metrics. The last line
of stdout is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (every end-to-end metric with `--trace 0`, every per-layer
metric with `--trace 1`). The full artifact (run header, samples, spans,
checks) goes to `.bench_results/<workload>-seed<n>-trace<t>.json`.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD_DIR, "sbt", "classpath.txt")
RUN_DIR = os.path.join(ROOT, ".bench_run")
RESULTS_DIR = os.path.join(ROOT, ".bench_results")
HEAP = "3g"
JVM_TIMEOUT_S = 150
# Spark on JDK 17 outside spark-submit needs these (build.sbt's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compile with sbt unless the classpath file is newer than every
    source; returns the runtime classpath."""
    fresh = os.path.exists(CLASSPATH) and all(
        os.path.getmtime(f) <= os.path.getmtime(CLASSPATH) for f in sources())
    if not fresh:
        tmp = os.path.join(BUILD_DIR, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp)
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        env["SBT_OPTS"] += f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "writeClasspath"]
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=400)
        if r.returncode != 0 or not os.path.exists(CLASSPATH):
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
    return open(CLASSPATH).read().strip()


def run_jvm(cp, workload, inputs, work, seconds, trace, out):
    """Run the benchmark JVM; fails the run unless it exits with 0."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", workload, "--inputs", inputs,
              "--work", work, "--seconds", str(seconds), "--trace", str(trace), "--out", out])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -9
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"benchmark JVM exited with {rc}")


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                               capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def median(values):
    """The median, or None when a failed run left no samples (its failure
    is in `failed` and `correct`)."""
    return statistics.median(values) if values else None


def end_to_end(a):
    """The end-to-end metrics of an untraced run."""
    s = a["setup"]
    m = {
        # JVM start to session ready, the median of the repeated initial
        # loads, and the discarded warm-up iteration
        "setup_s": (s["session_s"] + statistics.median(s["setups_s"]) + sum(s["warmup_s"]),
                    "s"),
        "build_p50_ms": (median(a["build_ms"]), "ms"),
        "refresh_p50_ms": (median(a["refresh_ms"]), "ms"),
        "read_p50_ms": (median(a["read_ms"]), "ms"),
        # live heap after the sweep that ends each measured iteration,
        # at its largest
        "peak_heap_mb": (a["peak_heap_mb"], "MB"),
    }
    detail = {}
    for k in ("build", "refresh", "read"):
        v, pct, n = metrics.tail(a[f"{k}_ms"])
        detail.update({f"{k}_n": n, f"{k}_tail_ms": v, f"{k}_tail_percentile": pct})
    return m, detail


def per_layer(a, workload):
    """Every per-layer metric; spans the workload does not run read 0."""
    layers = metrics.layer_metrics(a["spans"])
    m = {}
    for span in metrics.ALL_SPANS:
        vals = layers.get(span, {})
        for name, unit in metrics.LAYER_METRICS:
            m[f"{span}.{name}"] = (float(vals.get(name, 0.0)), unit)
    traced = [it["ms"] for it in a["iterations"] if it["traced"]]
    plain = [it["ms"] for it in a["iterations"] if not it["traced"]]
    base = median(plain)
    m["bench.trace_overhead"] = (
        (median(traced) - base) / base if traced and base else None, "ratio")
    missing = [s for s in metrics.SPANS[workload] if s not in layers]
    return m, {"spans_missing": missing}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep inputs and outputs")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found beside perfbench/; run from a full checkout")

    cp = build()
    run = os.path.join(RUN_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run, ignore_errors=True)
    inputs, work = os.path.join(run, "inputs"), os.path.join(run, "work")
    os.makedirs(work)
    t0 = time.time()
    rows = gen.generate(args.workload, args.seed, inputs)
    gen_s = time.time() - t0
    out = os.path.join(run, "artifact.json")
    t0 = time.time()
    run_jvm(cp, args.workload, inputs, work, args.seconds, args.trace, out)
    jvm_s = time.time() - t0
    a = json.load(open(out))
    truth = json.load(open(os.path.join(inputs, "truth.json")))

    t0 = time.time()
    try:
        results = checks.run(args.workload, inputs, work, truth, a)
    except Exception as e:  # a missing or unreadable output fails the run's checks
        results = {"checks": [f"{type(e).__name__}: {e}"]}
    checks_s = time.time() - t0
    bad_checks = sorted(k for k, v in results.items() if v)
    attempted = a["attempted"] + len(results)
    failed = a["failed"] + len(bad_checks)

    if args.trace:
        m, detail = per_layer(a, args.workload)
    else:
        m, detail = end_to_end(a)
    detail.update(failed_frac=failed / attempted, gen_s=gen_s, jvm_s=jvm_s, checks_s=checks_s)
    header = dict(a["header"], seed=args.seed, git_sha=git_sha(), rows=rows,
                  workload=args.workload, seconds=args.seconds, trace=args.trace)
    os.makedirs(RESULTS_DIR, exist_ok=True)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}
    with open(os.path.join(RESULTS_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump({"header": header, "result": result, "detail": detail, "checks": results,
                   "setup": a["setup"], "iterations": a["iterations"],
                   "build_ms": a["build_ms"], "refresh_ms": a["refresh_ms"],
                   "read_ms": a["read_ms"], "batch_read_ms": a["batch_read_ms"],
                   "heap_pools_at_peak_mb": a["heap_pools_at_peak_mb"],
                   "info": {k: v for k, v in a["info"].items() if k != "oracles"}},
                  f, indent=1)
    if not args.keep:
        shutil.rmtree(run, ignore_errors=True)

    for name in bad_checks:
        print(f"check {name}: FAILED {results[name]}")
    print(f"checks: {len(results) - len(bad_checks)}/{len(results)} passed; "
          f"failed_frac {failed / attempted:.6f} ({failed}/{attempted})")
    for k, (v, u) in m.items():
        if not args.trace or v:
            print(f"{k} = {v} {u}")
    print(json.dumps(result))
    sys.exit(0)


if __name__ == "__main__":
    main()
