#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the sf parquet tables, compare to the Spark result dumped by
graft.Verify (columns sorted by name, rows sorted, value-wise compare).

Usage: oracle_check.py <sfDir> <verifyOutDir> [--skip q23,q26,...]
                                           [--timeout SECONDS]
(--skip exists for sf0.1 runs, where the all-pairs/recursive-CTE
oracles of q23/q26 and the O(n*k) window re-hash of q63 are
prohibitively slow in DuckDB; skipped queries report as SKIPPED and
don't count against the gate. Skip names are VALIDATED against the
oracle registry — a typo aborts instead of silently no-oping, the
round-11 35-minute incident. --timeout (default 900 s) interrupts any
single oracle that overruns, so a mis-skipped all-pairs oracle fails
fast and visibly.)

Also writes RECALL_SELF.json into <verifyOutDir> (never the working
directory, so a gate run leaves the committed copy alone): the
machine-readable affirmative gate for the no-oracle queries — per
query the planted_ok verdict plus, when present, measured_recall /
recall_floor / recall_ok and the q58/q87-style in-query audit flags.
"""
import sys, json, glob, os, threading
import duckdb
import pandas as pd
import numpy as np

# Known-expensive oracles (rough solo DuckDB cost at each scale) — the
# expected-cost table behind the sf0.1/10x skip list. If one of these
# hits the timeout UNSKIPPED, the skip list is wrong, not the engine.
EXPECTED_SLOW = {
    "q23_dedup_ngram_jaccard": "all-pairs list_intersect: ~2 s sf0.01, >467 s sf0.1",
    "q26_dedup_clusters": "all-pairs + recursive-CTE CC: seconds sf0.01, >460 s sf0.1",
    "q99_canonical_keep": "same all-pairs CTE as q26: skip beyond sf0.01",
    "q39_split_leakage": "all-pairs cross-split jaccard: skip beyond sf0.01",
    "q63_substring_dup": "O(n*k) window re-hash: ~2 s sf0.01, minutes at 10x",
    "q121_pmi_collocations": "token unnest: ~5 min solo at 10x (fits the timeout)",
}

# Boolean audit columns a no-oracle query may carry; any that exist are
# lifted into RECALL_SELF.json as the query's affirmative evidence.
AUDIT_BOOL_COLS = ["planted_ok", "recall_ok", "within_3rsd", "approx_ok"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            # DuckDB DATE -> pandas datetime64 at midnight; Spark DATE ->
            # datetime.date objects. Canonicalize both to date strings when
            # no time component is present.
            if (s.dropna().dt.normalize() == s.dropna()).all():
                df[c] = s.dt.strftime("%Y-%m-%d")
            else:
                df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S")
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(v) if v is not None else None)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def compare(name, spark_df, oracle_df):
    issues = []
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return [f"schema mismatch: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"]
    if len(spark_df) != len(oracle_df):
        issues.append(f"row count: spark={len(spark_df)} oracle={len(oracle_df)}")
        return issues
    a, b = norm(spark_df), norm(oracle_df)
    for c in a.columns:
        av, bv = a[c], b[c]
        # The driver hashes exact value representations, so an int64 Spark
        # column vs a float64/object oracle column (e.g. DuckDB HUGEINT from
        # sum(BIGINT)) fails its gate even when values are numerically equal.
        # Mirror that: integer-vs-non-integer dtype is a hard mismatch.
        int_a = pd.api.types.is_integer_dtype(av)
        int_b = pd.api.types.is_integer_dtype(bv)
        if int_a != int_b:
            issues.append(
                f"col {c}: dtype mismatch spark={av.dtype} oracle={bv.dtype} "
                f"(driver's exact hash would fail; cast the oracle)")
            continue
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            bad = pd.Series(
                ~np.isclose(av.fillna(np.nan), bv.fillna(np.nan),
                            rtol=1e-9, atol=1e-9, equal_nan=True),
                index=av.index)
        else:
            try:
                bad = ~((av == bv) | (av.isna() & bv.isna()))
            except Exception:
                bad = pd.Series([str(x) != str(y) for x, y in zip(av, bv)])
        n = int(bad.sum())
        if n:
            i = bad.idxmax()
            issues.append(f"col {c}: {n} diffs; first at row {i}: spark={a[c][i]!r} oracle={b[c][i]!r}")
    return issues

def main():
    args = sys.argv[1:]
    skip = set()
    timeout_s = 900.0
    if "--timeout" in args:
        i = args.index("--timeout")
        if i + 1 >= len(args):
            sys.exit("--timeout requires a seconds value")
        timeout_s = float(args[i + 1])
        args = args[:i] + args[i + 2:]
    if "--skip" in args:
        i = args.index("--skip")
        if i + 1 >= len(args):
            sys.exit("--skip requires a comma-separated query list")
        skip = set(q for q in args[i + 1].split(",") if q)
        if not skip:
            sys.exit("--skip requires a non-empty query list")
        args = args[:i] + args[i + 2:]
    if len(args) != 2:
        sys.exit(__doc__)
    sf_dir, out_dir = args
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # Spark-written table (ScaleGen corpora): a directory of parts
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    # a --skip typo must abort, not silently verify nothing (round-11
    # incident: a wrong q39 name no-oped and the all-pairs oracle ran)
    unknown_skips = skip - set(oracles)
    if unknown_skips:
        sys.exit(f"unknown --skip name(s): {sorted(unknown_skips)} — "
                 "not in oracle_sql.json; fix the skip list")
    results = {}
    recall = {}
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(os.path.join(d, "*.parquet"))
        if not files:
            results[name] = ["NO SPARK OUTPUT"]
            continue
        if name in skip:
            print(f"{name}: SKIPPED (expensive oracle)")
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracles:
            issues = [] if len(spark_df) > 0 else ["rows-only check: 0 rows"]
            ev = {}
            for c in AUDIT_BOOL_COLS:
                if c in spark_df.columns:
                    ev[c] = bool(spark_df[c].all()) and len(spark_df) > 0
                    if not ev[c]:
                        issues.append(f"audit column {c} is not all-true")
            for c in ("measured_recall", "recall_floor"):
                if c in spark_df.columns and len(spark_df):
                    ev[c] = float(spark_df[c].iloc[0])
            if ev:
                recall[name] = ev
            results[name] = issues
            audits = f" audits={ev}" if ev else ""
            print(f"{name}: rows-only, {len(spark_df)} rows -> "
                  f"{'OK' if not issues else 'FAIL'}{audits}")
            continue
        # per-oracle timeout: a watchdog interrupts the DuckDB query so
        # a mis-skipped all-pairs oracle fails in minutes, not hours
        timer = threading.Timer(timeout_s, con.interrupt)
        timer.start()
        try:
            oracle_df = con.execute(oracles[name]).df()
        except Exception as e:
            hint = EXPECTED_SLOW.get(name, "")
            hint = f" (expected-cost: {hint})" if hint else ""
            results[name] = [f"ORACLE SQL ERROR: {e}{hint}"]
            print(f"{name}: ORACLE SQL ERROR: {e}{hint}")
            continue
        finally:
            timer.cancel()
        issues = compare(name, spark_df, oracle_df)
        results[name] = issues
        print(f"{name}: {'MATCH' if not issues else 'MISMATCH'}")
        for i in issues[:6]:
            print(f"    {i}")
    for name in oracles:
        if name not in results and name not in skip:
            print(f"{name}: MISSING SPARK OUTPUT (query failed)")
            results[name] = ["missing spark output"]
    if recall:
        dest = os.path.join(out_dir, "RECALL_SELF.json")
        with open(dest, "w") as f:
            f.write(json.dumps(recall, indent=1, sort_keys=True))
        print(f"recall sidecar: {len(recall)} no-oracle queries -> {dest}")
    n_bad = sum(1 for v in results.values() if v)
    print(f"\n{len(results) - n_bad}/{len(results)} green")
    sys.exit(0 if n_bad == 0 else 1)

if __name__ == "__main__":
    main()
