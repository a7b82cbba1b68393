"""Output checks for the benchmark, run after the timed region.

Warehouse layer outputs are compared with DuckDB running the oracle SQL
that graft registers for the mirrored queries (`SparkEntry.oracleSql`),
the same way `tools/oracle_check.py` compares: columns sorted by name,
rows sorted, floats within 1e-9, integer-vs-float dtype drift is a
mismatch. The planted structures from `gen.py` are checked against the
answers it recorded in `truth.json`.

Every check returns a list of problems; an empty list is a pass.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if (s.dropna().dt.normalize() == s.dropna()).all():
                df[c] = s.dt.strftime("%Y-%m-%d")
            else:
                df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S")
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got, want):
    """Problems found comparing a Spark output frame with its oracle."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"schema: got {sorted(got.columns)} want {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count: got {len(got)} want {len(want)}"]
    a, b = norm(got), norm(want)
    issues = []
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_integer_dtype(av) != pd.api.types.is_integer_dtype(bv):
            issues.append(f"col {c}: dtype got {av.dtype} want {bv.dtype}")
            continue
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            bad = ~np.isclose(av, bv, rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            bad = ~((av == bv) | (av.isna() & bv.isna())).to_numpy()
        n = int(bad.sum())
        if n:
            i = int(np.argmax(bad))
            issues.append(f"col {c}: {n} diffs, first got {a[c][i]!r} want {b[c][i]!r}")
    return issues


def connect(inputs):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def spark_out(path):
    """A Spark-written parquet directory as a pandas frame."""
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(path)
    return duckdb.sql(f"SELECT * FROM read_parquet({files!r}, hive_partitioning = true)").df()


def _strip_order(sql):
    i = sql.upper().rfind("ORDER BY")
    return sql[:i] if i >= 0 else sql


def scd_invariants(df, key, attrs):
    """One current row per key; each period ends where the next begins,
    so no two periods of a key overlap; is_current iff no end date."""
    con = duckdb.connect()
    con.register("t", df)
    attr = ", ".join(attrs)
    bad_current = con.execute(
        f"SELECT count(*) FROM (SELECT {key}, count(*) FILTER (WHERE is_current) AS c "
        f"FROM t GROUP BY {key}) WHERE c <> 1").fetchone()[0]
    bad_chain = con.execute(
        f"SELECT count(*) FROM (SELECT start_date, end_date, is_current, lead(start_date) "
        f"OVER (PARTITION BY {key} ORDER BY start_date, {attr}) AS nxt FROM t) "
        f"WHERE end_date IS DISTINCT FROM nxt OR end_date < start_date "
        f"OR is_current <> (end_date IS NULL)").fetchone()[0]
    out = []
    if bad_current:
        out.append(f"{bad_current} keys without exactly one current row")
    if bad_chain:
        out.append(f"{bad_chain} periods overlap or leave a gap")
    return out


def scd_rows(df, key, user):
    rows = df[df[key] == user].sort_values(["start_date", "event_type"])
    d = lambda v: None if v is None or pd.isna(v) else str(pd.Timestamp(v).date())
    return [[r.event_type, d(r.start_date), d(r.end_date)] for r in rows.itertuples()]


def check_planted_scd(df, p, clean):
    out = []
    for user, want in ((p["aba_user"], p["aba"]),
                       (p["same_day_user"], p["same_day_clean" if clean else "same_day_raw"])):
        got = scd_rows(df, "user_id", user)
        if got != want:
            out.append(f"planted user {user}: got {got} want {want}")
    return out


# ---------------------------------------------------------------- workloads
def check_warehouse_build(inputs, work, truth, oracles):
    out = os.path.join(work, "build")
    con = connect(inputs)
    checks = {}
    # cleaning, then SCD and point-in-time join over the cleaned records
    checks["clean_q06"] = compare(spark_out(f"{out}/clean_events"),
                                  con.execute(oracles["q06_remove_one_day_changes"]).df())
    con.execute("CREATE SCHEMA c")
    con.execute("CREATE TABLE c.events AS SELECT event_id, user_id, "
                "CAST(d AS TIMESTAMP) AS ts, event_type FROM ("
                + _strip_order(oracles["q06_remove_one_day_changes"]) + ")")
    con.execute("SET search_path = 'c,main'")
    scd = spark_out(f"{out}/scd_user")
    checks["scd_q04"] = compare(scd, con.execute(oracles["q04_scd2_build"]).df())
    checks["pit_q05"] = compare(spark_out(f"{out}/event_fact"),
                                con.execute(oracles["q05_scd_point_in_time_join"]).df())
    con.execute("SET search_path = 'main'")
    checks["scd_user_invariants"] = scd_invariants(scd, "user_id", ["event_type"])
    checks["scd_planted"] = check_planted_scd(scd, truth["scd_history"], clean=True)
    checks["scd_customer_invariants"] = scd_invariants(
        spark_out(f"{out}/scd_customer"), "o_custkey", ["o_orderpriority"])
    # the fact: q15 measures on rows whose part is known, planted counts
    fact = spark_out(f"{out}/fact")
    q15 = con.execute(oracles["q15_full_measures"]).df()
    known = fact[fact["p_brand"] != "unknown"][list(q15.columns)]
    checks["fact_q15"] = compare(known.reset_index(drop=True), q15)
    problems = []
    if len(fact) != truth["valid_sales_rows"]:
        problems.append(f"fact rows {len(fact)} want {truth['valid_sales_rows']} valid sales")
    n_unknown = int((fact["p_brand"] == "unknown").sum())
    if n_unknown != truth["missing_part_rows"]:
        problems.append(f"unknown-member rows {n_unknown} want {truth['missing_part_rows']}")
    if fact["nation_name"].isna().any() or (fact["date_key"] < 0).any():
        problems.append("fact rows without a nation name or date key")
    checks["fact_planted"] = problems
    for q in ("q10_dashboard_revenue", "q11_dashboard_topn",
              "q19_rollup_dashboard", "q60_pivot_dashboard"):
        checks[q] = compare(spark_out(f"{out}/check/{q}"), con.execute(oracles[q]).df())
    return checks


def check_warehouse_refresh(inputs, work, truth, oracles, applied):
    con = duckdb.connect()
    files = [os.path.join(inputs, "events.parquet")] + [
        os.path.join(inputs, "deltas", f"d{i:04d}", "events.parquet")
        for i in range(1, applied + 1)]
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({files!r})")
    checks = {}
    scd = spark_out(f"{work}/check/scd")
    checks["refresh_scd_equals_rebuild"] = compare(
        scd, con.execute(oracles["q04_scd2_build"]).df())
    checks["refresh_scd_invariants"] = scd_invariants(scd, "user_id", ["event_type"])
    checks["refresh_scd_planted"] = (check_planted_scd(scd, truth["scd_history"], clean=False)
                             + (check_planted_scd(scd, truth["scd_deltas"], clean=False)
                                if applied >= 3 else ["fewer than 3 deltas applied"]))
    checks["refresh_cdc_equals_recompute"] = compare(spark_out(f"{work}/check/cdc"), con.execute(
        "SELECT user_id, value, ts, event_id, op FROM (SELECT *, "
        "CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op, row_number() OVER "
        "(PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) "
        "WHERE rn = 1").df())
    checks["refresh_rollup_equals_recompute"] = compare(spark_out(f"{work}/check/rollup"), con.execute(
        "SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n_rows, "
        "CAST(sum(CAST(value AS DECIMAL(14,2))) AS DECIMAL(14,2)) AS total_value "
        "FROM events GROUP BY ALL").df())
    return checks


def check_curation(inputs, work, truth):
    out = os.path.join(work, "curation")
    filtered = set(spark_out(f"{out}/filtered")["doc_id"])
    deduped = spark_out(f"{out}/deduped")["doc_id"]
    kept = set(deduped)
    checks = {}
    fam = []
    collapsed = 0
    for f in truth["doc_families"]:
        n = len(kept & set(f["ids"]))
        collapsed += len(set(f["ids"]) & filtered) - 1
        if n != 1:
            fam.append(f"{f['kind']} family {f['ids'][0]}: {n} kept")
    checks["doc_families_one_kept"] = fam
    problems = []
    if deduped.duplicated().any():
        problems.append("duplicate doc ids after dedup")
    if len(kept) != len(filtered) - collapsed:
        problems.append(f"dedup kept {len(kept)} want {len(filtered) - collapsed}")
    sample = set(spark_out(f"{out}/sample")["doc_id"])
    classified = set(spark_out(f"{out}/classified")["doc_id"])
    if not sample or not sample <= classified <= kept:
        problems.append("sample is empty or not drawn from the classified, deduped docs")
    checks["dedup_counts"] = problems
    clusters = spark_out(f"{out}/vec_clusters")
    vec = []
    for f in truth["vec_families"]:
        rows = clusters[clusters["vec_id"].isin(f)]
        if len(rows) != len(f) or rows["cluster_id"].nunique() != 1 \
                or int(rows["is_kept"].sum()) != 1:
            vec.append(f"vector family {f[0]}: {len(rows)} clustered, "
                       f"{int(rows['is_kept'].sum())} kept")
    checks["vec_families_one_kept"] = vec
    pr = spark_out(f"{out}/pagerank")
    if len(pr) != len(filtered) or (pr["pr_micro"] <= 0).any():
        checks["pagerank_covers_docs"] = ["pagerank rows do not cover the filtered docs"]
    else:
        checks["pagerank_covers_docs"] = []
    return checks


def check_increments(work, truth, applied):
    """Each applied crawl batch keeps its fresh documents and its
    one-word-longer copies, and drops its exact copies of corpus docs."""
    out = []
    for d, inc in enumerate(truth["increments"][:applied], start=1):
        kept = set(spark_out(f"{work}/curation/increments/d{d}")["keep_id"])
        want = set(inc["fresh"]) | set(inc["near_copies"])
        if kept != want:
            out.append(f"batch {d}: kept {len(kept)} docs, want {len(want)}; "
                       f"exact copies kept {sorted(kept & set(inc['exact_copies']))}")
    if applied < 1:
        out.append("no crawl batch applied")
    return out


def run(workload, inputs, work, truth, artifact):
    """Every check of a workload's outputs: name -> list of problems."""
    info = artifact["info"]
    if workload == "warehouse":
        checks = check_warehouse_build(inputs, work, truth, info["oracles"])
        checks.update(check_warehouse_refresh(inputs, work, truth, info["oracles"],
                                              info["deltas_applied"]))
        return checks
    checks = check_curation(inputs, work, truth)
    checks["increments_dedup"] = check_increments(work, truth, info["increments_applied"])
    return checks
