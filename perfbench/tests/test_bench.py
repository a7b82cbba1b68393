"""Tests of the benchmark's own pieces.

    python3 -m unittest discover -s perfbench/tests -v

The corrupted-output tests need one kept run of each workload; they make
it with `run.py --keep` (a JVM run of about a minute each) unless
`.bench_run/` already holds one.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def digest(d):
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                out[os.path.relpath(f, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in sorted(gen.GENERATORS):
            with tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                gen.generate(w, 8, c)
                da, db, dc = digest(a), digest(b), digest(c)
                self.assertEqual(da, db, w)
                self.assertEqual(set(da), set(dc), w)
                self.assertNotEqual(da, dc, w)


    def test_near_copies_are_new_to_the_snapshot(self):
        # seeds 918 and 930 once planted one near copy text in two crawl
        # batches (930 through two identical boilerplate docs); the second
        # is an exact duplicate of a doc the snapshot then holds
        import pyarrow.parquet as pq
        for seed in (918, 930):
            with tempfile.TemporaryDirectory() as t:
                gen.generate("curation", seed, t)
                truth = json.load(open(os.path.join(t, "truth.json")))
                seen = set()
                for d, inc in enumerate(truth["increments"], start=1):
                    batch = pq.read_table(os.path.join(
                        t, "increments", f"d{d:04d}", "documents.parquet")).to_pydict()
                    text = dict(zip(batch["doc_id"], batch["text"]))
                    for doc in inc["near_copies"]:
                        self.assertNotIn(text[doc], seen, f"seed {seed} batch {d} doc {doc}")
                    seen.update(text.values())


class TailTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertEqual(metrics.tail(list(range(10))), (None, None, 10))

    def test_ten_samples_beyond(self):
        v, pct, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((v, pct, n), (90, 90.0, 100))
        v, pct, n = metrics.tail(list(reversed(range(1, 21))))
        self.assertEqual((v, pct, n), (10, 50.0, 20))
        self.assertEqual(sum(x > v for x in range(1, 21)), 10)


class EndToEndTest(unittest.TestCase):
    def test_a_failed_run_without_samples_reports_none(self):
        a = {"setup": {"session_s": 1.0, "setups_s": [3.0, 1.0, 2.0], "warmup_s": [4.0]},
             "build_ms": [], "refresh_ms": [5.0, 7.0], "read_ms": [], "peak_heap_mb": 9.0}
        m, detail = run.end_to_end(a)
        self.assertEqual(m["setup_s"], (7.0, "s"))
        self.assertEqual(m["refresh_p50_ms"], (6.0, "ms"))
        self.assertIsNone(m["build_p50_ms"][0])
        self.assertIsNone(m["read_p50_ms"][0])
        self.assertEqual(detail["build_n"], 0)


def span(id_, name, parent, start, end, tasks=(), it=1, **counts):
    s = {"id": id_, "name": name, "parent": parent, "iter": it,
         "start_ns": start * 1_000_000, "end_ns": end * 1_000_000,
         "start_ms": start, "end_ms": end, "task_intervals": [list(t) for t in tasks],
         "jobs": 0, "tasks": len(tasks), "task_ms": sum(b - a for a, b in tasks),
         "shuffle_bytes": 0, "spill_bytes": 0}
    s.update(counts)
    return s


class SpanArithmeticTest(unittest.TestCase):
    def test_self_time_and_driver_time(self):
        # parent [0, 100] with a child [20, 50]; the parent's tasks cover
        # [0, 15] and [60, 70], the child's [25, 45]
        spans = [span(0, "p", -1, 0, 100, tasks=[(0, 10), (5, 15), (60, 70)]),
                 span(1, "c", 0, 20, 50, tasks=[(25, 45)])]
        d = metrics.span_layers(spans)
        self.assertAlmostEqual(d[0]["wall_ms"], 70.0)
        # self region [0,20] + [50,100] minus [0,15] and [60,70]
        self.assertAlmostEqual(d[0]["driver_ms"], 5 + 10 + 30)
        self.assertAlmostEqual(d[1]["wall_ms"], 30.0)
        self.assertAlmostEqual(d[1]["driver_ms"], 10.0)

    def test_tasks_outside_the_span_do_not_count(self):
        d = metrics.span_layers([span(0, "s", -1, 10, 20, tasks=[(0, 12), (18, 30)])])
        self.assertAlmostEqual(d[0]["driver_ms"], 6.0)

    def test_calls_sum_per_iteration_then_median(self):
        spans = [span(0, "q", -1, 0, 10, it=1, jobs=2), span(1, "q", -1, 10, 30, it=1, jobs=3),
                 span(2, "q", -1, 0, 50, it=2, jobs=5), span(3, "q", -1, 0, 40, it=3, jobs=5)]
        m = metrics.layer_metrics(spans)["q"]
        self.assertEqual(m["jobs"], 5)
        self.assertAlmostEqual(m["wall_ms"], 40.0)


class CompareTest(unittest.TestCase):
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5], "s": ["a", "b", "c"]})

    def test_equal_in_any_row_and_column_order(self):
        got = self.want.iloc[::-1][["s", "v", "k"]].reset_index(drop=True)
        self.assertEqual(checks.compare(got, self.want), [])

    def test_value_row_and_dtype_drift_fail(self):
        changed = self.want.copy()
        changed.loc[1, "v"] = 1.6
        self.assertTrue(checks.compare(changed, self.want))
        self.assertTrue(checks.compare(self.want.iloc[:2], self.want))
        self.assertTrue(checks.compare(self.want.astype({"k": "float64"}), self.want))


class ScdInvariantTest(unittest.TestCase):
    def scd(self, rows):
        return pd.DataFrame(rows, columns=["user_id", "event_type", "start_date",
                                           "end_date", "is_current"])

    def test_valid_chain_passes(self):
        good = self.scd([(1, "a", "2024-01-01", "2024-01-03", False),
                         (1, "b", "2024-01-03", None, True), (2, "a", "2024-01-02", None, True)])
        self.assertEqual(checks.scd_invariants(good, "user_id", ["event_type"]), [])

    def test_two_current_rows_and_overlap_fail(self):
        two = self.scd([(1, "a", "2024-01-01", None, True), (1, "b", "2024-01-03", None, True)])
        self.assertTrue(checks.scd_invariants(two, "user_id", ["event_type"]))
        overlap = self.scd([(1, "a", "2024-01-01", "2024-01-05", False),
                            (1, "b", "2024-01-03", None, True)])
        self.assertTrue(checks.scd_invariants(overlap, "user_id", ["event_type"]))


def rewrite(path, mutate, truth):
    """Replace a Spark output directory with one parquet file holding
    `mutate(frame, truth)`."""
    df = mutate(checks.spark_out(path), truth)
    shutil.rmtree(path)
    os.makedirs(path)
    con = duckdb.connect()
    con.register("df", df)
    con.execute(f"COPY (SELECT * FROM df) TO '{path}/part-0.parquet' (FORMAT parquet)")


def first_row(col, value):
    def f(df, truth):
        df = df.copy()
        df.loc[0, col] = value if not callable(value) else value(df.loc[0, col])
        return df
    return f


def where(cond, col, value):
    def f(df, truth):
        df = df.copy()
        df.loc[cond(df, truth), col] = value
        return df
    return f


def drop_first(df, truth):
    return df.iloc[1:].reset_index(drop=True)


def every_row(col, value):
    return where(lambda d, truth: d.index >= 0, col, value)


class CorruptedOutputTest(unittest.TestCase):
    """Each output check passes on the real outputs of a kept run and
    fails once its output is corrupted."""

    def run_dir(self, workload):
        d = os.path.join(ROOT, ".bench_run", f"{workload}-seed1-trace0")
        if not os.path.exists(os.path.join(d, "artifact.json")):
            subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                            workload, "--seed", "1", "--seconds", "1", "--trace", "0",
                            "--keep"], cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
        return d

    def check_corruptions(self, workload, corruptions):
        d = self.run_dir(workload)
        inputs, work = os.path.join(d, "inputs"), os.path.join(d, "work")
        artifact = json.load(open(os.path.join(d, "artifact.json")))
        truth = json.load(open(os.path.join(inputs, "truth.json")))
        clean = checks.run(workload, inputs, work, truth, artifact)
        self.assertEqual({k: v for k, v in clean.items() if v}, {})
        self.assertEqual(set(clean), set(corruptions))
        for name, (rel, mutate) in corruptions.items():
            with self.subTest(check=name), tempfile.TemporaryDirectory() as t:
                bad = os.path.join(t, "work")
                shutil.copytree(work, bad)
                rewrite(os.path.join(bad, rel), mutate, truth)
                self.assertTrue(checks.run(workload, inputs, bad, truth, artifact)[name],
                                f"{name} passed on corrupted {rel}")

    def test_warehouse(self):
        aba = where(lambda d, truth: d.user_id == truth["scd_history"]["aba_user"],
                    "event_type", "view")
        self.check_corruptions("warehouse", {
            "clean_q06": ("build/clean_events", first_row("event_type", "bogus")),
            "scd_q04": ("build/scd_user", drop_first),
            "pit_q05": ("build/event_fact", first_row("period_type", "bogus")),
            "scd_user_invariants": ("build/scd_user", every_row("is_current", True)),
            "scd_planted": ("build/scd_user", aba),
            "scd_customer_invariants": ("build/scd_customer", every_row("is_current", True)),
            "fact_q15": ("build/fact", first_row("revenue_usd", lambda v: v + 1)),
            "fact_planted": ("build/fact", drop_first),
            "q10_dashboard_revenue": ("build/check/q10_dashboard_revenue",
                                      first_row("revenue", lambda v: v + 1)),
            "q11_dashboard_topn": ("build/check/q11_dashboard_topn", drop_first),
            "q19_rollup_dashboard": ("build/check/q19_rollup_dashboard",
                                     first_row("n_orders", lambda v: v + 1)),
            "q60_pivot_dashboard": ("build/check/q60_pivot_dashboard",
                                    first_row("qty_f", lambda v: v + 1)),
            "refresh_scd_equals_rebuild": ("check/scd", drop_first),
            "refresh_scd_invariants": ("check/scd", every_row("is_current", True)),
            "refresh_scd_planted": ("check/scd", aba),
            "refresh_cdc_equals_recompute": ("check/cdc", first_row("value", lambda v: v + 1)),
            "refresh_rollup_equals_recompute": ("check/rollup",
                                                first_row("n_rows", lambda v: v + 1)),
        })

    def test_curation(self):
        def family(d, truth):
            return d[~d.doc_id.isin(truth["doc_families"][0]["ids"])]
        vec = where(lambda d, truth: d.vec_id.isin(truth["vec_families"][0]), "is_kept", True)
        self.check_corruptions("curation", {
            "doc_families_one_kept": ("curation/deduped", family),
            "dedup_counts": ("curation/deduped", lambda d, truth: pd.concat([d, d.iloc[:1]])),
            "vec_families_one_kept": ("curation/vec_clusters", vec),
            "pagerank_covers_docs": ("curation/pagerank", drop_first),
            "increments_dedup": ("curation/increments/d1", drop_first),
        })


if __name__ == "__main__":
    unittest.main()
