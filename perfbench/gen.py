"""Seeded input generator for the graft benchmark.

Writes each workload's inputs as parquet tables in the schema that
`graft.sources.Tables` reads (the TPC-H-like star tables, `events`,
`documents`, `embeddings`), plus `truth.json` holding the answers to the
structures it plants. The same seed always gives byte-identical tables.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import datetime as dt
import json
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes, per workload, and why each is that size. Recorded in
# BENCHMARK.json's workload notes as well.
SIZES = {
    # The fact is a twelfth of the sf0.1 lineitem table: small enough that
    # a warm-up pass and two measured ones fit one run's time budget, so
    # the nightly build is dominated by its ~60 jobs' fixed cost, with
    # scan, join and shuffle work a visible share. The daily deltas are
    # small, so a refresh is a handful of tiny jobs. A run applies one
    # delta in its warm-up pass and two per measured pass; 24 last 11.
    "warehouse": dict(lineitem=50_000, orders=12_500, customers=15_000,
                      parts=20_000, suppliers=1_000, events=10_000, users=1_500,
                      event_days=30, deltas=24, delta_events=300),
    # A few thousand documents: each stage's tens of small jobs and the
    # driver-side tiers dominate the pass. Daily crawl batches are tiny,
    # and consumed like the warehouse deltas.
    "curation": dict(docs=2_000, near_families=12, exact_families=8,
                     vectors=2_000, vec_dim=32, vec_labels=10, vec_families=10,
                     increments=24, increment_docs=40, increment_copies=4),
}

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STOP_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
LANGS = ["en", "en", "en", "de", "fr", "es"]

EPOCH_2024 = dt.datetime(2024, 1, 1)
ORDER_START = dt.datetime(1995, 1, 1)
# two years of orders (1995-1996): the month-partitioned sink writes one
# file per month, and over the reference tables' 79 months it spent about
# twice as long on its files as over 24
ORDER_DAYS = 731


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _ts(base, seconds):
    """Microsecond timestamps `base + seconds` as a pyarrow array."""
    us = np.asarray(np.round(np.asarray(seconds) * 1e6), dtype="int64")
    base_us = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.array(us + base_us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


# ---------------------------------------------------------------- warehouse
def _star_tables(rng, out_dir, s):
    """Dimension tables plus orders and lineitem. Plants invalid sales rows
    and fact part keys missing from the part dimension."""
    nc, np_, ns, no, nl = (s["customers"], s["parts"], s["suppliers"],
                           s["orders"], s["lineitem"])
    rows = {}
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": REGIONS}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": NATIONS,
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)}))
    ckeys = np.arange(1, nc + 1, dtype="int64")
    _write(out_dir, "customer", pa.table({
        "c_custkey": ckeys,
        "c_name": [f"Customer#{k:09d}" for k in ckeys],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
        "c_acctbal": _money(rng, -999, 9999, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]}))
    skeys = np.arange(1, ns + 1, dtype="int64")
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": skeys,
        "s_name": [f"Supplier#{k:09d}" for k in skeys],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
        "s_acctbal": _money(rng, -999, 9999, ns)}))
    pkeys = np.arange(1, np_ + 1, dtype="int64")
    _write(out_dir, "part", pa.table({
        "p_partkey": pkeys,
        "p_name": [f"part {k}" for k in pkeys],
        "p_brand": [f"Brand#{a}{b}" for a, b in
                    zip(rng.integers(1, 6, np_), rng.integers(1, 6, np_))],
        "p_type": [f"TYPE {t}" for t in rng.integers(0, 30, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_).astype("int32")),
        "p_retailprice": _money(rng, 900, 2000, np_)}))

    okeys = np.arange(1, no + 1, dtype="int64")
    ocust = rng.integers(1, nc + 1, no)
    oday = rng.integers(0, ORDER_DAYS, no)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": okeys,
        "o_custkey": ocust.astype("int64"),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 400000, no),
        "o_orderdate": _ts(ORDER_START, oday * 86400),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]}))

    lorder = np.sort(rng.integers(1, no + 1, nl)).astype("int64")
    # line numbers 1.. within each order
    starts = np.r_[0, np.flatnonzero(np.diff(lorder)) + 1]
    lnum = np.arange(nl) - np.repeat(starts, np.diff(np.r_[starts, nl])) + 1
    lpart = rng.integers(1, np_ + 1, nl).astype("int64")
    qty = rng.integers(1, 51, nl).astype("float64")
    price = _money(rng, 900, 100000, nl)
    # planted: ~0.5 % invalid sales rows (zero/negative quantity or a
    # missing/zero price) and ~0.5 % fact part keys absent from `part`
    invalid = rng.random(nl) < 0.005
    kind = rng.integers(0, 3, nl)
    qty = np.where(invalid & (kind == 0), 0.0, qty)
    qty = np.where(invalid & (kind == 1), -qty, qty)
    price_mask = invalid & (kind == 2)
    missing = (~invalid) & (rng.random(nl) < 0.005)
    lpart = np.where(missing, np_ + 1 + rng.integers(0, 1000, nl), lpart)
    lday = oday[lorder - 1] + rng.integers(1, 120, nl)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": lorder,
        "l_partkey": lpart,
        "l_suppkey": rng.integers(1, ns + 1, nl).astype("int64"),
        "l_linenumber": pa.array(lnum.astype("int32")),
        "l_quantity": qty,
        "l_extendedprice": pa.array(price, mask=price_mask),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(ORDER_START, lday * 86400)}))
    rows.update(region=5, nation=25, customer=nc, supplier=ns, part=np_,
                orders=no, lineitem=nl)
    truth = dict(
        valid_sales_rows=int(nl - invalid.sum()),
        invalid_sales_rows=int(invalid.sum()),
        missing_part_rows=int(missing.sum()))
    return rows, truth


def _random_events(rng, n, users, day0, days, id0):
    """`n` events over `days` days starting at day `day0` of 2024."""
    secs = np.sort(rng.uniform(day0 * 86400, (day0 + days) * 86400, n))
    return dict(
        event_id=np.arange(id0, id0 + n, dtype="int64"),
        ts=secs,
        user_id=rng.integers(1, users + 1, n).astype("int64"),
        event_type=[EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        value=_money(rng, 0, 200, n),
        props=[f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])


def _events_table(cols):
    return pa.table({
        "event_id": cols["event_id"], "ts": _ts(EPOCH_2024, cols["ts"]),
        "user_id": cols["user_id"], "event_type": cols["event_type"],
        "value": cols["value"], "props": cols["props"]})


def _concat(a, b):
    return {k: np.concatenate([np.asarray(a[k], dtype=object if
                                          isinstance(a[k], list) else None),
                               np.asarray(b[k], dtype=object if
                                          isinstance(b[k], list) else None)])
            for k in a}


def _planted_flips(first_user, day0, id0):
    """SCD flip-flop users with known SCD2 answers.

    user u+0: signup (day0) -> click (day0+1) -> signup (day0+2): A->B->A,
      one `signup` period anchored at its first sighting, then `click`.
    user u+1: view and click on day0 (a same-day flip), purchase on day0+1:
      cleaning rewrites day0 to purchase, so one `purchase` period.
    """
    u = first_user
    rows = [(u, day0, "signup"), (u, day0 + 1, "click"), (u, day0 + 2, "signup"),
            (u + 1, day0, "view"), (u + 1, day0, "click"),
            (u + 1, day0 + 1, "purchase")]
    cols = dict(
        event_id=np.arange(id0, id0 + len(rows), dtype="int64"),
        ts=np.array([d * 86400 + 3600 * (i + 1) for i, (_, d, _) in
                     enumerate(rows)], dtype="float64"),
        user_id=np.array([r[0] for r in rows], dtype="int64"),
        event_type=[r[2] for r in rows],
        value=np.full(len(rows), 10.0),
        props=['{"k": 0}'] * len(rows))
    d = lambda k: (EPOCH_2024 + dt.timedelta(days=k)).strftime("%Y-%m-%d")
    expect = {
        "aba_user": u, "same_day_user": u + 1,
        # (event_type, start_date, end_date or None) per user, SCD order
        "aba": [["signup", d(day0), d(day0 + 1)], ["click", d(day0 + 1), None]],
        "same_day_clean": [["purchase", d(day0), None]],
        "same_day_raw": [["click", d(day0), d(day0)], ["view", d(day0), d(day0 + 1)],
                         ["purchase", d(day0 + 1), None]],
    }
    return cols, expect


def gen_warehouse(rng, out_dir):
    s = SIZES["warehouse"]
    rows, truth = _star_tables(rng, out_dir, s)
    ev = _random_events(rng, s["events"], s["users"], 0, s["event_days"], 0)
    flips, truth["scd_history"] = _planted_flips(s["users"] + 1, 3, s["events"])
    _write(out_dir, "events", _events_table(_concat(ev, flips)))
    rows["events"] = s["events"] + len(flips["event_id"])
    # daily deltas after the history; planted flips span deltas 1..3
    day1 = s["event_days"]
    flips, truth["scd_deltas"] = _planted_flips(s["users"] + 3, day1, 10**9)
    flip_day = (flips["ts"] // 86400).astype(int)
    next_id = 10**8
    for i in range(1, s["deltas"] + 1):
        day = day1 + i - 1
        ev = _random_events(rng, s["delta_events"], s["users"], day, 1, next_id)
        next_id += s["delta_events"]
        m = flip_day == day
        ev = _concat(ev, {k: (np.asarray(v)[m] if not isinstance(v, list)
                              else [x for x, keep in zip(v, m) if keep])
                          for k, v in flips.items()})
        ddir = os.path.join(out_dir, "deltas", f"d{i:04d}")
        os.makedirs(ddir)
        _write(ddir, "events", _events_table(ev))
    rows.update(deltas=s["deltas"], delta_events=s["delta_events"])
    return rows, truth


# ----------------------------------------------------------------- curation
def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, k)))
    return sorted(words)


def gen_curation(rng, out_dir):
    s = SIZES["curation"]
    vocab = _vocab(rng, 3000)
    n = s["docs"]

    def sentence(k):
        ws = [vocab[i] for i in rng.integers(0, len(vocab), k)]
        for j in rng.integers(0, k, max(2, k // 8)):
            ws[j] = STOP_WORDS[int(rng.integers(0, len(STOP_WORDS)))]
        return " ".join(ws)

    texts, langs, sources = [], [], []
    for i in range(n):
        r = rng.random()
        if r < 0.08:       # too short for the Gopher word floor
            t = sentence(int(rng.integers(2, 5)))
        elif r < 0.12:     # symbol-heavy boilerplate
            t = " ".join(["# ..."] * 20)
        else:
            t = sentence(int(rng.integers(40, 90)))
        # PII for the scrub, on long docs only: scrubbed to placeholders,
        # the same tail would make short docs genuine near-duplicates
        if r >= 0.12 and rng.random() < 0.05:
            t += f" contact jdoe{i}@example.com or 555-{i % 900 + 100}-{i % 9000 + 1000}"
        texts.append(t)
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
        sources.append(f"src{int(rng.integers(0, 20))}")
    ids = list(range(n))

    # planted duplicate families, ids from 1_000_000 up: near families are
    # variants of one long base text that differ only in their last word;
    # exact families repeat one text verbatim
    families = []
    next_id = 1_000_000
    for kind, count in (("near", s["near_families"]), ("exact", s["exact_families"])):
        for _ in range(count):
            base = sentence(80)
            size = int(rng.integers(3, 6))
            fam = []
            for j in range(size):
                t = base if kind == "exact" else f"{base} {vocab[j]}"
                ids.append(next_id); texts.append(t); langs.append("en")
                sources.append(f"src{int(rng.integers(0, 20))}")
                fam.append(next_id)
                next_id += 1
            families.append({"kind": kind, "ids": fam})
    order = rng.permutation(len(ids))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.asarray(ids, dtype="int64")[order]),
        "text": [texts[i] for i in order],
        "lang": [langs[i] for i in order],
        "source": [sources[i] for i in order],
        "n_chars": pa.array(np.array([len(texts[i]) for i in order], dtype="int64"))}))

    # embeddings: random unit-ish vectors plus planted near-identical
    # families (cosine > 0.99 within a family, one label per family)
    nv, dim = s["vectors"], s["vec_dim"]
    vecs = rng.standard_normal((nv, dim)).astype("float32")
    labels = rng.integers(0, s["vec_labels"], nv).astype("int32")
    vids = np.arange(nv, dtype="int64")
    vec_families = []
    extra_v, extra_l, extra_id = [], [], []
    vid = 1_000_000
    for _ in range(s["vec_families"]):
        base = rng.standard_normal(dim).astype("float32")
        lab = int(rng.integers(0, s["vec_labels"]))
        fam = []
        for _ in range(int(rng.integers(2, 5))):
            extra_v.append(base + 0.01 * rng.standard_normal(dim).astype("float32"))
            extra_l.append(lab); extra_id.append(vid); fam.append(vid); vid += 1
        vec_families.append(fam)
    vecs = np.vstack([vecs, np.array(extra_v, dtype="float32")])
    labels = np.concatenate([labels, np.array(extra_l, dtype="int32")])
    vids = np.concatenate([vids, np.array(extra_id, dtype="int64")])
    order = rng.permutation(len(vids))
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(vids[order]),
        "embedding": pa.array([list(map(float, vecs[i])) for i in order],
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels[order])}))
    # daily crawl batches: fresh long docs plus planted copies of long
    # corpus docs, exact ones (which the snapshot dedup drops) and
    # one-word-longer ones (which it keeps)
    long_docs = [i for i in range(n) if len(texts[i].split()) >= 40]
    near_texts = set()
    increments = []
    for d in range(1, s["increments"] + 1):
        base = 2_000_000 + 1000 * d
        inc_ids, inc_texts = [], []
        for j in range(s["increment_docs"]):
            inc_ids.append(base + j)
            inc_texts.append(sentence(int(rng.integers(40, 90))))
        exact, near = [], []
        for j in range(s["increment_copies"]):
            src = long_docs[int(rng.integers(0, len(long_docs)))]
            inc_ids.append(base + 500 + j)
            if j % 2 == 0:
                inc_texts.append(texts[src])
                exact.append(base + 500 + j)
            else:
                # a near copy planted again in a later batch (the same
                # doc, or one of the identical boilerplate docs) would be
                # an exact duplicate of one the snapshot already holds
                text = f"{texts[src]} {vocab[j]}"
                while text in near_texts:
                    src = long_docs[int(rng.integers(0, len(long_docs)))]
                    text = f"{texts[src]} {vocab[j]}"
                near_texts.add(text)
                inc_texts.append(text)
                near.append(base + 500 + j)
        increments.append({"fresh": inc_ids[:s["increment_docs"]],
                           "exact_copies": exact, "near_copies": near})
        ddir = os.path.join(out_dir, "increments", f"d{d:04d}")
        os.makedirs(ddir)
        _write(ddir, "documents", pa.table({
            "doc_id": pa.array(np.asarray(inc_ids, dtype="int64")),
            "text": inc_texts,
            "lang": ["en"] * len(inc_ids),
            "source": ["crawl"] * len(inc_ids),
            "n_chars": pa.array(np.array([len(t) for t in inc_texts], dtype="int64"))}))
    rows = {"documents": len(ids), "embeddings": len(vids),
            "increments": s["increments"],
            "increment_docs": s["increment_docs"] + s["increment_copies"]}
    return rows, {"doc_families": families, "vec_families": vec_families,
                  "increments": increments}


GENERATORS = {"warehouse": gen_warehouse, "curation": gen_curation}


def generate(workload, seed, out_dir):
    """Write `workload`'s inputs for `seed` under `out_dir`; returns the
    per-table row counts and writes `truth.json` beside the tables."""
    os.makedirs(out_dir, exist_ok=True)
    # one stream per (workload, seed): adding a workload never shifts
    # another workload's inputs
    ss = np.random.SeedSequence([seed, zlib.crc32(workload.encode())])
    rows, truth = GENERATORS[workload](np.random.default_rng(ss), out_dir)
    truth["rows"] = rows
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return rows


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(__doc__)
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
