"""Deterministic synthetic fixture tables for the benchmark.

Writes the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`), one `<table>.parquet`
file each, with the same column names and physical types as the fixtures the
registry was written against (TPC-H-ish star schema, an event stream, and the
LLM-pipeline `documents`/`embeddings` tables). Row counts follow the fixture
scale rule: `rows = base * sf`, with `nation`/`region` fixed.

The generator seed is fixed (`DATA_SEED`): the benchmark's `--seed` permutes
op order or picks bulk-load slices, it never changes these tables, so result
fingerprints can be pinned.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
COLORS = "red small hot old large blue cold new".split()
NOUNS = "plate widget ring rod gizmo gear bolt anvil".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

US_PER_DAY = 86_400_000_000


def _days(lo, hi):
    """Inclusive [lo, hi] ISO dates as microseconds since the epoch."""
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return a, b


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"], s)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})
    names = [f"{rng.choice(COLORS)} {rng.choice(NOUNS)}" for _ in range(n_part)]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(names, s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PTYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2), f64)})
    d0, d1 = _days("1995-01-01", "2001-08-01")
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(rng.integers(d0, d1 + 1, n_ord) * US_PER_DAY, ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    d0, d1 = _days("1995-01-02", "2001-11-04")
    # every 50th line has quantity 0, so the bulk-load reject filter
    # `l_quantity > 0` removes rows (set by position: the random streams of
    # the other columns and tables stay as they were)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    qty[np.arange(n_li) % 50 == 7] = 0.0
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
        "l_shipdate": pa.array(rng.integers(d0, d1 + 1, n_li) * US_PER_DAY, ts)})
    # events: one month, ids dense, timestamps rising with id plus jitter
    # (non-monotonic per user), exponential values with mean 50
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    step = 30 * US_PER_DAY // n_ev
    ev_ts = t0 + np.arange(n_ev) * step + rng.integers(0, step, n_ev)
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array(rng.integers(0, max(1, n_ev * 3 // 200), n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    # documents: word salad; 5% are near-duplicates of an earlier document
    # (its text plus a trailing "dup" token), so shingle-Jaccard pairs exist
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    # embeddings: 64-dim unit vectors around ten label centres
    labels = rng.integers(0, 10, n_emb)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] * 0.35 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
