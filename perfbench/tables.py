"""Seeded generator for the query_suite's input tables.

Writes the ten tables the queries read (``region`` ... ``embeddings``),
one parquet file each, with the column names, types and value ranges of
the program's TPC-H-ish test corpus. The same (seed, scale) gives the
same files. ``scale`` follows the corpus's scale factor: lineitem has
6,000,000 * scale rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("query row stream the batch sort value hash filter big data dup "
         "part column order scan a slow agg key window table merge vector "
         "join spark line small fast group customer").split()
COLORS = "large hot blue red green pale dark tiny".split()
NOUNS = "ring bolt nut gear pipe plate valve spring".split()
TYPES = "LARGE ECONOMY SMALL STANDARD MEDIUM PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
STATUSES = "O F P".split()
PRIORITIES = "1-URGENT 2-HIGH 3-MEDIUM 4-NOT SPECIFIED 5-LOW".split()
EVENT_TYPES = "signup click error view purchase".split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
DIM = 64


def _days(rng, n, first, last):
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype(
        "datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def _documents(rng, n):
    # the same duplicate structure for every seed: every 100th document
    # is an exact copy of the original 25 places before it, every other
    # 50th a copy with one word replaced, so duplicate groups are pairs
    texts = []
    for i in range(n):
        if i > 0 and i % 100 == 0:
            texts.append(texts[i - 25])
        elif i > 0 and i % 50 == 0:
            words = texts[i - 25].split(" ")
            words[int(rng.integers(0, len(words)))] = WORDS[
                int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(10, 91))))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    # groups of four near-copies of one direction, the same structure for
    # every seed: the directions are the rows of a random rotation and
    # their negatives, orthogonal or opposite, so no pair across groups
    # is close (up to 128 groups, 512 vectors)
    q, _ = np.linalg.qr(rng.normal(0, 1, (DIM, DIM)))
    g = np.arange(n) // 4
    base = q[g % DIM] * np.where(g // DIM % 2 == 0, 1.0, -1.0)[:, None]
    v = base + rng.normal(0, 0.05, (n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    labels = np.arange(n) % 10
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def tables(seed, scale):
    """Build every table in memory: name -> pyarrow.Table."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = max(20, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_users = max(100, int(15_000 * scale))
    n_docs = int(50_000 * scale)
    n_vec = max(500, int(20_000 * scale))
    pick = lambda xs, n: [xs[i] for i in rng.integers(0, len(xs), n)]
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pick(SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in
                       zip(pick(COLORS, n_part), pick(NOUNS, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": pick(TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(
                900 + (np.arange(n_part) % 1000) / 10, 1)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": pick(STATUSES, n_ord),
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pick(PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900, 105000),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pick("ANR", n_line),
            "l_linestatus": pick("OF", n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")}),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.sort(np.datetime64("2024-01-01", "us") + rng.integers(
                0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": pick(EVENT_TYPES, n_ev),
            "value": _money(rng, n_ev, 0, 560),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]}),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vec),
    }
    return out


def write(out_dir, seed, scale):
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
