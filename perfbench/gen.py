"""Seeded input generator for the benchmark.

Writes the ten tables `graft.Tables` reads (same names, column names and
types as the test tables described in FIXTURES.md), and the
dwd_stream replay source, into one directory. Everything is derived from the seed: key assignment, time
shift, text, vectors and the row order in each file, so the same seed
gives byte-identical inputs and a different seed gives different inputs
of the same size and shape.

The shape mirrors the sf0.01 test tables: TPC-H-like star schema, a
30-day `events` stream, a template corpus of 10-100 words drawn from a
30-word vocabulary with planted "+ dup" near-duplicates, and clustered
unit-length 64-d embeddings.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table. Small on purpose: at this size every job is
# dominated by per-query planning and scheduling cost, which is the cost
# the benchmark is built to expose (see BENCHMARK.json).
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DUP_SHARE = 0.05
EMB_DIM = 64
EMB_LABELS = 10


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    d = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return base + d.astype("timedelta64[us]")


def _write(out, name, cols, rng):
    table = pa.table(cols)
    order = rng.permutation(table.num_rows)
    pq.write_table(table.take(pa.array(order)), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, seed):
    """Write every table for `seed` (an int, or a list of ints naming a
    further input set of that seed) into directory `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = SIZES
    i32, i64 = pa.int32(), pa.int64()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS}, rng)
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}, rng)
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n["customer"]), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist()}, rng)
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])}, rng)
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n["part"]), i64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, len(ADJ), n["part"]),
            rng.integers(0, len(NOUN), n["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 2)},
        rng)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n["orders"]), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n["orders"]).tolist(),
        "o_totalprice": _money(rng, 1000, 450000, n["orders"]),
        "o_orderdate": _days(rng, n["orders"], "1995-01-01", 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]).tolist()}, rng)
    nl = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["O", "F"], nl).tolist(),
        "l_shipdate": _days(rng, nl, "1995-01-02", 2498)}, rng)
    ev = events(rng, n["events"], n["users"])
    _write(out, "events", ev, rng)
    replay(out, ev)
    _write(out, "documents", documents(rng, n["documents"]), rng)
    _write(out, "embeddings", embeddings(rng, n["embeddings"]), rng)


def events(rng, count, users):
    """A 30-day event log with a seeded start shift, ordered by event_id."""
    shift = int(rng.integers(0, 86400 * 7))
    start = np.datetime64("2024-01-01T00:00:00", "us") + np.timedelta64(shift, "s")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, count))
    return {
        "event_id": pa.array(np.arange(count), pa.int64()),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, users, count), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, count).tolist(),
        "value": np.round(rng.gamma(2.0, 25.0, count), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, count)],
    }


def replay(out, ev):
    """The dwd_stream generator's source: the event log in event_id order as
    tab-separated user_id, event_type, value, after a first line holding
    the midnight (epoch ms) of the log's first day."""
    first_ms = int(ev["ts"].min().astype("datetime64[ms]").astype(np.int64))
    lines = [str(first_ms - first_ms % 86400000)]
    lines += [f"{u}\t{t}\t{v!r}" for u, t, v in
              zip(ev["user_id"].to_pylist(), ev["event_type"], ev["value"].tolist())]
    with open(os.path.join(out, "replay.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")


def documents(rng, count):
    texts = []
    for i in range(count):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return {
        "doc_id": pa.array(np.arange(count), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, count, p=LANG_P).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, count)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def embeddings(rng, count):
    centers = rng.normal(size=(EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, count)
    vecs = centers[labels] + rng.normal(scale=1.6, size=(count, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(count), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
