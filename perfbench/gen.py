"""Seeded input generator: graft's gate schema (a TPC-H-like star, an
`events` log, `documents`, `embeddings`) at a chosen size, plus the event
log as JSON lines in `JsonEventSource`'s wire format for the streaming
workload.

Column names, types and value distributions follow the gate corpus the
repository's queries and oracle SQL are written against: uniform keys,
the 30-word document vocabulary with a 5 % share of near-duplicate
documents (a copy of another document plus " dup"), 64-dimensional unit
embeddings. The tables are drawn from one fixed seed (42), so every run
of the benchmark reads the same inputs; `datastats.py` compares them
with the gate corpus.

`value` follows the gate's exponential distribution (mean 50) but is
rounded to quarter units rather than cents: doubles add quarter units
exactly in any order, so a streaming sum can be compared exactly with
DuckDB's.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "en", "en", "en", "en", "en", "de", "de", "de",
         "es", "es", "es", "fr", "fr", "fr", "zh", "zh", "zh"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01
SEED = 42


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols, row_groups):
    table = pa.table(cols)
    rg = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=rg)


def generate(out, tables, sf, n_events, n_docs, n_vecs, row_groups):
    """Writes the named tables under `out`; facts (lineitem, orders,
    events) and documents are split into `row_groups` parquet row groups,
    so one scan is that many tasks. Each table draws from its own seeded
    stream, so leaving one out does not change the others."""
    os.makedirs(out, exist_ok=True)
    want = set(tables)
    rng = lambda i: np.random.default_rng([SEED, i])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)

    if "region" in want:
        _write(out, "region", {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}, 1)
    if "nation" in want:
        _write(out, "nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}, 1)
    if "customer" in want:
        r = rng(1)
        _write(out, "customer", {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": r.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]}, 1)
    if "supplier" in want:
        r = rng(2)
        _write(out, "supplier", {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": r.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp)}, 1)
    if "part" in want:
        r = rng(3)
        names = [f"{a} {b}" for a in ADJ for b in NOUN]
        pk = np.arange(n_part, dtype=np.int64)
        _write(out, "part", {
            "p_partkey": pk,
            "p_name": np.array(names)[r.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, n_part)],
            "p_type": np.array(PTYPES)[r.integers(0, 6, n_part)],
            "p_size": r.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)}, 1)
    if "orders" in want:
        r = rng(4)
        _write(out, "orders", {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": np.array(["O", "P", "F"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(EPOCH_1995 + r.integers(0, 2404, n_ord) * DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]},
            row_groups)
    if "lineitem" in want:
        r = rng(5)
        flags = r.integers(0, 6, n_line)
        _write(out, "lineitem", {
            "l_orderkey": r.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": r.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": r.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": r.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
            "l_linestatus": np.array(["O", "F"])[flags % 2],
            "l_shipdate": _ts(EPOCH_1995 + r.integers(1, 2499, n_line) * DAY_US)},
            row_groups)
    if "events" in want:
        # events: strictly increasing microsecond timestamps over 30 days, so
        # event-time order, event_id order and file order agree and no two
        # events tie
        r = rng(6)
        span = 30 * DAY_US
        ts = EPOCH_2024 + np.sort(r.choice(span, n_events, replace=False))
        ev = {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": r.integers(0, 1500, n_events, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_events)],
            "value": np.round(r.exponential(50.0, n_events) * 4) / 4.0,
            "props": np.array([f'{{"k": {i}}}' for i in range(100)])[r.integers(0, 100, n_events)],
        }
        _write(out, "events", ev, row_groups)
        write_jsonl(os.path.join(out, "events.parquet"), os.path.join(out, "events.jsonl"))
    if "documents" in want:
        r = rng(7)
        lens = r.integers(10, 101, n_docs)
        words = np.array(VOCAB)[r.integers(0, len(VOCAB), int(lens.sum()))]
        cuts = np.cumsum(lens)[:-1]
        texts = [" ".join(w) for w in np.split(words, cuts)]
        dups = r.choice(n_docs, n_docs // 20, replace=False)
        for d in dups:
            texts[d] = texts[int(r.integers(0, n_docs))] + " dup"
        _write(out, "documents", {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
            row_groups)
    if "embeddings" in want:
        r = rng(8)
        v = r.standard_normal((n_vecs, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        _write(out, "embeddings", {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": r.integers(0, 10, n_vecs, dtype=np.int32)}, 1)


def write_jsonl(events_parquet, out):
    """Writes an events table as JSON lines in `JsonEventSource`'s wire
    format, in file order."""
    ev = pq.read_table(events_parquet)
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts_us",
                       ev["ts"].cast(pa.int64())).to_pydict()
    keys = ["event_id", "ts_us", "user_id", "event_type", "value", "props"]
    with open(out, "w") as f:
        for row in zip(*(ev[k] for k in keys)):
            f.write(json.dumps(dict(zip(keys, row)), separators=(",", ":")) + "\n")
