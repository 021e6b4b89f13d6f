#!/usr/bin/env python3
"""Prints the statistics that shape the benchmark's workloads for one or
more input directories side by side, to compare the generated inputs
(gen.py) with the gate corpus they stand in for: row and row-group
counts, the documents' length, vocabulary, near-duplicate share and
duplicate-cluster sizes, and the events' users, type mix, values and
time span.

Usage: python3 perfbench/datastats.py DIR [DIR ...]
"""
import os
import sys

import duckdb

TABLES = ["customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]


def dup_clusters(con):
    """Sizes of the clusters that near-duplicate links (`text` equals
    another document's text plus " dup") join, largest first."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in con.sql("""SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b
                           ON a.text = b.text || ' dup'""").fetchall():
        parent[find(a)] = find(b)
    sizes = {}
    for x in list(parent):
        sizes[find(x)] = sizes.get(find(x), 0) + 1
    return sorted(sizes.values(), reverse=True)


def stats(d):
    con = duckdb.connect()
    out = {}
    for t in TABLES:
        f = os.path.join(d, f"{t}.parquet")
        if not os.path.exists(f):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
        rows, groups = con.sql(f"""SELECT sum(row_group_num_rows), count(*) FROM
            (SELECT DISTINCT row_group_id, row_group_num_rows FROM parquet_metadata('{f}'))
            """).fetchone()
        out[f"{t} rows / row groups"] = f"{rows} / {groups}"
    one = lambda sql: con.sql(sql).fetchone()
    fmt = lambda xs: " ".join(f"{x:.4g}" if isinstance(x, float) else str(x) for x in xs)
    if "documents rows / row groups" in out:
        out["documents words min/mean/max"] = fmt(one(
            "SELECT min(n), avg(n), max(n) FROM (SELECT len(string_split(text, ' ')) n FROM documents)"))
        out["documents vocabulary"] = fmt(one(
            "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)"))
        out["documents distinct texts"] = fmt(one("SELECT count(DISTINCT text) FROM documents"))
        out["documents ending ' dup'"] = fmt(one(
            "SELECT count(*) FILTER (WHERE text LIKE '% dup') FROM documents"))
        sizes = dup_clusters(con)
        out["dup clusters / docs in them / max size"] = fmt([len(sizes), sum(sizes), max(sizes or [0])])
        out["documents lang mix"] = fmt(r[1] for r in con.sql(
            "SELECT lang, count(*) FROM documents GROUP BY 1 ORDER BY 1").fetchall())
    if "embeddings rows / row groups" in out:
        out["embeddings dim / labels"] = fmt(one(
            "SELECT max(len(embedding)), count(DISTINCT label) FROM embeddings"))
    if "events rows / row groups" in out:
        out["events users / per-user min / max"] = fmt(one(
            "SELECT count(*), min(c), max(c) FROM (SELECT user_id, count(*) c FROM events GROUP BY 1)"))
        out["events type mix"] = fmt(r[1] for r in con.sql(
            "SELECT event_type, count(*) FROM events GROUP BY 1 ORDER BY 1").fetchall())
        out["events value mean/median/p99/max"] = fmt(one(
            "SELECT avg(value), median(value), quantile_cont(value, 0.99), max(value) FROM events"))
        out["events days / distinct props"] = fmt(one(
            "SELECT count(DISTINCT CAST(ts AS DATE)), count(DISTINCT props) FROM events"))
    if "lineitem rows / row groups" in out:
        out["lineitem distinct orders"] = fmt(one("SELECT count(DISTINCT l_orderkey) FROM lineitem"))
        out["orders distinct customers"] = fmt(one("SELECT count(DISTINCT o_custkey) FROM orders"))
    return out


def main():
    dirs = sys.argv[1:]
    if not dirs:
        sys.exit(__doc__.strip().splitlines()[-1])
    cols = [stats(d) for d in dirs]
    keys = list(dict.fromkeys(k for c in cols for k in c))
    width = max(len(k) for k in keys)
    print(f"{'':{width}}  " + "  |  ".join(dirs))
    for k in keys:
        print(f"{k:{width}}  " + "  |  ".join(c.get(k, "-") for c in cols))


if __name__ == "__main__":
    main()
