"""Output checks of the benchmark, all in DuckDB and apart from graft.

batch: every query's rows against DuckDB running the query's
`SparkEntry.oracleSql` over the same parquet, compared with the
functions of tools/crosscheck.py (row count, name-sorted columns, exact
values after a full sort).

stream: each streaming twin's output against a DuckDB computation over
the events the run fed in, for every result the final watermark has
closed; and no row dropped as late.
"""
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _connect(data, tmp):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{tmp}/duckdb_tmp'")
    for t in TABLES:
        if os.path.exists(f"{data}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def _oracle(con, data, sql):
    """The oracle's rows for `sql` over `data`. The inputs are the same for
    every seed, so the rows are computed once per input directory and SQL
    text and kept beside the inputs."""
    path = os.path.join(data, "oracle", hashlib.sha256(sql.encode()).hexdigest()[:16] + ".pkl")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        con.sql(sql).df().to_pickle(f"{path}.tmp{os.getpid()}")
        os.rename(f"{path}.tmp{os.getpid()}", path)
    return pd.read_pickle(path)


def batch(data, out, tmp):
    """Returns one message per query whose rows differ from the oracle,
    compared with the repository's own gate replica, tools/crosscheck.py."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                    "tools"))
    from crosscheck import canon, cmp_vals
    con = _connect(data, tmp)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        path = os.path.join(out, name)
        if not os.path.isdir(path):
            bad.append(f"{name}: no output")
            continue
        s = canon(con.sql(f"SELECT * FROM '{path}/*.parquet'").df())
        o = canon(_oracle(con, data, sql))
        if list(s.columns) != list(o.columns) or len(s) != len(o):
            bad.append(f"{name}: {len(s)} rows {list(s.columns)} vs oracle "
                       f"{len(o)} rows {list(o.columns)}")
            continue
        diffs, max_delta = cmp_vals(s, o)
        if diffs:
            bad.append(f"{name}: {diffs} values differ from the oracle (max delta {max_delta})")
    return bad


def _set_diff(con, name, got_sql, want_sql):
    got = con.sql(got_sql).fetchall()
    want = con.sql(want_sql).fetchall()
    if len(got) != len(set(got)):
        return [f"{name}: duplicate output rows"]
    extra, missing = set(got) - set(want), set(want) - set(got)
    if extra or missing:
        return [f"{name}: {len(extra)} unexpected and {len(missing)} missing rows "
                f"(e.g. {sorted(extra)[:2]} / {sorted(missing)[:2]})"]
    return []


def stream(data, out, stream_dir, tmp, res):
    con = _connect(data, tmp)
    con.execute(f"""CREATE VIEW ev AS SELECT event_id, epoch_us(ts) AS ts_us, user_id,
        event_type, value, props FROM events
        WHERE event_id >= {res['events_from']} AND event_id < {res['events_to']}""")
    q = res["queries"]
    bad = [f"{name}: {p['late_rows']} rows dropped as late" for name, p in sorted(q.items())
           if p["late_rows"]]

    routed = con.sql(f"""SELECT route, count(*) FROM
        read_parquet('{stream_dir}/routed/*/*/*.parquet') GROUP BY 1""").fetchall()
    want = con.sql("""SELECT CASE
          WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NULL
            OR user_id IS NULL OR event_type = 'error' THEN 'dirty'
          WHEN event_type = 'signup' THEN 'start' ELSE 'page' END AS route, count(*)
        FROM ev GROUP BY 1""").fetchall()
    if sorted(routed) != sorted(want):
        bad.append(f"route: counts {sorted(routed)} vs {sorted(want)}")

    bad += _set_diff(con, "unique_visits",
        f"SELECT user_id, day, event_id, ts_us FROM '{out}/unique_visits/*.parquet'",
        """SELECT user_id, day, arg_min(event_id, ts_us), min(ts_us) FROM
           (SELECT *, strftime(make_timestamp(ts_us), '%Y-%m-%d') AS day FROM ev)
           GROUP BY user_id, day""")

    bad += _set_diff(con, "interval_join",
        f"SELECT view_id, purchase_id, user_id, gap_us FROM '{out}/interval_join/*.parquet'",
        """SELECT v.event_id, p.event_id, v.user_id, p.ts_us - v.ts_us
           FROM ev v JOIN ev p ON v.user_id = p.user_id
           WHERE v.event_type = 'view' AND p.event_type = 'purchase'
             AND p.ts_us > v.ts_us AND p.ts_us <= v.ts_us + 600000000""")

    # windows: closed once the watermark reaches their end
    wm = q["visitor_stats"]["watermark_ms"] * 1000
    hour = 3_600_000_000
    got = con.sql(f"""SELECT epoch_us(window_start), event_type, pv, uv_approx, value_sum
        FROM '{out}/visitor_stats/*.parquet'""").fetchall()
    want = {(w, t): (pv, uv, vs) for w, t, pv, uv, vs in con.sql(f"""
        SELECT ts_us // {hour} * {hour} AS w, event_type, count(*),
               count(DISTINCT user_id), sum(value) FROM ev GROUP BY 1, 2""").fetchall()}
    seen = set()
    for w, t, pv, uv, vs in got:
        exp = want.get((w, t))
        if (w, t) in seen or exp is None or w + hour > wm:
            bad.append(f"visitor_stats: unexpected window {(w, t)}")
            break
        seen.add((w, t))
        if (pv, vs) != (exp[0], exp[2]) or abs(uv - exp[1]) > 0.15 * exp[1] + 1:
            bad.append(f"visitor_stats: window {(w, t)} {(pv, uv, vs)} vs exact {exp}")
            break
    unseen = [k for k in want if k[0] + hour < wm and k not in seen]
    if unseen:
        bad.append(f"visitor_stats: {len(unseen)} closed windows missing, e.g. {unseen[:2]}")

    # a view is a jump when the user's next event is over 10 minutes later;
    # with no next event it is one once the watermark passes its timeout
    wm = q["user_jumps"]["watermark_ms"]
    con.execute("""CREATE VIEW nxt AS SELECT *, lead(ts_us) OVER
        (PARTITION BY user_id ORDER BY ts_us, event_id) AS next_us FROM ev""")
    undecided = f"nxt.next_us IS NULL AND nxt.ts_us // 1000 + 600001 >= {wm}"
    bad += _set_diff(con, "user_jumps",
        f"""SELECT j.user_id, j.event_id, j.ts_us FROM '{out}/user_jumps/*.parquet' j
            JOIN nxt USING (event_id) WHERE NOT ({undecided})""",
        f"""SELECT user_id, event_id, ts_us FROM nxt WHERE event_type = 'view'
            AND (next_us - ts_us > 600000000 OR next_us IS NULL) AND NOT ({undecided})""")

    bad += _set_diff(con, "dim_upsert",
        f"SELECT dim_key, version, payload FROM '{stream_dir}/dim/*.parquet'",
        "SELECT user_id, max(ts_us), arg_max(event_id, ts_us) FROM ev GROUP BY 1")
    return bad
