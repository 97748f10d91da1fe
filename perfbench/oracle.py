"""Generated graph tables, output fingerprints and the DuckDB oracle.

A fingerprint is (row count, sum of row hashes mod 2**64): equal for
the same multiset of rows in any order. Both the engine's output and
the oracle's result are fingerprinted by the same DuckDB code, after
putting each column in one canonical form.
"""

import hashlib
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FLOATS = ("DOUBLE", "FLOAT", "REAL", "DECIMAL")
INTEGERS = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
            "USMALLINT", "UINTEGER", "UBIGINT")


def write_graph_tables(out_dir, seed, scale):
    """A TPC-H-shaped `lineitem` and an `events` stream, from `seed`.

    At scale 1 the shapes match the sf1 tables the graph queries were
    written for: 1.5 M orders of 1-7 lines over 200 k parts, 1 M events
    of 5 types by 15 k users over 30 days.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_orders = int(1_500_000 * scale)
    lines = rng.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(len(orderkey)) - starts + 1).astype(np.int32)
    n = len(orderkey)
    n_parts = int(200_000 * scale)
    lineitem = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, max(1, n_parts // 20), n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
    })
    pq.write_table(lineitem, os.path.join(out_dir, "lineitem.parquet"))

    n_events = int(1_000_000 * scale)
    n_users = max(2, int(15_000 * scale))
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)) + start_us
    types = np.array(["click", "view", "purchase", "signup", "error"])
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": types[rng.integers(0, len(types), n_events)],
        "value": np.round(rng.random(n_events) * 100, 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)), "}"),
    })
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))


def _types(con, sql):
    return {r[0].lower(): r[1].upper() for r in con.execute(f"DESCRIBE ({sql})").fetchall()}


def _canon(col, left, right):
    """One canonical form of a column for both sides: numbers that are
    fractional on either side become micro-units, integers stay exact."""
    q = f'"{col}"'
    if left.startswith(FLOATS) or right.startswith(FLOATS):
        return f"CAST(round(CAST({q} AS DOUBLE) * 1e6) AS HUGEINT)"
    if left.startswith(INTEGERS) and right.startswith(INTEGERS):
        return f"CAST({q} AS HUGEINT)"
    return f"CAST({q} AS VARCHAR)"


def fingerprint(con, sql, columns, canon):
    exprs = ", ".join(canon[c] for c in columns)
    count, total = con.execute(
        f"SELECT count(*), coalesce(sum(hash({exprs})), 0) FROM ({sql})").fetchone()
    return [int(count), int(total) % (1 << 64)]


def engine_sql(path, columns):
    cols = ", ".join(f'"{c}"' for c in columns)
    return f"SELECT {cols} FROM read_parquet('{path}/*.parquet')"


def check_outputs(checks, setup, cache_dir):
    """Fingerprint each engine output and its oracle. The oracle side
    (fingerprint and column types) is cached per seed, so the oracle's
    tables are built only by the first run that needs them.
    Returns {name: {"ok", "engine", "oracle"}}."""
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    ready = False
    results = {}
    for chk in checks:
        cols = [c.lower() for c in chk["columns"]]
        eng_sql = engine_sql(chk["path"], chk["columns"])
        lt = _types(con, eng_sql)
        key = hashlib.sha1(json.dumps([chk["oracle"], cols, lt], sort_keys=True).encode())
        cache = os.path.join(cache_dir, chk["name"].replace("/", "__") + "-"
                             + key.hexdigest()[:16] + ".json")
        if os.path.exists(cache):
            with open(cache) as f:
                ora = json.load(f)
        else:
            if not ready:
                for stmt in setup:
                    con.execute(stmt)
                ready = True
            ora_sql = f"SELECT * FROM ({chk['oracle']})"
            rt = _types(con, ora_sql)
            missing = [c for c in cols if c not in rt]
            if missing:
                raise ValueError(f"{chk['name']}: oracle lacks columns {missing}")
            canon = {c: _canon(c, lt[c], rt[c]) for c in cols}
            ora = {"types": rt, "fp": fingerprint(con, ora_sql, cols, canon)}
            with open(cache, "w") as f:
                json.dump(ora, f)
        canon = {c: _canon(c, lt[c], ora["types"][c]) for c in cols}
        eng = fingerprint(con, eng_sql, cols, canon)
        results[chk["name"]] = {"ok": eng == ora["fp"], "engine": eng, "oracle": ora["fp"]}
    con.close()
    return results
