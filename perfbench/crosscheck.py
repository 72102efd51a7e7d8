#!/usr/bin/env python3
"""One-off cross-check of the benchmark's expected outputs against DuckDB.

The stored analytics expectations (perfbench/expected/analytics-sf0.01.json)
and the online workload's serve answers are computed by Spark. This
script recomputes them independently with DuckDB over the same generated
fixture and compares, canonicalized like tools/check_oracle.py (columns
sorted by name, rows sorted, floats compared at 1e-5 relative tolerance).

Run after the expectation dumps exist:

    python3 perfbench/run.py --workload batch --seed 0 --seconds 1 --emit-expected
    python3 perfbench/run.py --workload online --seed 0 --seconds 1 --emit-expected
    python3 perfbench/crosscheck.py
"""
import datetime
import glob
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
BUILD = os.path.join(os.getcwd(), ".bench_build")
FIXTURES = os.path.join(BUILD, "fixture")
DUMPS = os.path.join(BUILD, "run")


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
            if df[c].map(lambda v: v is None or isinstance(v, datetime.date)).all():
                df[c] = pd.to_datetime(df[c])
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def connect(sf):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{FIXTURES}/sf{sf}/{t}.parquet'")
    return con


def analytics(sf):
    dump = os.path.join(DUMPS, "batch", "expected-dump", f"sf{sf}")
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    expected = json.load(open(os.path.join(os.path.dirname(__file__), "expected",
                                           f"analytics-sf{sf}.json")))
    con = connect(sf)
    ok = bad = rows_only = 0
    for name in sorted(expected):
        got = pd.concat([pd.read_parquet(f) for f in glob.glob(f"{dump}/{name}/*.parquet")],
                        ignore_index=True)
        if len(got) != expected[name]["rows"]:
            print(f"FAIL  sf{sf} {name}: dump has {len(got)} rows, stored {expected[name]['rows']}")
            bad += 1
            continue
        if name not in oracle:
            rows_only += 1
            continue
        exp = con.sql(oracle[name]).df()
        g, e = canon(got), canon(exp)
        try:
            assert list(g.columns) == list(e.columns), f"columns {list(g.columns)} vs {list(e.columns)}"
            assert len(g) == len(e), f"{len(g)} rows vs {len(e)}"
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=False,
                                          rtol=1e-5, atol=1e-6)
            ok += 1
        except AssertionError as ex:
            print(f"FAIL  sf{sf} {name}: {str(ex)[:300]}")
            bad += 1
    print(f"analytics sf{sf}: {ok} match DuckDB, {bad} differ, {rows_only} without SQL oracle")
    return bad


def serve():
    d = json.load(open(os.path.join(DUMPS, "online", "expected-dump", "serve.json")))
    con = connect("0.1")
    bad = 0
    latest = dict(con.sql("""SELECT user_id, event_id FROM (
                               SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn FROM events)
                             WHERE rn = 1""").fetchall())
    bad += sum(1 for k, v in latest.items() if d["latest"].get(str(k)) != v)
    bad += len(d["latest"]) != len(latest)
    hist = con.sql(f"""SELECT user_id, count(*), sum(event_id) FROM (
                         SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn FROM events)
                       WHERE rn <= {d['history_n']} GROUP BY 1""").fetchall()
    bad += sum(1 for k, c, s in hist if d["history"].get(str(k)) != [c, int(s)])
    for i, since in enumerate(d["sinces"]):
        rows = con.sql(f"""SELECT user_id, count(*), sum(event_id) FROM events
                           WHERE ts >= TIMESTAMP '{since}' GROUP BY 1""").fetchall()
        bad += sum(1 for k, c, s in rows if d["olhc"].get(f"{k}|{i}") != [c, int(s)])
        bad += sum(1 for k in d["olhc"] if k.endswith(f"|{i}")) != len(rows)
    recent = [r[0] for r in con.sql(f"""SELECT event_id FROM events ORDER BY ts DESC, event_id DESC
                                         LIMIT {d['recent_k']}""").fetchall()]
    bad += recent != d["recent"]
    print(f"serve: {len(latest)} keys; {bad} differences from DuckDB")
    return bad


if __name__ == "__main__":
    sys.exit(1 if analytics("0.01") + serve() else 0)
