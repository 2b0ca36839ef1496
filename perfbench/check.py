"""Output checks, run after the workload's JVM has exited.

bar_queries: each query's output over the sf0.01 tables is compared
with the DuckDB run of its oracle SQL over the same tables, by row
count, schema and value hash (the compare of scripts/check_oracle.py).
Its output at sf0.1, the scale the loop times, is compared by row count
and column names. Expected values come from DuckDB only.

daily_load: each op's view read and the final main table are compared
with the expectations gen.py derives from the seed.
"""
import json
import math
import multiprocessing
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd

import gen

# The repository's oracle compare (scripts/check_oracle.py): same
# canonical form and value hash.
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
from check_oracle import TABLES, canon, value_hash  # noqa: E402


def summary(df):
    df = canon(df)
    return {"rows": len(df), "columns": list(df.columns), "hash": value_hash(df)}


def _connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _check_one(job):
    """None when the query's output matches DuckDB's run of its oracle
    SQL, else what differs. A job with `shape` compares only the row
    count and the column names, a job with `out` the full output."""
    name, sql, sf_dir, out, shape = job
    try:
        con = _connect(sf_dir)
        if shape is not None:
            rel = con.sql(sql)
            rows = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            if rows == shape["rows"] and sorted(rel.columns) == sorted(shape["columns"]):
                return None
            return (f"check FAILED {name} at {sf_dir}: rows {shape['rows']}/{rows}, "
                    f"columns {sorted(shape['columns'])}/{sorted(rel.columns)}")
        expect = summary(con.sql(sql).df())
        got = summary(pd.read_parquet(out))
        if got == expect:
            return None
        return (f"check FAILED {name} at {sf_dir}: rows {got['rows']}/{expect['rows']} "
                f"columns {got['columns'] == expect['columns']} "
                f"hash {got['hash']}/{expect['hash']}")
    except Exception as e:  # noqa: BLE001 - any error is a failed check
        return f"check ERROR {name} at {sf_dir}: {e}"


def check_queries(work, check_sf_dir, sf_dir, shapes, oracle, procs):
    """Names of the queries that fail a check: the full compare of the
    output captured over `check_sf_dir`, or the row count and column
    names over `sf_dir`. `procs` compares run at a time."""
    jobs = [(n, oracle[n], check_sf_dir, os.path.join(work, "check", n), None) for n in shapes]
    jobs += [(n, oracle[n], sf_dir, None, s) for n, s in shapes.items()]
    with multiprocessing.get_context("fork").Pool(max(1, min(procs, len(jobs)))) as pool:
        verdicts = pool.map(_check_one, jobs)
    failed = set()
    for (name, *_), msg in zip(jobs, verdicts):
        if msg is not None:
            failed.add(name)
            print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    return failed


def _main_table(path):
    df = pd.read_parquet(path)
    out = {}
    for r in df.to_dict("records"):
        date = pd.Timestamp(r["date"]).date().isoformat()
        if str(r["month"]) != date[:7]:
            raise ValueError(f"row of {date} in month partition {r['month']}")
        key = (date, r["symbol"], r["data_source"])
        if key in out:
            raise ValueError(f"duplicate key {key}")
        out[key] = {c: (None if pd.isna(r[c]) else r[c]) for c in
                    ("open", "high", "low", "close", "volume",
                     "daily_change_pct", "daily_volatility")}
    return out


def check_daily(seed, facts):
    """Op ids whose view read is wrong; every op counts as failed when
    the final main table is wrong."""
    days = facts["days"]
    failed = []
    tables = {}
    with open(facts["views"]) as f:
        views = [json.loads(line) for line in f if line.strip()]
    for v in views:
        upto = days.index(v["day"])
        table = tables.setdefault(upto, gen.expected_table(seed, upto))
        expect = gen.expected_view(table, v["day"])
        got = {(r["date"], r["symbol"]): r for r in v["rows"]}
        ok = got.keys() == expect.keys() and all(
            got[k]["close_price"] == e["close_price"]
            and got[k]["source_count"] == e["source_count"]
            and (math.isclose(got[k]["avg_volatility"], e["avg_volatility"], rel_tol=1e-12)
                 if e["avg_volatility"] is not None
                 else got[k].get("avg_volatility") is None)
            for k, e in expect.items())
        if not ok:
            failed.append(v["op"])
            print(f"[perfbench] check FAILED view read of op {v['op']} ({v['day']})", file=sys.stderr, flush=True)
    upto = days.index(facts["last_day"])
    expect = tables.get(upto) or gen.expected_table(seed, upto)
    try:
        got = _main_table(facts["main"])
        bad = [k for k in expect if got.get(k) != expect[k]]
        extra = got.keys() - expect.keys()
        if bad or extra:
            print(f"[perfbench] check FAILED main table: {len(bad)} wrong or missing rows "
                  f"(e.g. {bad[:3]}), {len(extra)} extra", file=sys.stderr, flush=True)
            return [v["op"] for v in views]
    except Exception as e:  # noqa: BLE001 - any error is a failed check
        print(f"[perfbench] check ERROR main table: {e}", file=sys.stderr, flush=True)
        return [v["op"] for v in views]
    return failed
