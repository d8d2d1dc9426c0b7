"""DuckDB oracle check of query results, with the comparison rules of
tools/parity.py (imported from it, so the two cannot drift apart).

Each query's oracle SQL runs over the same parquet tables the query read;
both sides are canonicalised by parity.canon and must agree on oracle
column types (parity.oracle_type_errors), column names, row count and
every cell value.
"""
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from parity import TABLES, canon, oracle_type_errors  # noqa: E402


def _same(e, g):
    """Exact cell equality of one column, nulls equal (as parity.main)."""
    try:
        if e.dtype == object:
            return bool((e.fillna("<null>") == g.fillna("<null>")).all())
        return bool(((e == g) | (e.isna() & g.isna())).all())
    except Exception:  # noqa: BLE001 - incomparable dtypes: compare as lists
        return list(e) == list(g)


def check(data_dir, dump_dir, names):
    """Returns {query: None if it matches, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for name in names:
        if name not in oracle:
            out[name] = "no oracle SQL in the registry"
            continue
        try:
            sql = oracle[name]
            bad = oracle_type_errors(con, sql)
            if bad:
                out[name] = f"oracle column types without a Spark analogue: {bad}"
                continue
            want = canon(con.execute(sql).df())
            got = canon(pd.read_parquet(os.path.join(dump_dir, name)))
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            out[name] = f"{type(e).__name__}: {e}"
            continue
        if list(want.columns) != list(got.columns):
            out[name] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(want) != len(got):
            out[name] = f"rows {len(got)} != {len(want)}"
        elif not all(_same(want[c], got[c]) for c in want.columns):
            out[name] = "value mismatch in " + ", ".join(
                c for c in want.columns if not _same(want[c], got[c]))
        else:
            out[name] = None
    return out
