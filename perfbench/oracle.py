"""DuckDB oracle check for the ta_catalog workload, under the comparison
rules of the repo's correctness gate (scripts/check.py): columns sorted by
name, equal row counts, exact value match with nulls and NaNs equal, and
an integer column on one side never matches a float column on the other.
"""
import json
import os

import duckdb
import numpy as np
import pandas as pd


def same_frame(spark_df, duck_df):
    """None when the frames match, else the reason."""
    spark_df = spark_df[sorted(spark_df.columns)]
    duck_df = duck_df[sorted(duck_df.columns)]
    if list(spark_df.columns) != list(duck_df.columns):
        return f"schema {list(spark_df.columns)} vs {list(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return f"rows {len(spark_df)} vs {len(duck_df)}"
    for c in spark_df.columns:
        a, b = spark_df[c].to_numpy(), duck_df[c].to_numpy()
        ka, kb = a.dtype.kind, b.dtype.kind
        if {ka, kb} <= {"i", "u", "f"} and (ka == "f") != (kb == "f"):
            return f"dtype class of {c}: {a.dtype} vs {b.dtype}"
        if ka == "f" or kb == "f":
            a, b = a.astype(float), b.astype(float)
            eq = (np.isnan(a) & np.isnan(b)) | (a == b)
        else:
            eq = (pd.isna(a) & pd.isna(b)) | (a == b)
        if not eq.all():
            return f"{int((~eq).sum())} values of {c} differ"
    return None


def compare(dump_dir, input_dir):
    """{query: 'ok' | reason} for every query in dump_dir/oracle_sql.json."""
    with open(os.path.join(dump_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(dump_dir, 'duckdb_tmp')}'")
    events = os.path.join(input_dir, "events.parquet")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}/*.parquet')")
    out = {}
    for name, sql in sorted(oracle.items()):
        try:
            spark_df = pd.read_parquet(os.path.join(dump_dir, name))
            duck_df = con.execute(sql).df()
            out[name] = same_frame(spark_df, duck_df) or "ok"
        except Exception as e:  # a missing dump or a failing oracle is a failed check
            out[name] = f"{type(e).__name__}: {str(e)[:200]}"
    con.close()
    return out
