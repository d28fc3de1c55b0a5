"""DuckDB oracle comparison for one query's result, with the comparison
rules of tools/check_parity.py: columns sorted by name, floats compared
exactly as float64, integers as int64, timestamps as microsecond strings,
everything else as str()."""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(in_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(in_dir, t)}.parquet')")
    return con


def _canon(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    out = {}
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            out[c] = col.astype("float64")
        elif pd.api.types.is_integer_dtype(col):
            out[c] = col.astype("int64")
        elif pd.api.types.is_datetime64_any_dtype(col):
            out[c] = pd.to_datetime(col).astype("datetime64[us]").astype(str)
        else:
            out[c] = col.map(str)
    return pd.DataFrame(out)


def check(con, sql, result_dir):
    """Problems found comparing the Spark result at result_dir with the
    oracle SQL's result; empty when they match."""
    if not glob.glob(os.path.join(result_dir, "*.parquet")):
        return ["no result written"]
    spark_df = pd.read_parquet(result_dir)
    try:
        duck_df = con.sql(sql).df()
    except Exception as e:  # noqa: BLE001 - reported as a check failure
        return [f"oracle SQL error: {e}"]
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return [f"columns differ: {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}"]
    if len(spark_df) != len(duck_df):
        return [f"row count {len(spark_df)} vs oracle {len(duck_df)}"]
    s, o = _canon(spark_df), _canon(duck_df)
    problems = []
    for c in s.columns:
        sc, oc = s[c], o[c]
        if pd.api.types.is_float_dtype(sc) and pd.api.types.is_float_dtype(oc):
            eq = (sc.values == oc.values) | (pd.isna(sc.values) & pd.isna(oc.values))
        else:
            eq = sc.astype(str).values == oc.astype(str).values
        if not eq.all():
            i = int(np.where(~eq)[0][0])
            problems.append(f"col {c}: {(~eq).sum()} mismatches, e.g. row {i}: "
                            f"{sc.iloc[i]!r} vs {oc.iloc[i]!r}")
    return problems
