"""Output check: a query's written Spark result against its DuckDB
oracle SQL over the same image. Columns are matched by name, rows are
compared as sorted multisets, floats must be bit-identical (NaN equals
NaN) and the two engines' column kinds must agree."""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

from image import TABLES


def connect(image_dir):
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        p = os.path.join(image_dir, t + ".parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _sortable(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None else str(
                v.tolist() if isinstance(v, np.ndarray) else v))
    return df.sort_values(list(df.columns), kind="mergesort",
                          na_position="last").reset_index(drop=True)


def check(con, sql, result_dir):
    """None when the written result equals the oracle's, else a reason."""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return "no result written"
    spark = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    try:
        duck = con.sql(sql).fetchdf()
    except Exception as e:  # an oracle that cannot run is a failed check
        return "oracle error: " + str(e)[:200]
    if sorted(spark.columns) != sorted(duck.columns):
        return f"columns spark={sorted(spark.columns)} oracle={sorted(duck.columns)}"
    if len(spark) != len(duck):
        return f"rows spark={len(spark)} oracle={len(duck)}"
    s, d = _sortable(spark), _sortable(duck)
    for c in s.columns:
        a, b = s[c].to_numpy(), d[c].to_numpy()
        if a.dtype.kind != b.dtype.kind and not (
                a.dtype.kind in "iu" and b.dtype.kind in "iu"):
            return f"column {c} kind spark={a.dtype} oracle={b.dtype}"
        if a.dtype.kind == "f":
            a, b = a.astype("float64"), b.astype("float64")
            eq = (a == b) | (np.isnan(a) & np.isnan(b))
        else:
            eq = pd.Series(a).astype(str).to_numpy() == pd.Series(b).astype(str).to_numpy()
        if not eq.all():
            i = int(np.argmin(eq))
            return f"column {c} row {i}: spark={a[i]!r} oracle={b[i]!r}"
    return None
