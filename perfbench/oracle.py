"""Result check against DuckDB, with the comparison rules of
scripts/check.py: columns compared by sorted name, row counts equal, then
cell by cell in order, type-strict except that temporal values of
different Python types compare by their string form.
"""
import datetime as _dt
import glob
import math
import os

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
_TEMPORAL = (_dt.datetime, _dt.date, np.datetime64)


def _canon(v):
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, np.generic):
        return _canon(v.item())
    return v


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare(con, sql, result_dir):
    """None when the Spark result in result_dir equals DuckDB's answer to
    sql, else a one-line reason."""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return "no result parquet"
    try:
        sdf = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        odf = con.execute(sql).fetchdf()
    except Exception as e:  # an oracle or read error is a failed check
        return f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        return f"columns spark={scols} oracle={ocols}"
    if len(sdf) != len(odf):
        return f"rows spark={len(sdf)} oracle={len(odf)}"
    for c in scols:
        for i, (a, b) in enumerate(zip(map(_canon, sdf[c]), map(_canon, odf[c]))):
            if a != b and not (isinstance(a, _TEMPORAL) and isinstance(b, _TEMPORAL)
                               and str(a) == str(b)):
                return f"col={c} row={i} spark={a!r} oracle={b!r}"[:300]
    return None
