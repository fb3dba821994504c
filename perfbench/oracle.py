"""Oracle gate: canonical content hashes of query results.

The canonicalization is `tools/check.py`'s (columns sorted by name, object
columns as text, datetimes at microseconds, rows sorted); the hash then
covers the column names, each column's value kind and every value, so two
frames hash alike exactly when check.py would accept them. Integer and
float columns are widened to 64 bits first, as check.py compares values
and kinds, not widths.

Oracle hashes come from DuckDB running `SparkEntry.oracleSql` over the
same input directory, and are cached in that directory per SQL text.
"""
import glob
import hashlib
import json
import os

import pandas as pd

from gen import TABLES


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def digest(df):
    """(hex hash, rows) of a result frame under check.py's canonical form."""
    df = canon(df)
    h = hashlib.sha256()
    h.update(json.dumps([(c, df[c].dtype.kind) for c in df.columns]).encode())
    for c in df.columns:
        s = df[c]
        if s.dtype.kind in "iu":
            s = s.astype("int64")
        elif s.dtype.kind == "f":
            s = s.astype("float64") + 0.0  # -0.0 and 0.0 compare equal
        h.update(pd.util.hash_pandas_object(s, index=False).values.tobytes())
    return h.hexdigest(), len(df)


def read_result(path):
    """A result written by the harness's parquet sink."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def oracle_hashes(data_dir, sqls):
    """{key: {"hash", "rows"} or {"error"}} for every key in `sqls`,
    computed by DuckDB once per input directory and SQL text."""
    import duckdb
    tag = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()[:16]
    cache = os.path.join(data_dir, f"oracle_{tag}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        f = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    out = {}
    for key, sql in sorted(sqls.items()):
        try:
            h, n = digest(con.execute(sql).df())
            out[key] = {"hash": h, "rows": n}
        except Exception as e:  # a broken oracle fails its key, not the run
            out[key] = {"error": f"{type(e).__name__}: {e}"[:300]}
    tmp = cache + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, cache)
    return out
