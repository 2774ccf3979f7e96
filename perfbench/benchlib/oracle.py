"""Engine-vs-DuckDB result comparison, with the normalisation rules of
tools/selfcheck.py: columns sorted by name, integers widened to int64 and
floats to float64 (values compared exactly), timestamps to microseconds, and
an int-vs-float class mismatch between the two engines counted as a
failure."""
import hashlib
import os

import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def kinds(df):
    """Coarse dtype class per column, taken before `normalise` widens."""
    out = {}
    for c in df.columns:
        dt = df[c].dtype
        if np.issubdtype(dt, np.bool_):
            out[c] = "bool"
        elif np.issubdtype(dt, np.integer):
            out[c] = "int"
        elif np.issubdtype(dt, np.floating):
            out[c] = "float"
        elif str(dt).startswith("datetime64"):
            out[c] = "ts"
        else:
            out[c] = "obj"
    return out


def normalise(df):
    """Columns sorted by name; int -> int64, float -> float64, ts -> naive us."""
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        s = df[c]
        if str(s.dtype).startswith("datetime64"):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif np.issubdtype(s.dtype, np.bool_):
            pass
        elif np.issubdtype(s.dtype, np.integer):
            df[c] = s.astype("int64")
        elif np.issubdtype(s.dtype, np.floating):
            df[c] = s.astype("float64")
    return df


def digest(df):
    """Order-sensitive digest of a normalised frame (columns, then rows)."""
    h = hashlib.sha256("|".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update(repr(tuple(None if (v is None or (isinstance(v, float) and v != v))
                            else v for v in row)).encode())
    return h.hexdigest()


def compare(engine_raw, oracle_raw):
    """None when the frames match under the rules, else a one-line reason."""
    ek, ok = kinds(engine_raw), kinds(oracle_raw)
    e, o = normalise(engine_raw), normalise(oracle_raw)
    if list(e.columns) != list(o.columns):
        return f"columns {list(e.columns)} vs {list(o.columns)}"
    mism = [c for c in e.columns if ek[c] != ok[c] and {ek[c], ok[c]} <= {"int", "float"}]
    if mism:
        return f"int/float class mismatch in {mism}"
    if len(e) != len(o):
        return f"rows {len(e)} vs {len(o)}"
    if digest(e) == digest(o):
        return None
    for c in e.columns:
        bad = ~((e[c] == o[c]) | (e[c].isna() & o[c].isna()))
        if bad.any():
            return f"column {c} differs in {int(bad.sum())} rows"
    return "digest differs"


def check_all(data_dir, result_dir, oracles, temp_dir):
    """{query: reason or None} for every query in `oracles` ({name: sql})."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{temp_dir}'")
    con.execute("SET threads=4")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name, sql in oracles.items():
        try:
            engine = pd.read_parquet(os.path.join(result_dir, name))
            out[name] = compare(engine, con.execute(sql).fetchdf())
        except Exception as e:  # a failing oracle or a missing result is a mismatch
            out[name] = f"{type(e).__name__}: {str(e)[:200]}"
    con.close()
    return out
