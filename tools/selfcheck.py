#!/usr/bin/env python3
"""Dev-only differential check mimicking the driver's DuckDB oracle compare:
for each query dir under outDir, read the Spark parquet result and the
corresponding oracle SQL, run the SQL in DuckDB over the sf tables, sort
columns by name, and compare values exactly."""
import sys, json, glob
import duckdb, pandas as pd, numpy as np

sfdir, outdir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def kinds(df):
    """Per-column coarse dtype class, captured BEFORE norm() erases the
    int-vs-float distinction. The driver's hash is type-strict: Spark
    BIGINT vs DuckDB HUGEINT(->float64) hashes differently even when
    values match (r9's q67/q83/q88/q91), so we must flag it here too."""
    out = {}
    for c in df.columns:
        dt = df[c].dtype
        if np.issubdtype(dt, np.integer): out[c] = "int"
        elif np.issubdtype(dt, np.floating): out[c] = "float"
        elif np.issubdtype(dt, np.bool_): out[c] = "bool"
        elif str(dt).startswith("datetime64"): out[c] = "ts"
        else: out[c] = "obj"
    return out

def norm(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None) if getattr(df[c].dt, 'tz', None) is not None else df[c]
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            pass
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype("float64")
    return df

# A requested name without an oracle key fails; the summary counts only the
# names asked for (every oracle key when none are).
missing = sorted(only - oracle.keys())
checked = sorted(only & oracle.keys()) if only else sorted(oracle)
fails = list(missing)
for name in missing:
    print(f"FAIL {name}: no oracle key in {outdir}/oracle_sql.json")
for name in checked:
    try:
        spark_raw = pd.read_parquet(f"{outdir}/{name}")
        duck_raw = con.execute(oracle[name]).fetchdf()
        sk, dk = kinds(spark_raw), kinds(duck_raw)
        spark_df, duck_df = norm(spark_raw), norm(duck_raw)
        if list(spark_df.columns) != list(duck_df.columns):
            fails.append(name); print(f"FAIL {name}: columns {list(spark_df.columns)} vs {list(duck_df.columns)}"); continue
        # Only the int-vs-float class is driver-visible (r9's verdict):
        # date/ts columns legitimately differ in pandas representation
        # (Spark parquet date32 -> object, DuckDB DATE -> datetime64) and
        # the driver compares those fine.
        tmis = [(c, sk[c], dk[c]) for c in spark_df.columns
                if sk[c] != dk[c] and {sk[c], dk[c]} <= {"int", "float"}]
        if tmis:
            fails.append(name); print(f"FAIL {name}: dtype class mismatch {tmis} (spark vs duck — driver hash is type-strict)"); continue
        if len(spark_df) != len(duck_df):
            fails.append(name); print(f"FAIL {name}: rows {len(spark_df)} vs {len(duck_df)}"); continue
        neq = None
        for c in spark_df.columns:
            a, b = spark_df[c], duck_df[c]
            if np.issubdtype(a.dtype, np.floating):
                bad = ~((a == b) | (a.isna() & b.isna()))
            else:
                bad = ~((a == b) | (a.isna() & b.isna()))
            if bad.any():
                neq = (c, int(bad.sum()), spark_df[bad].head(3), duck_df[bad].head(3)); break
        if neq:
            c, n, sa, sb = neq
            fails.append(name)
            print(f"FAIL {name}: col {c} differs in {n} rows\n spark:\n{sa}\n duck:\n{sb}")
        else:
            print(f"OK   {name} ({len(spark_df)} rows)")
    except Exception as e:
        fails.append(name); print(f"ERROR {name}: {type(e).__name__}: {str(e)[:300]}")
total = len(missing) + len(checked)
print(f"\n{total-len(fails)}/{total} passed")
sys.exit(1 if fails else 0)
