#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (SURVEY.md §4).

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (Spark result), runs the matching
oracle SQL from oracle_sql.json in DuckDB over <sfDir>/*.parquet, sorts
columns by name and rows by all columns, and compares values exactly
(floats: exact after both sides' rounding; report max abs diff otherwise).
"""
import json, sys, glob, os
import duckdb
import pandas as pd

def load(con, sfdir):
    for f in glob.glob(f"{sfdir}/*.parquet"):
        name = os.path.basename(f)[:-8]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{f}')")

def read_spark(path):
    """A Spark result. Spark writes timestamps as parquet INT96, which pandas
    reads at ns precision by default and wraps past 2262-04-11 (2300-01-01
    reads back as 1715-06-13); read them at µs, the unit DuckDB returns."""
    return pd.read_parquet(path, coerce_int96_timestamp_unit="us")

def norm(df):
    import datetime
    import numpy as np
    for c in df.columns:
        if df[c].dtype == object:
            nn0 = df[c].dropna()
            if len(nn0) and any(isinstance(v, (np.ndarray, list)) for v in nn0.head(5)):
                # The DRIVER's compare crashes on array columns
                # (pandas sort_values -> factorize -> "unhashable type:
                # numpy.ndarray", round-2 e_normalize/e_quantize). Mirror
                # that as a hard failure so no oracle query ships arrays.
                raise ValueError(f"array-typed column '{c}' would crash the driver compare — explode or stringify it")
        # pandas reads parquet DATE as object-of-datetime.date; DuckDB
        # fetchdf gives datetime64 — same logical type, align them
        if df[c].dtype == object:
            nn = df[c].dropna()
            if len(nn) and all(isinstance(v, datetime.date) for v in nn.head(5)):
                df[c] = pd.to_datetime(df[c])
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def canon_dtype(dt):
    """Canonical dtype kind for parity checking. The driver's value-hash is
    value-repr-sensitive: int64 5 vs float64 5.0 vs HUGEINT-as-object hash
    differently (the round-1 e_session/f_math/x_docstats failures), while
    int32 vs int64 print identically and pass. So collapse widths within a
    kind but never across kinds."""
    k = getattr(dt, 'kind', None)
    if k in ('i', 'u'):
        return 'int'
    if k == 'f':
        return 'float'
    if k == 'M':
        return 'datetime'
    if k == 'b':
        return 'bool'
    return str(dt)

def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    con = duckdb.connect()
    load(con, sfdir)
    n_pass = n_fail = 0
    for name in sorted(oracle):
        try:
            spark_df = norm(read_spark(f"{outdir}/{name}"))
            duck_df = norm(con.execute(oracle[name]).fetchdf())
            ok = True; msgs = []
            if list(spark_df.columns) != list(duck_df.columns):
                ok = False; msgs.append(f"cols spark={list(spark_df.columns)} duck={list(duck_df.columns)}")
            elif len(spark_df) != len(duck_df):
                ok = False; msgs.append(f"rows spark={len(spark_df)} duck={len(duck_df)}")
            else:
                for c in spark_df.columns:
                    s, d = spark_df[c], duck_df[c]
                    if canon_dtype(s.dtype) != canon_dtype(d.dtype):
                        # dtype drift = driver hash-FAIL even when values match
                        ok = False
                        msgs.append(f"DTYPE-DRIFT[{c}] spark={s.dtype} duck={d.dtype}")
                    try:
                        if s.dtype.kind == 'f' or d.dtype.kind == 'f':
                            import numpy as np
                            sa, da = s.astype(float), d.astype(float)
                            both_nan = sa.isna() & da.isna()
                            diff = (sa - da).abs()
                            diff[both_nan] = 0.0
                            md = diff.max()
                            if not (md == 0.0 or pd.isna(md) and both_nan.all()):
                                ok = False; msgs.append(f"float[{c}] maxdiff={md}")
                        else:
                            eq = s.astype(str).fillna('∅').equals(d.astype(str).fillna('∅'))
                            if not eq:
                                ok = False
                                bad = (s.astype(str) != d.astype(str))
                                i = bad.idxmax()
                                msgs.append(f"val[{c}] row{i}: spark={s[i]!r} duck={d[i]!r}")
                    except Exception as e:
                        ok = False; msgs.append(f"cmp[{c}]: {e}")
            if ok:
                n_pass += 1
                print(f"PASS {name} ({len(spark_df)} rows)" + (f"  [{'; '.join(msgs)}]" if msgs else ""))
            else:
                n_fail += 1
                print(f"FAIL {name}: {'; '.join(msgs)}")
        except Exception as e:
            n_fail += 1
            print(f"ERROR {name}: {e}")
    # rows-only entries (result dumped, no oracle)
    for d in sorted(glob.glob(f"{outdir}/*/")):
        name = os.path.basename(d.rstrip('/'))
        if name not in oracle:
            try:
                n = len(read_spark(d))
                print(f"ROWS-ONLY {name}: {n} rows" + (" (EMPTY!)" if n == 0 else ""))
            except Exception as e:
                print(f"ROWS-ONLY {name}: unreadable: {e}")
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

main()
