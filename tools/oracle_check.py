#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir> [name-substring ...]

Runs each oracle_sql.json entry in DuckDB against the parquet tables of
<sfDir>, loads the Spark result parquet from <verifyOutDir>/<name>, sorts
columns by name and rows by all columns, and compares cell values.

Name substrings restrict the check to the queries whose names contain one
of them, the same filter `graft.Verify` applies to its dump; the others are
skipped and counted. Without them every query is checked, and a query with
no dump fails.
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        # decimals / objects that are numeric-like -> float for compare
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare(name, spark_df, duck_df):
    a, b = norm(spark_df), norm(duck_df)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA mismatch: spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWS mismatch: spark={len(a)} duck={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        # driver hashes raw values: an int column on one side rendered as
        # float on the other (e.g. DuckDB HUGEINT -> float64) hash-mismatches
        # even when values are numerically equal
        if pd.api.types.is_float_dtype(av) != pd.api.types.is_float_dtype(bv):
            return (f"DTYPE mismatch col {c}: spark={av.dtype} duck={bv.dtype}"
                    f" (hash would FAIL)")
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            aa = av.astype(float).to_numpy()
            bb = bv.astype(float).to_numpy()
            both_nan = np.isnan(aa) & np.isnan(bb)
            exact = (aa == bb) | both_nan
            if not exact.all():
                close = np.isclose(aa, bb, rtol=1e-9, atol=1e-12, equal_nan=True)
                n_exact = int((~exact).sum())
                if close.all():
                    return f"FLOAT-INEXACT col {c}: {n_exact} cells differ in low bits (hash would FAIL)"
                i = int(np.argmax(~close))
                return f"VALUE mismatch col {c} row {i}: spark={aa[i]!r} duck={bb[i]!r}"
        else:
            eq = (av.astype(str).fillna("<null>") == bv.astype(str).fillna("<null>"))
            if not eq.all():
                i = int(np.argmax(~eq.to_numpy()))
                return f"VALUE mismatch col {c} row {i}: spark={av.iloc[i]!r} duck={bv.iloc[i]!r}"
    return None


def lint_output_types(con, oracles):
    """Flag oracle OUTPUT columns typed HUGEINT (an un-CAST integer sum):
    pandas surfaces them as float64 while Spark emits int64, and the
    driver's dtype-sensitive hash then fails — the bug class behind the
    pack_chunks and para_dedup regressions. DESCRIBE plans the query
    without running it, so this catches the class even before the Spark
    dump exists. Intermediate HUGEINTs (inside CTEs, folded into doubles)
    are fine and not flagged."""
    warns = 0
    for name, sql in sorted(oracles.items()):
        try:
            for col_name, col_type in [
                    (r[0], r[1]) for r in con.sql(f"DESCRIBE ({sql})").fetchall()]:
                if "HUGEINT" in col_type.upper():
                    print(f"[LINT] {name}: output column {col_name} is "
                          f"{col_type} -> CAST the aggregate to BIGINT")
                    warns += 1
        except Exception:
            pass  # a broken oracle fails loudly in the compare below
    return warns


def main():
    sf_dir, out_dir, only = sys.argv[1], sys.argv[2], sys.argv[3:]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_all = len(oracles)
    if only:
        oracles = {n: q for n, q in oracles.items() if any(o in n for o in only)}
    n_lint = lint_output_types(con, oracles)
    n_ok = n_fail = 0
    for name, sql in sorted(oracles.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"[MISS] {name}: no spark output")
            n_fail += 1
            continue
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        except Exception as e:
            print(f"[ERR ] {name}: read spark output: {e}")
            n_fail += 1
            continue
        try:
            duck_df = con.sql(sql).df()
        except Exception as e:
            print(f"[ERR ] {name}: duckdb: {str(e)[:300]}")
            n_fail += 1
            continue
        err = compare(name, spark_df, duck_df)
        if err:
            print(f"[FAIL] {name}: {err}")
            n_fail += 1
        else:
            print(f"[ ok ] {name}: {len(spark_df)} rows")
            n_ok += 1
    skipped = f", {n_all - len(oracles)} skipped" if only else ""
    print(f"== {n_ok} ok, {n_fail} fail{skipped}, {n_lint} lint warnings ==")
    sys.exit(1 if (n_fail or n_lint) else 0)


if __name__ == "__main__":
    main()
