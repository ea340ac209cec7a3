#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle compare (SURVEY.md §5 layer 1).

Usage: python3 tools/parity.py <verifyOutDir> <sfDir>

Exits 1 when any oracled key fails its compare or has no output.

Reads each <outDir>/<name>/ parquet (written by `graft.Verify`) with
**pandas** (like the driver), runs the matching SQL from
<outDir>/oracle_sql.json in DuckDB and materializes it with **.df()**
(like the driver: DECIMAL/HUGEINT become float64), sorts columns by name,
stringifies every column with pandas .astype(str), and compares row-lists.

This reproduces the driver's round-1 hash verdicts 101/101 (validated
2026-08-12 against CORRECTNESS_r01.json): a Spark DECIMAL output column
(pandas object of Decimal, str '123.40') hash-mismatches the oracle's
DECIMAL (duckdb .df() float64, str '123.4') whenever any value has a
trailing zero — hence the round-2 rule: FINAL OUTPUT COLUMNS MUST NEVER
BE DECIMAL; cast to DOUBLE (or BIGINT) on both sides. Oracle integer SUMs
must be CAST(... AS BIGINT) (duckdb SUM(int)->HUGEINT->float64 '123.0').
"""
import sys, os, json
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    """Driver-mimic canonical form: sort columns by name, sort rows by
    value (the driver does sort_values — this is the step that raises
    TypeError on array columns; keep it so nested-type outputs fail HERE
    and not in the real gate), stringify."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns))
    cols = [df[c].astype(str).tolist() for c in df.columns]
    return [tuple(col[i] for col in cols) for i in range(len(df))]


def main(out_dir, sf_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_ok = n_fail = n_noracle = 0
    for name in names:
        if name not in oracle:
            print(f"  [no-oracle] {name} (rows-only check)")
            n_noracle += 1
            continue
        try:
            got_df = pd.read_parquet(os.path.join(out_dir, name))
            exp_df = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: exec error: {e}")
            n_fail += 1
            continue

        if sorted(got_df.columns) != sorted(exp_df.columns):
            print(f"FAIL  {name}: columns {sorted(got_df.columns)} != "
                  f"{sorted(exp_df.columns)}")
            n_fail += 1
            continue
        if len(got_df) != len(exp_df):
            print(f"FAIL  {name}: rowcount {len(got_df)} != {len(exp_df)}")
            n_fail += 1
            continue
        got, exp = canon(got_df), canon(exp_df)
        bad = next((i for i, (g, e) in enumerate(zip(got, exp)) if g != e),
                   None)
        if bad is not None:
            gtypes = [str(got_df[c].dtype) for c in sorted(got_df.columns)]
            etypes = [str(exp_df[c].dtype) for c in sorted(exp_df.columns)]
            print(f"FAIL  {name}: row {bad} differs (cols {sorted(got_df.columns)})\n"
                  f"      got: {got[bad]}  (dtypes {gtypes})\n"
                  f"      exp: {exp[bad]}  (dtypes {etypes})")
            n_fail += 1
        else:
            n_ok += 1
            print(f"ok    {name} ({len(got)} rows)")
    # an oracled key with no output dir is a Verify run that threw (Verify
    # logs the error and moves on): it fails the gate like a mismatch
    missing = sorted(k for k in oracle if k not in names)
    for name in missing:
        print(f"MISSING {name}: no output")
    print(f"\n{n_ok} ok, {n_fail} fail, {n_noracle} no-oracle, "
          f"{len(missing)} missing-output")
    sys.exit(1 if n_fail or missing else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
