#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir> [queryName ...]

Runs each oracle_sql.json query in DuckDB against the parquet tables in
sfDir (registered as views named by table), loads the Spark parquet output
from verifyOutDir/<name>/, canonicalizes both (columns sorted by name, rows
sorted by all columns), and compares exact values. Strict about it: a
mismatch here means the driver's hash compare would fail.

IMPORTANT for local iteration: Verify always dumps the FULL oracle map
even when run name-restricted, so a restricted Verify run MUST be graded
with the same names passed here — `check.py <sfDir> <outDir> q1 q2` —
otherwise every un-run oracle query FAILs with "no spark output". Names
that match neither an oracle entry nor an output directory are a FAIL
(a typo'd or renamed query must not be silently skipped).
"""
import json
import os
import sys
import time

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        # normalize datetimes to us; strip tz-awareness first (a tz-aware
        # column can't be cast to naive datetime64[us] directly and would
        # raise mid-gate) — UTC wall clock is the canonical form
        if str(df[c].dtype).startswith("datetime64"):
            s = pd.to_datetime(df[c])
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        if str(df[c].dtype) in ("int32", "int8", "int16", "uint32"):
            df[c] = df[c].astype("int64")
        if str(df[c].dtype) == "float32":
            df[c] = df[c].astype("float64")
    df = df.sort_values(by=list(df.columns), ignore_index=True,
                        na_position="first", kind="mergesort")
    return df


def compare(name, spark_df, oracle_df):
    problems = []
    sc, oc = set(spark_df.columns), set(oracle_df.columns)
    if sc != oc:
        return [f"columns differ: spark-only={sc-oc} oracle-only={oc-sc}"]
    if len(spark_df) != len(oracle_df):
        problems.append(f"row count: spark={len(spark_df)} oracle={len(oracle_df)}")
        return problems
    s, o = canon(spark_df), canon(oracle_df)
    for c in s.columns:
        a, b = s[c], o[c]
        # The driver's hash compare encodes the column dtype: a float64
        # oracle column (e.g. DuckDB HUGEINT through pandas) never hashes
        # equal to a Spark int64 column even when the values match. Mirror
        # that strictness: a float-vs-integer kind mismatch is a FAIL, not
        # something to paper over with a cast (canon() already applies the
        # value-preserving widenings int32->int64 / float32->float64 that
        # the driver tolerates).
        ak, bk = a.dtype.kind, b.dtype.kind
        if {ak, bk} <= {"i", "u", "f"} and ("f" in (ak, bk)) and ak != bk:
            problems.append(
                f"col {c}: dtype kind mismatch spark={spark_df[c].dtype} "
                f"oracle={oracle_df[c].dtype} — driver hash would differ "
                f"even on equal values (CAST the oracle, e.g. HUGEINT->"
                f"BIGINT)")
            continue
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a = a.astype("float64")
            b = b.astype("float64")
            neq = ~((a == b) | (a.isna() & b.isna()))
        else:
            try:
                neq = ~((a == b) | (a.isna() & b.isna()))
            except Exception:
                neq = a.astype(str) != b.astype(str)
        if neq.any():
            i = neq.idxmax()
            problems.append(
                f"col {c}: {int(neq.sum())}/{len(a)} mismatched, "
                f"first at row {i}: spark={a[i]!r} oracle={b[i]!r} "
                f"(dtypes {spark_df[c].dtype}/{oracle_df[c].dtype})")
    return problems


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    # optional query names restrict the grade (lakes.py verify passes a
    # profile's set; Verify always dumps the FULL oracle map, so without
    # this filter every un-run query would FAIL "no output")
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        # driver SFs ship one parquet FILE per table; generated SFs
        # (graft.GenSf, e.g. sf1) ship a directory of part files
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    if only:
        # a filter name without an oracle entry is a FAIL: a typo'd or
        # renamed oracle query must not be silently dropped from grading.
        # Output dirs deliberately do NOT widen the known set (ADVICE r14):
        # a stale dir left in a reused out_dir from a prior run would
        # otherwise let a renamed query pass the guard yet skip its grade,
        # and the sweep would still print all-green.
        for miss in sorted(only - set(oracles)):
            has_dir = os.path.isdir(os.path.join(out_dir, miss))
            hint = ("Spark output exists but no oracle entry — renamed "
                    "oracle query or stale output dir?" if has_dir
                    else "typo or renamed query?")
            print(f"FAIL {miss}: filter name matches no oracle entry "
                  f"({hint})")
            n_fail += 1
        oracles = {k: v for k, v in oracles.items() if k in only}
    for name in sorted(oracles):
        t0 = time.time()
        try:
            spark_df = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: no spark output ({e})")
            n_fail += 1
            continue
        try:
            oracle_df = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        problems = compare(name, spark_df, oracle_df)
        if problems:
            n_fail += 1
            print(f"FAIL {name}:")
            for p in problems:
                print(f"   {p}")
        else:
            n_pass += 1
            print(f"PASS {name} ({len(spark_df)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
