#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/local_verify.py <sfDir> <outDir> [--skip-spark]

1. Runs graft.Verify (sbt runMain) to dump each SparkEntry query to
   <outDir>/<name>/ parquet + oracle_sql.json.
2. Creates DuckDB views for every parquet table in <sfDir>, runs each
   oracle SQL, and compares to the Spark result: column names/dtypes,
   row count, and value equality (sorted by all columns; doubles with
   tolerance + exact hash both reported).
"""
import json
import math
import subprocess
import sys
from pathlib import Path

import duckdb
import pandas as pd

# the checkout this script lives in (tools/..), so a copy verifies itself
REPO_ROOT = Path(__file__).resolve().parent.parent


def run_spark(sf_dir: str, out_dir: str) -> None:
    cmd = ["sbt", "-batch", f'runMain graft.Verify {sf_dir} {out_dir}']
    r = subprocess.run(cmd, cwd=REPO_ROOT, capture_output=True, text=True, timeout=1800)
    tail = (r.stdout + r.stderr)[-4000:]
    if r.returncode != 0:
        print(tail)
        sys.exit(f"Verify failed rc={r.returncode}")
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)


def norm_df(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize temporal columns to ns for comparison
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns), ignore_index=True, kind="mergesort")


def values_equal(a, b) -> bool:
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
            return True
        return False
    return a == b


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame):
    problems = []
    s, o = norm_df(spark_df), norm_df(oracle_df)
    if list(s.columns) != list(o.columns):
        problems.append(f"columns spark={list(s.columns)} oracle={list(o.columns)}")
        return problems
    for c in s.columns:
        if str(s[c].dtype) != str(o[c].dtype):
            problems.append(f"dtype[{c}] spark={s[c].dtype} oracle={o[c].dtype}")
    if len(s) != len(o):
        problems.append(f"rows spark={len(s)} oracle={len(o)}")
        return problems
    # exact compare first (fast path)
    try:
        if s.equals(o):
            return problems
    except Exception:
        pass
    n_bad = 0
    first = None
    for c in s.columns:
        sv, ov = s[c].values, o[c].values
        for i in range(len(sv)):
            if not values_equal(sv[i], ov[i]):
                n_bad += 1
                if first is None:
                    first = f"col={c} row={i} spark={sv[i]!r} oracle={ov[i]!r}"
                break  # one per column is enough detail
    if n_bad:
        problems.append(f"value mismatch in {n_bad} column(s); first: {first}")
    return problems


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    if "--skip-spark" not in sys.argv:
        run_spark(sf_dir, out_dir)
    con = duckdb.connect()
    for p in Path(sf_dir).glob("*.parquet"):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    results = {}
    for name in sorted(oracle):
        d = Path(out_dir, name)
        if not d.exists():
            results[name] = ["NO SPARK OUTPUT"]
            continue
        spark_df = pd.read_parquet(d)
        try:
            oracle_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            results[name] = [f"oracle SQL error: {e}"]
            continue
        results[name] = compare(name, spark_df, oracle_df)
    n_ok = sum(1 for v in results.values() if not v)
    for name, probs in results.items():
        print(f"{'OK  ' if not probs else 'FAIL'} {name}" + ("" if not probs else f"  :: {probs}"))
    # queries with no oracle
    spark_only = [d.name for d in Path(out_dir).iterdir()
                  if d.is_dir() and d.name not in oracle]
    for name in sorted(spark_only):
        print(f"ROWS {name} (no oracle)")
    print(f"\n{n_ok}/{len(results)} oracle queries match")
    sys.exit(0 if n_ok == len(results) else 1)


if __name__ == "__main__":
    main()
