#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs graft.Verify at a given SF dir, then executes each oracle SQL in
DuckDB over the same parquet tables and compares: schema (column names,
sorted), row count, and values (exact for ints/strings, near-exact for
floats). Reports per-query PASS/FAIL. Run while iterating so the driver's
CORRECTNESS_r{N}.json holds no surprises.

Usage: python3 local_verify.py [sf_dir] [out_dir] [--skip-spark]

With SPARK_GRAFT_ONLY=q_a,q_b set, Verify runs only the named faces and
only those are compared.
"""
import json
import math
import os
import subprocess
import sys

import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_spark():
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
        capture_output=True, text=True, cwd="/root/repo")
    if r.returncode != 0:
        print(r.stdout[-3000:])
        print(r.stderr[-3000:])
        sys.exit(1)
    # surface per-query failures printed by Verify
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)


def norm(v):
    if hasattr(v, "tolist") and not hasattr(v, "ndim") or (
            hasattr(v, "ndim") and getattr(v, "ndim", 0) > 0):
        v = list(v.tolist() if hasattr(v, "tolist") else v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if hasattr(v, "item"):
        return norm(v.item())
    return v


def compare(name, sql, con):
    try:
        spark_df = con.execute(
            f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')").fetchdf()
    except Exception as e:
        return f"FAIL {name}: no spark output ({e})"
    try:
        oracle_df = con.execute(sql).fetchdf()
    except Exception as e:
        return f"FAIL {name}: oracle sql error: {e}"
    sc = sorted(spark_df.columns)
    oc = sorted(oracle_df.columns)
    if sc != oc:
        return f"FAIL {name}: schema {sc} vs {oc}"
    spark_df = spark_df[sc]
    oracle_df = oracle_df[oc]
    # The driver's comparator sorts rows before hashing; replicate so a
    # crash there (e.g. unhashable ndarray cells) is caught locally.
    try:
        spark_df = spark_df.sort_values(by=sc, kind="mergesort")
        oracle_df = oracle_df.sort_values(by=oc, kind="mergesort")
    except Exception as e:
        return f"FAIL {name}: driver-style sort crashes: {type(e).__name__}: {e}"
    # The driver hashes values including their representation; a dtype
    # KIND divergence (e.g. DuckDB HUGEINT -> float64 vs Spark int64,
    # so 5.0 vs 5) fails its hash even when values are equal. Width-only
    # differences (int32 vs int64) hash identically (verified r01).
    sdt = [t.kind for t in spark_df.dtypes]
    odt = [t.kind for t in oracle_df.dtypes]
    if sdt != odt:
        return (f"FAIL {name}: dtype kinds differ: "
                f"spark={dict(zip(sc, map(str, spark_df.dtypes)))} "
                f"oracle={dict(zip(oc, map(str, oracle_df.dtypes)))}")
    if len(spark_df) != len(oracle_df):
        return f"FAIL {name}: rows {len(spark_df)} vs {len(oracle_df)}"
    srows = [tuple(norm(v) for v in row) for row in spark_df.itertuples(index=False)]
    orows = [tuple(norm(v) for v in row) for row in oracle_df.itertuples(index=False)]
    mism = sum(1 for a, b in zip(srows, orows) if a != b)
    if mism:
        for a, b in zip(srows, orows):
            if a != b:
                return (f"FAIL {name}: {mism}/{len(srows)} rows differ; "
                        f"first: spark={a} oracle={b}")
    return f"PASS {name} ({len(srows)} rows)"


def fresh_con():
    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{SF}/{tbl}.parquet')")
    return con


def main():
    if "--skip-spark" not in sys.argv:
        run_spark()
    oracles = json.load(open(f"{OUT}/oracle_sql.json"))
    # SPARK_GRAFT_ONLY=q_a,q_b: Verify wrote only those faces, so only
    # they are compared (the others would all report "no spark output")
    only = set(filter(None, (x.strip() for x in
        os.environ.get("SPARK_GRAFT_ONLY", "").split(","))))
    if only:
        oracles = {n: q for n, q in oracles.items() if n in only}
    # GRAFT_VERIFY_SKIP=q_a,q_b excludes oracles (the bespoke-math
    # restatements exhaust memory at sf0.1; they stay gated at sf0.01)
    skip = set(filter(None,
        os.environ.get("GRAFT_VERIFY_SKIP", "").split(",")))
    if skip:
        print(f"(skipping {len(skip & set(oracles))} oracles by env)")
    fails = 0
    ran = 0
    for name, sql in sorted(oracles.items()):
        if name in skip:
            continue
        # fresh connection per oracle: the bespoke-math oracles
        # (embed-docs, multimodal) are memory-heavy at sf0.1 and a
        # shared connection poisons later queries with OOM
        con = fresh_con()
        res = compare(name, sql, con)
        con.close()
        print(res)
        ran += 1
        fails += res.startswith("FAIL")
    print(f"== {ran - fails}/{ran} queries match")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
