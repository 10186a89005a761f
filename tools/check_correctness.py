"""Local replica of the driver's correctness gate.

For each queries() entry with an oracle_sql() twin: run the Spark query at
sf0.01, run the DuckDB SQL on the same parquet views, compare row count,
column-name set, and order-insensitive cell values (columns sorted by name,
rows sorted by all columns). Reports per-query PASS/FAIL with first diffs.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort") \
        .reset_index(drop=True)
    return df


EXACT = bool(int(__import__("os").environ.get("SPARK_GRAFT_EXACT", "0")))


def cells_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        # SPARK_GRAFT_EXACT=1: bit-exact compare — the driver's gate is a
        # hash over values, so a 1e-12 tolerance here can hide a tie flip
        return fa == fb or (not EXACT and abs(fa - fb) < 1e-12)
    return a == b or str(a) == str(b)


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    issues = []
    if len(spark_df) != len(duck_df):
        issues.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        issues.append(f"schema spark={sc} duck={dc}")
        return issues
    a, b = canon(spark_df), canon(duck_df)
    if len(a) == len(b):
        for col in a.columns:
            av, bv = a[col].tolist(), b[col].tolist()
            bad = [(i, x, y) for i, (x, y) in enumerate(zip(av, bv))
                   if not cells_equal(x, y)]
            if bad:
                i, x, y = bad[0]
                issues.append(
                    f"values col={col}: {len(bad)} diffs; first row{i}: "
                    f"spark={x!r} duck={y!r}")
    return issues


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from opensmile_spark import get_spark

    spark = get_spark("correctness", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    # dynamic replica oracles: gates whose SQL twin depends on a
    # runtime-trained-but-deterministic artifact (the pinned BPE merge
    # table). Built here, outside the driver window, per r4 verdict
    # task 2 — the encode side is pure DuckDB SQL.
    def _bpe_dynamic():
        from opensmile_spark.bpe import bpe_train

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        model = bpe_train(docs, n_merges=100, min_count=2)
        return entrymod.bpe_oracle_sql(model.merges)

    dynamic = {"bpe_tokens": _bpe_dynamic}

    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        if name in dynamic and name not in oracles:
            oracles = dict(oracles)
            oracles[name] = dynamic[name]()
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        issues = compare(name, sdf, ddf)
        if issues:
            print(f"FAIL {name}: " + " | ".join(issues[:4]))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(sdf)} rows, {len(sdf.columns)} cols")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
