"""The DuckDB oracle-parity gate (``make verify``): run every
registered query AND its DuckDB oracle at sf0.01, compare row count,
sorted-column schema, and an order-insensitive value hash.

With $PARITY_OUT set, a full run (no query names given) also writes
each query's fields (rows, schema, hash, err) to that path as JSON.

Usage: [PARITY_OUT=path] python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pandas as pd

from pg2kafka_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> int:
    # exact bit-pattern hashing, like the driver: no rounding slack
    return int(pd.util.hash_pandas_object(df, index=False).sum())


def main() -> None:
    from pg2kafka_spark.queries import ORACLES, QUERIES

    spark = get_spark("parity", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    from pg2kafka_spark.operators.dedup import release_sketch_caches

    failures = []
    results: dict[str, dict] = {}
    for name, fn in sorted(QUERIES.items()):
        if ONLY and name not in ONLY:
            continue
        release_sketch_caches()  # no storage accrual across the suite
        rec = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        results[name] = rec
        if name not in ORACLES:
            try:
                n = fn(spark, SF_DIR).count()
                rec["spark_rows"] = n
                rec["err"] = "no_oracle"
                print(f"{name:32s} rows-only   n={n}")
            except Exception as e:  # noqa: BLE001
                failures.append(name)
                rec["err"] = f"{type(e).__name__}: {str(e)[:300]}"
                print(f"{name:32s} ERROR {e}")
            continue
        try:
            sdf = canon(fn(spark, SF_DIR).toPandas())
            odf = canon(con.sql(ORACLES[name]).fetchdf())
            rows = len(sdf) == len(odf)
            schema = list(sdf.columns) == list(odf.columns)
            dtypes_differ = rows and schema and not all(
                sdf[c].dtype == odf[c].dtype for c in sdf.columns
            )
            # Hash WITHOUT dtype coercion: the driver hashes exact bit
            # patterns, so an int64-vs-float64 divergence with equal
            # values IS a driver failure (r6 `bloom_semijoin_prune`
            # lesson — the old coercion here masked it locally).
            hmatch = rows and schema and value_hash(sdf) == value_hash(odf)
            rec.update(
                rows_match=rows, schema_match=schema, hash_match=hmatch,
                spark_rows=len(sdf), oracle_rows=len(odf),
            )
            if dtypes_differ:
                rec["dtype_mismatch"] = {
                    c: f"{sdf[c].dtype}!={odf[c].dtype}"
                    for c in sdf.columns
                    if sdf[c].dtype != odf[c].dtype
                }
            flag = "OK " if (rows and schema and hmatch) else "FAIL"
            note = " (DTYPE MISMATCH)" if dtypes_differ else ""
            if flag == "FAIL":
                failures.append(name)
            print(
                f"{name:32s} {flag} rows={len(sdf)}/{len(odf)} schema={schema} hash={hmatch}{note}"
            )
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            rec["err"] = f"{type(e).__name__}: {str(e)[:300]}"
            print(f"{name:32s} ERROR {type(e).__name__}: {str(e)[:200]}")
    print("FAILURES:", failures or "none")
    out_path = os.environ.get("PARITY_OUT")
    if out_path and not ONLY:  # partial runs would overwrite full evidence
        with open(out_path, "w") as fh:
            json.dump(results, fh, indent=2)
        print(f"wrote {out_path} ({len(results)} queries)")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
