"""Local replica of the driver's correctness gate: run each
__spark_entry__ query on Spark at sf0.01 AND its oracle_sql on DuckDB,
compare row count, schema width, and order-insensitive values
(columns sorted by name, rows sorted)."""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None):
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        t1 = time.time()
        if name not in oracles:
            print(f"  {name:>22}: rows={len(sdf)} (no oracle, rows-only) [{t1-t0:.1f}s]")
            continue
        odf = con.sql(oracles[name]).df()
        a, b = normalize(sdf), normalize(odf)
        ok_count = len(a) == len(b)
        ok_cols = list(a.columns) == list(b.columns)
        ok_vals = ok_count and ok_cols and a.astype(str).equals(b.astype(str))
        status = "OK " if (ok_count and ok_cols and ok_vals) else "FAIL"
        print(
            f"  {name:>22}: {status} spark={len(sdf)} duck={len(odf)} "
            f"cols={'ok' if ok_cols else f'{list(a.columns)} vs {list(b.columns)}'} "
            f"vals={'ok' if ok_vals else 'MISMATCH'} [{t1-t0:.1f}s]"
        )
        if not ok_vals and ok_count and ok_cols:
            diff = (a.astype(str) != b.astype(str)).any(axis=1)
            print("    first diffs (spark | duck):")
            print(pd.concat([a[diff].head(3), b[diff].head(3)], axis=1).to_string())
            failures += 1
        elif not (ok_count and ok_cols):
            if not ok_count:
                sa = set(map(tuple, a.astype(str).values))
                sb = set(map(tuple, b.astype(str).values))
                print("    spark-only:", list(sa - sb)[:3])
                print("    duck-only:", list(sb - sa)[:3])
            failures += 1
    print("FAILURES:", failures)
    return failures


if __name__ == "__main__":
    only = sys.argv[1].split(",") if len(sys.argv) > 1 else None
    sys.exit(1 if main(only=only) else 0)
