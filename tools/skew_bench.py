"""Skewed-key dedup strategy bench: one key holds `skew` of all rows
(the north-star's low-cardinality phash scenario).  Compares the
'window' strategy (per-key sort → the hot key serializes in ONE task)
against the skew-proof 'agg' strategy (two hash aggregations with
map-side partial combine — bounded state at any skew).

Run: python3 tools/skew_bench.py [--rows 5000000] [--skew 0.2]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from python_extended_json_schema_validator_spark import KeySpec, TableSpec
from python_extended_json_schema_validator_spark.checks import uniqueness


def element_battery_skew(spark, n_docs: int, hot_len: int) -> dict:
    """Round-5 item 7: does the per-element forall battery straggle
    when ONE document carries a pathologically long array (hot_len
    elements) among n_docs normal 8-element docs?  The battery is
    map-only (no shuffle), so the hot row only lengthens its own
    task by the per-element work — measured as the wall ratio of the
    skewed run over the uniform run, target ≤ 2×."""
    from python_extended_json_schema_validator_spark.checks import row_checks
    from python_extended_json_schema_validator_spark.spec import ColumnCheck

    def docs(with_hot: bool):
        n_el = (
            F.when(F.col("id") == 0, F.lit(hot_len)).otherwise(F.lit(8))
            if with_hot
            else F.lit(8)
        )
        # element-literal array column, exactly the shredder's shape
        arr = F.transform(
            F.sequence(F.lit(1), n_el),
            lambda i: ((F.col("id") + i) % 1000).cast("string"),
        )
        return spark.range(0, n_docs, 1, 32).select(
            F.col("id").cast("string").alias("__file"),
            arr.alias("vals[]"),
        )

    checks = [
        ColumnCheck(
            column="vals[]",
            element_checks=(("minimum", 0), ("maximum", 998)),
            element_combinators=(
                ("anyOf", ((("maximum", 500),), (("multipleOf", 3),))),
            ),
        )
    ]
    battery = row_checks.compile_battery(checks, json_mode=True)
    # warmup: codegen/JIT outside the timed region
    row_checks.row_violations(
        docs(False), F.col("__file"), battery
    ).count()
    out = {}
    for label, with_hot in (("uniform", False), ("skewed", True)):
        df = docs(with_hot).persist()
        df.count()
        t0 = time.time()
        n = row_checks.row_violations(df, F.col("__file"), battery).count()
        out[f"{label}_sec"] = round(time.time() - t0, 2)
        out[f"{label}_violations"] = n
        df.unpersist()
    out["ratio"] = round(out["skewed_sec"] / out["uniform_sec"], 2)
    out["n_docs"] = n_docs
    out["hot_len"] = hot_len
    out["target_ratio"] = 2.0
    out["pass"] = out["ratio"] <= 2.0
    return out


def quota_skew(spark, n_docs: int, hot_frac: float, quota: int) -> dict:
    """r08 (round-7 verdict skew item): the bounded per-group quota —
    salted partial top-n before the exact window — vs the plain
    single-window form, on a corpus where ONE language holds
    ``hot_frac`` of all documents (the English-at-10^12-rows shape).
    Output equality is asserted (same kept multiset)."""
    from pyspark.sql.window import Window

    from python_extended_json_schema_validator_spark.pipeline import sampling

    docs = (
        spark.range(0, n_docs, 1, 64)
        .select(
            F.col("id").alias("doc_id"),
            F.when(
                (F.col("id") % 100) < int(hot_frac * 100), F.lit("en")
            )
            .otherwise(
                F.concat(F.lit("l"), (F.col("id") % 29).cast("string"))
            )
            .alias("lang"),
            (F.xxhash64("id") % 100000).alias("n_chars"),
        )
        .persist()
    )
    docs.count()

    def plain():
        w = Window.partitionBy("lang").orderBy(
            F.col("n_chars").desc(), F.col("doc_id").asc()
        )
        return (
            docs.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= quota)
            .drop("__rn")
        )

    timings, sums = {}, {}
    for name, fn in (
        ("plain_window", plain),
        ("bounded", lambda: sampling.top_n_per_group(
            docs, ["lang"], "n_chars", quota, tiebreak="doc_id")),
    ):
        fn().count()  # warm
        t0 = time.time()
        out = fn()
        sums[name] = out.agg(
            F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("s")
        ).first()
        timings[name] = round(time.time() - t0, 2)
    assert tuple(sums["plain_window"]) == tuple(sums["bounded"]), sums
    docs.unpersist()
    return {
        "docs": n_docs,
        "hot_frac": hot_frac,
        "quota": quota,
        "kept_rows": sums["bounded"]["n"],
        "plain_window_sec": timings["plain_window"],
        "bounded_sec": timings["bounded"],
        "ratio": round(timings["plain_window"] / timings["bounded"], 2),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=5_000_000)
    ap.add_argument("--skew", type=float, default=0.2)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--element", action="store_true",
                    help="run the per-element battery hot-array case "
                    "instead of the dedup-strategy comparison")
    ap.add_argument("--quota", action="store_true",
                    help="run the skewed per-language quota case "
                    "(bounded salted top-n vs plain window)")
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--hot-frac", type=float, default=0.9)
    ap.add_argument("--quota-n", type=int, default=1000)
    ap.add_argument("--hot-len", type=int, default=100_000)
    args = ap.parse_args()

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus * 4))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.element:
        out = element_battery_skew(spark, args.docs, args.hot_len)
        out["metric"] = "per-element battery hot-array straggler ratio"
        out["cpus"] = args.cpus
        print(json.dumps(out))
        return

    if args.quota:
        out = quota_skew(spark, args.docs, args.hot_frac, args.quota_n)
        out["metric"] = "skewed per-language quota wall time"
        out["cpus"] = args.cpus
        print(json.dumps(out))
        return

    # one hot key = `skew` of rows, the rest spread over 1M keys
    df = (
        spark.range(0, args.rows, 1, args.cpus * 4)
        .select(
            F.col("id").cast("string").alias("rid"),
            F.when(
                (F.col("id") % 100) < int(args.skew * 100), F.lit("HOTKEY")
            )
            .otherwise((F.col("id") % 1_000_000).cast("string"))
            .alias("k"),
        )
        .persist()
    )
    df.count()  # materialize input out of the timed region

    spec = TableSpec(name="t", row_id="rid", unique=[KeySpec(("k",))])
    ks = spec.unique[0]

    timings = {}
    counts = {}
    for strat in ("window", "agg"):
        t0 = time.time()
        out = uniqueness.dup_violations(df, spec, ks, "dup_unique", "unique",
                                        strategy=strat)
        counts[strat] = out.count()
        timings[strat] = round(time.time() - t0, 2)

    assert counts["window"] == counts["agg"], counts
    print(
        json.dumps(
            {
                "metric": "skewed dedup wall time",
                "rows": args.rows,
                "skew": args.skew,
                "cpus": args.cpus,
                "violations": counts["agg"],
                "window_sec": timings["window"],
                "agg_sec": timings["agg"],
                "speedup": round(timings["window"] / timings["agg"], 2),
            }
        )
    )


if __name__ == "__main__":
    main()
