"""Cross-increment DISTRIBUTION-drift detection: a persisted
per-group quantile ledger (round 6).

Completes the increment-ledger family (manifest.KeyLedger = exact
uniqueness, incremental_neardup.MinHashLedger = near-dups): each
accepted increment records its per-group quantile snapshot — a few
doubles per group, rows never persisted — and increment N+1's
distribution is checked against a chosen baseline (the FIRST
snapshot: "has the pipeline drifted since launch", or the LATEST:
"did this increment jump") without re-reading any prior data.

The compare is stats.quantile_shift — the exact algebra of
decile_drift (normalized max decile shift), so with exact quantiles
the whole check remains bit-replicable in SQL (quantile_cont ⇔
percentile) and the driver hash-checks it end-to-end
(__spark_entry__.q_drift_ledger).  At 10^12 rows pass
``approx=True``-style sketches by recording tdigest.quantile_sketch
outputs instead — the ledger schema doesn't change.  Storage and
crash ordering follow ``ledger.py``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import stats
from ..ledger import SnapshotLedger


@dataclass
class QuantileLedger(SnapshotLedger):
    """Per-(table, column) quantile snapshots: (``__seq`` long, group
    cols…, p10..p90 double)."""

    def baseline(
        self,
        spark: SparkSession,
        table: str,
        column: str,
        mode: str = "first",
    ) -> Optional[DataFrame]:
        """The snapshot to drift against: ``first`` (min __seq — drift
        since launch) or ``latest`` (max __seq — jump vs the previous
        increment).  Snapshots are tiny (one row per group), so the
        min/max scan is negligible and the result broadcasts."""
        snap = self._read(spark, table, column)
        if snap is None:
            return None
        agg = F.min("__seq") if mode == "first" else F.max("__seq")
        pick = snap.agg(agg.alias("s"))
        return (
            snap.join(F.broadcast(pick), snap["__seq"] == pick["s"])
            .drop("__seq", "s")
        )


def cross_increment_drift(
    df: DataFrame,
    ledger: QuantileLedger,
    table: str,
    column: str,
    group_by: Sequence[str] = (),
    threshold: float = 0.1,
    probs: Sequence[float] = stats.DECILES,
    baseline_mode: str = "first",
    update: bool = True,
) -> DataFrame:
    """(group_by…, shift, drifted) of this increment vs the ledger's
    baseline snapshot; empty when no baseline exists yet (the first
    increment).  ``update=True`` then records this increment's
    snapshot.  One grouped aggregation over the increment + one
    broadcast join on per-group quantile rows — prior increments'
    rows are never touched."""
    spark = df.sparkSession
    qc = stats.exact_quantiles(df, list(group_by), column, probs)
    qb = ledger.baseline(spark, table, column, baseline_mode)
    if qb is None:
        out = spark.createDataFrame(
            [],
            ", ".join(
                [f"{g} string" for g in group_by]
                + ["shift double", "drifted boolean"]
            ),
        )
    else:
        out = stats.quantile_shift(
            qc, qb, list(group_by), probs, threshold
        )
        if update:
            # materialize BEFORE the snapshot appends; the cache then
            # belongs to the CALLER (release contract, r08: unpersist
            # once consumed).  Probe-only calls return an unpersisted
            # frame — the baseline plan is pinned to the pre-append
            # file list, so recompute stays safe either way.
            out = out.persist()
            out.count()
    if update:
        ledger.record(
            qc, table, column, ledger.next_seq(spark, table, column)
        )
    return out


def record_snapshot(
    df: DataFrame,
    ledger: QuantileLedger,
    table: str,
    column: str,
    group_by: Sequence[str] = (),
    probs: Sequence[float] = stats.DECILES,
) -> None:
    """Record an increment's quantile snapshot without drifting —
    for callers sequencing ledger appends after other commits (see
    incremental_neardup.record_sketches)."""
    qc = stats.exact_quantiles(df, list(group_by), column, probs)
    ledger.record(
        qc, table, column, ledger.next_seq(df.sparkSession, table, column)
    )
