"""Shared pieces of the benchmark: the pinned Spark session, the
correctness gate that ends every pass, and driver memory readings.

The gate hashes violation tuples with the first 32 bits of an MD5 over
the columns joined by U+001F (NULL written as U+0000) and sums the
hashes, so the result does not depend on row order.  Generators compute
the same sum in plain Python over the violations they planted.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter
from typing import Iterable, Optional, Sequence, Tuple

SEP = "\x1f"
NULL = "\x00"
# json_documents ran out of heap at 1g (its plans are large); its
# driver's resident peak was about 2.6 GiB at 2g
DRIVER_MEMORY = "2g"
KEY_COLS = ("constraint_id", "reason", "row_id")
ALL_COLS = ("constraint_id", "reason", "row_id", "observed_value", "path")


def tuple_hash(values: Sequence[Optional[str]]) -> int:
    s = SEP.join(NULL if v is None else v for v in values)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def expectation(tuples: Iterable[Tuple[str, str, str]]) -> dict:
    """Expected gate result for a multiset of (constraint_id, reason,
    row_id) tuples, plus per-constraint counts for diagnosis."""
    tuples = list(tuples)
    return {
        "count": len(tuples),
        "hash": sum(tuple_hash(t) for t in tuples),
        "by_constraint": dict(Counter(t[0] for t in tuples)),
        "tuples": tuples,
    }


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(work: str, cores: int) -> dict:
    """Every Spark setting the benchmark pins.  Local dirs, warehouse
    and JVM temp files live under ``work`` so a run leaves nothing in
    the checkout's tracked tree (JVM temp files follow
    ``JAVA_TOOL_OPTIONS``, set by ``run._env``)."""
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        # pinned so the broadcast/shuffle choice for each FK dim does
        # not move with Spark's default
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024),
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.files.openCostInBytes": "1m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def start_session(conf: dict):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def gate(df):
    """The one action that ends a pass: row count plus two
    order-independent hashes, one over the key columns (compared with
    the planted expectation) and one over all five columns (so no column
    can be pruned, and compared across passes for determinism).
    Returns ``((count, key_hash, full_hash), executed_plan)``."""
    from pyspark.sql import functions as F

    def h(cols):
        joined = F.concat_ws(
            SEP, *[F.coalesce(F.col(c), F.lit(NULL)) for c in cols]
        )
        return F.conv(F.substring(F.md5(joined), 1, 8), 16, 10).cast("long")

    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h(KEY_COLS)), F.lit(0)).alias("hk"),
        F.coalesce(F.sum(h(ALL_COLS)), F.lit(0)).alias("hf"),
    )
    row = agg.collect()[0]
    return (int(row.n), int(row.hk), int(row.hf)), agg._jdf.queryExecution()


def _jvm_pools(spark) -> list:
    """The JVM's memory pools the driver figure counts: every non-heap
    pool (metaspace, code cache, class space) and the old generation.
    The young generation is left out: G1 sizes it anew in every run
    (its peak swung between 390 and 640 MiB across identical runs), so
    its peak reports GC sizing rather than what the program holds."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    out = []
    for i in range(pools.size()):
        p = pools.get(i)
        if p.getType().name() == "NON_HEAP" or "Old Gen" in p.getName():
            out.append(p)
    return out


def reset_peak_memory(spark) -> None:
    """Restart the peaks, so they cover only what follows, not the
    benchmark's own input generation: the Python process's VmHWM
    (Linux ``clear_refs`` value 5) and the JVM pools' peak usage."""
    try:
        with open(f"/proc/{os.getpid()}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass
    for p in _jvm_pools(spark):
        p.resetPeakUsage()


def peak_memory_mb(spark) -> float:
    """Peak driver memory in MiB: the driver's Python process's
    resident peak (VmHWM) plus the peak usage of the JVM pools
    ``_jvm_pools`` counts, each pool's peak taken on its own."""
    total = 0
    with open(f"/proc/{os.getpid()}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                total += int(line.split()[1]) * 1024
    for p in _jvm_pools(spark):
        total += p.getPeakUsage().getUsed()
    return total / 2**20


def union_all(frames):
    """unionByName over a non-empty iterable of violation frames."""
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), frames)


def dir_stats(path: str) -> Tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files
