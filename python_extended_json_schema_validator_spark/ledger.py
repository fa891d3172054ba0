"""The append-only parquet ledger: the one storage primitive behind
every store that persists state across increments — the partition
manifest, the key / quota / MinHash / phash / audio / video /
embedding ledgers and the quantile / HLL snapshot ledgers.  Each
store keeps only its schema and its probe; the contract below is
stated here once for all of them.

Layout: a store is a tree of parquet directories; writing is an
append of new part files (a failed write job aborts its output
committer, so no part file of it becomes visible).  Compaction is the
one rewrite, and only ``KeyLedger.compact`` may do it.

SnapshotFS seam: the only operation resume correctness needs is a
point-in-time LIST of a directory's data files.  Every read pins that
explicit file list — a directory-path parquet relation re-lists on
re-execution, so a plan built before an append could otherwise see
the append's own files on recomputation and make an increment collide
with itself.  POSIX gets ``os.listdir``; a cluster lists through the
Hadoop FileSystem API (or reads an Iceberg snapshot's file list).  The
package needs no Iceberg runtime: each store is a parquet directory
with the semantics of an Iceberg snapshot-append; in production swap
``read_pinned``/``append`` for ``.writeTo(...).append()`` and the
stores are unchanged.

Crash ordering: verdicts that read a ledger materialize BEFORE the
increment's own rows are appended, and ``manifest.run_resumable``
appends to every ledger only AFTER the manifest marks the partitions
complete.  A crash between the two loses that increment's ledger rows
— bounded false negatives for later increments — and can never make a
re-run collide with itself (the reverse order would: mass false
positives).  On Iceberg both appends are one transaction.

Parameter pinning: ledgers whose recorded keys depend on constructor
parameters (band counts, hamming budgets, hyperplanes) persist them to
a one-row parquet ``meta`` file on first record — the seam is
list-only, so meta rides the same transport — and every later open
validates them, failing loudly instead of silently miss-joining.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field
from typing import List, Optional, Protocol, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SnapshotFS(Protocol):
    """Point-in-time listing of a directory's data files: appends
    that land after the call are invisible to plans pinned on the
    returned list."""

    def list_files(self, path: str, suffix: str = ".parquet") -> List[str]: ...


class LocalFS:
    """POSIX listing (the default)."""

    def list_files(self, path: str, suffix: str = ".parquet") -> List[str]:
        if not os.path.exists(path):
            return []
        return sorted(
            f"{path}/{f}" for f in os.listdir(path) if f.endswith(suffix)
        )


class HadoopFS:
    """Hadoop FileSystem listing through the running JVM — works for
    hdfs://, s3a://, gs:// etc. with no extra Python deps (the
    SparkContext already holds the configured Hadoop conf)."""

    def __init__(self, spark: SparkSession):
        self._jvm = spark.sparkContext._jvm
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()

    def list_files(self, path: str, suffix: str = ".parquet") -> List[str]:
        Path = self._jvm.org.apache.hadoop.fs.Path
        p = Path(path)
        fs = p.getFileSystem(self._conf)
        if not fs.exists(p):
            return []
        out = []
        for st in fs.listStatus(p):
            name = st.getPath().toString()
            if name.endswith(suffix):
                out.append(name)
        return sorted(out)


def read_pinned(
    spark: SparkSession, fs: SnapshotFS, path: str,
    schema: Optional[str] = None,
) -> Optional[DataFrame]:
    """The directory's parquet files as listed NOW, or None when it
    holds none.  Pass ``schema`` wherever it is known: a schemaless
    read pays a footer-inference job."""
    files = fs.list_files(path)
    if not files:
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*files)


def append(df: DataFrame, path: str) -> None:
    df.write.mode("append").parquet(path)


def next_seq(
    spark: SparkSession, fs: SnapshotFS, path: str,
    col: str = "__seq", schema: Optional[str] = None,
) -> int:
    """max(``col``) + 1 over the directory, 1 when it is empty.  The
    coalesce matters: a directory holding only zero-row part files (an
    empty increment was recorded) yields max = NULL, and None + 1
    would poison every later append."""
    prev = read_pinned(spark, fs, path, schema)
    if prev is None:
        return 1
    return prev.agg(F.coalesce(F.max(col), F.lit(0)).alias("m")).first().m + 1


_META_TYPES = {"seed": "int", "dim": "int", "bits": "int",
               "tables": "int", "num_hashes": "int", "bands": "int",
               "max_hamming": "int", "every_k": "int"}


def pin_params(
    store, spark: SparkSession, fields: Sequence[str], data_sub: str,
    meta_sub: str = "meta", create: bool = False,
) -> bool:
    """Parameter-pinning guard for ``store`` (any object with ``root``
    and ``fs``): True iff ``<root>/<meta_sub>`` exists and matches the
    instance's ``fields`` (cached on the instance — the fields are
    immutable, so one driver read per store object suffices); False
    iff the store is genuinely EMPTY (no meta AND no data under
    ``data_sub`` — first use), after writing the meta file when
    ``create``.  Raises on a parameter mismatch OR on a data-bearing
    root with no meta (a pre-pinning root must not be silently
    re-certified with whatever parameters the caller happens to pass
    — write the meta explicitly after verifying the original
    parameters, or use a new root)."""
    cache_attr = f"_meta_ok_{meta_sub}"
    if getattr(store, cache_attr, False):
        return True
    schema = ", ".join(f"{f} {_META_TYPES[f]}" for f in fields)
    mine = tuple(getattr(store, f) for f in fields)
    meta = read_pinned(spark, store.fs, f"{store.root}/{meta_sub}", schema)
    row = meta.first() if meta is not None else None
    if row is None:
        if store.fs.list_files(f"{store.root}/{data_sub}"):
            raise ValueError(
                f"{type(store).__name__} at {store.root!r} has "
                f"recorded data but no {meta_sub!r} parameter file "
                "(pre-pinning root): probing it with unverified "
                "parameters would silently miss-join. Verify the "
                "original parameters and write the meta file, or "
                "use a new root."
            )
        if create:
            append(
                spark.createDataFrame([mine], schema).coalesce(1),
                f"{store.root}/{meta_sub}",
            )
            setattr(store, cache_attr, True)
        return False
    theirs = tuple(getattr(row, f) for f in fields)
    if mine != theirs:
        named = ", ".join(fields)
        raise ValueError(
            f"{type(store).__name__} at {store.root!r} was created "
            f"with ({named})={theirs}; reopened with {mine} — "
            "sketches would silently miss-join. Use the original "
            "parameters or a new root."
        )
    setattr(store, cache_attr, True)
    return True


@dataclass
class SnapshotLedger:
    """Append-only per-(table, column) snapshots: (``__seq`` long,
    <the family's columns>) at ``<root>/<table>/<column>``, one
    sequence number per recorded increment."""

    root: str
    fs: SnapshotFS = field(default_factory=LocalFS)

    def _path(self, table: str, column: str) -> str:
        return f"{self.root}/{table}/{column}"

    def _read(
        self, spark: SparkSession, table: str, column: str
    ) -> Optional[DataFrame]:
        return read_pinned(spark, self.fs, self._path(table, column))

    def next_seq(self, spark: SparkSession, table: str, column: str) -> int:
        return next_seq(spark, self.fs, self._path(table, column))

    def record(
        self, snapshot: DataFrame, table: str, column: str, seq: int
    ) -> None:
        append(
            snapshot.select(F.lit(seq).cast("long").alias("__seq"), "*"),
            self._path(table, column),
        )


def _compact_posix(
    spark: SparkSession, fs: SnapshotFS, path: str, schema: str
) -> int:
    """Rewrite the distinct rows of ``path`` into ONE file and retire
    the fragments; returns the number retired.  The consolidated file
    becomes visible first and the fragments are removed after, so a
    crash in between leaves duplicate rows: only a reader that
    de-duplicates (``KeyLedger.dim``) may be compacted this way —
    ``KeyLedger.compact`` is its one caller."""
    files = fs.list_files(path)
    if len(files) <= 1:
        return 0
    tmp = f"{path}/__compact_tmp"  # subdir: invisible to list_files
    (
        spark.read.schema(schema).parquet(*files)
        .distinct()
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.rename(f"{tmp}/{part}", f"{path}/compacted-{uuid.uuid4().hex}.parquet")
    for f in files:
        os.remove(f)
    shutil.rmtree(tmp, ignore_errors=True)
    return len(files)
