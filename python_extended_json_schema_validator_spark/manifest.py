"""Completed-partition manifest: resumable validation with
per-partition lineage + metrics (north rule: "resumable from a
checkpointed Iceberg manifest of completed partitions with
per-partition lineage and metrics"), plus the exact-key ledger.

Both are append-only ledgers (``ledger.py`` states the storage,
SnapshotFS and crash-ordering contract once for every store); the
manifest is idempotent via run_id + latest-wins read.

Resume shape: the pending-work filter is a LEFT ANTI join of the scan
against the (tiny, broadcast) completed-partition set — partition
pruning happens at the source when the table is partitioned by the
scope column, so completed partitions are never even read.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field
from functools import reduce
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import (  # noqa: F401 — the seam's historical import path
    HadoopFS,
    LocalFS,
    SnapshotFS,
    _compact_posix,
    append,
    next_seq,
    read_pinned,
)

MANIFEST_SCHEMA = (
    "partition string, run_id string, seq long, n_rows long, n_failed long, "
    "n_violations long, status string"
)


@dataclass
class PartitionManifest:
    path: str
    fs: SnapshotFS = field(default_factory=LocalFS)

    def read(self, spark: SparkSession) -> DataFrame:
        """Full lineage: every recorded (partition, run) attempt, read
        from the pinned file list (filter_pending → metrics → record
        reads this very directory in its lineage)."""
        m = read_pinned(spark, self.fs, self.path, MANIFEST_SCHEMA)
        return m if m is not None else spark.createDataFrame([], MANIFEST_SCHEMA)

    def completed(self, spark: SparkSession) -> DataFrame:
        """Latest-wins set of partitions whose latest record is 'ok'."""
        m = self.read(spark)
        latest = m.groupBy("partition").agg(F.max("seq").alias("seq"))
        return (
            m.join(latest, ["partition", "seq"])
            .where(F.col("status") == "ok")
            .select("partition")
        )

    def filter_pending(
        self, df: DataFrame, scope_col: str
    ) -> DataFrame:
        """Rows of partitions not yet completed — the resume filter."""
        done = self.completed(df.sparkSession)
        return df.join(
            F.broadcast(done),
            df[scope_col] == done["partition"],
            "left_anti",
        )

    def record(
        self,
        metrics: DataFrame,
        run_id: Optional[str] = None,
        status: str = "ok",
    ) -> str:
        """Append per-partition metrics (lineage row per partition per
        run).  metrics: (partition, n_rows, n_failed, n_violations).
        Returns the run_id."""
        rid = run_id or uuid.uuid4().hex[:12]
        seq = next_seq(
            metrics.sparkSession, self.fs, self.path, "seq", MANIFEST_SCHEMA
        )
        append(
            metrics.select(
                F.col("partition").cast("string"),
                F.lit(rid).alias("run_id"),
                F.lit(seq).cast("long").alias("seq"),
                F.col("n_rows").cast("long"),
                F.col("n_failed").cast("long"),
                F.col("n_violations").cast("long"),
                F.lit(status).alias("status"),
            ),
            self.path,
        )
        return rid


@dataclass
class KeyLedger:
    """Persistent canonical-key dimensions for CROSS-INCREMENT
    uniqueness: the Spark analogue of the reference's key worlds
    surviving across files within one run (index_check.py:79-80),
    extended across *runs* for resumable validation.

    Layout: one parquet dir per (table, key label) holding a single
    `__key string` column.  An increment's rows whose key already
    exists in the ledger are duplicates of PRIOR increments; the
    increment's own keys are then appended."""

    root: str
    fs: SnapshotFS = field(default_factory=LocalFS)

    def _path(self, table: str, label: str) -> str:
        safe = label.replace("/", "_").replace(",", "+")
        return f"{self.root}/{table}/{safe}"

    def dim(self, spark: SparkSession, table: str, label: str):
        keys = read_pinned(
            spark, self.fs, self._path(table, label), "__key string"
        )
        return keys.distinct() if keys is not None else None

    def record(self, keys_df: DataFrame, table: str, label: str) -> None:
        """Append this increment's distinct keys (caller must have
        already materialized any violations that read the ledger)."""
        append(keys_df.select("__key").distinct(), self._path(table, label))

    def compact(self, spark: SparkSession, table: str, label: str) -> int:
        """OFFLINE compaction of one (table, label) key dir: after
        ~10^4 increments the append-only layout is 10^4 small files
        and every ``dim()`` pays 10^4 footer reads — rewrite the
        current distinct key set into ONE file and retire the
        fragments.  Returns the number of fragments retired (0 = no
        work).

        Crash ordering (POSIX has no cross-file transaction): the
        consolidated file becomes VISIBLE first, the fragments are
        removed after — a crash in between leaves duplicates, which
        ``dim()``'s ``.distinct()`` makes harmless (rerun compaction
        to finish).  Never run concurrently with an increment: an
        append racing the fragment removal could be retired before
        any dim snapshot saw it.  On a real deployment this whole
        method is one Iceberg rewrite-files snapshot commit (the
        SnapshotFS seam) — the POSIX path is the local stand-in and
        refuses non-local filesystems."""
        if not isinstance(self.fs, LocalFS):
            raise NotImplementedError(
                "compact() is the POSIX stand-in for an Iceberg "
                "rewrite-files commit — wire your table format's "
                "compaction instead of the local-rename path."
            )
        return _compact_posix(
            spark, self.fs, self._path(table, label), "__key string"
        )


def cross_increment_dup_violations(
    df: DataFrame,
    spec,
    ledger: KeyLedger,
    update: bool = True,
) -> DataFrame:
    """Duplicate violations of this increment's rows against keys
    recorded by PRIOR increments, for every unique/pk declaration of
    ``spec``; then (optionally) records this increment's keys.

    IMPORTANT: the returned violations are persisted + materialized
    before the ledger is updated — otherwise the append would make the
    increment collide with itself."""
    from . import errors
    from .checks import row_checks, uniqueness

    spark = df.sparkSession
    compiled = row_checks.compile_battery(
        spec.checks, json_mode=spec.canonical_json,
        formats=spec.custom_formats,
    )
    survivors = df.where(row_checks.pass1_ok(compiled)) if compiled else df

    decls = [("unique", errors.DUP_UNIQUE, ks) for ks in spec.unique] + [
        ("pk", errors.DUP_PK, ks) for ks in spec.primary_keys
    ]
    frames = []
    keyed_by_label = {}
    for prefix, reason, ks in decls:
        keyed = uniqueness.keyed(survivors, spec, ks)
        keyed_by_label[(prefix, ks.label)] = keyed
        prior = ledger.dim(spark, spec.name, ks.label)
        if prior is None:
            continue
        frames.append(
            keyed.join(prior, "__key", "left_semi")
            .select(
                F.lit(f"{prefix}:{ks.label}").alias("constraint_id"),
                F.lit(reason).alias("reason"),
                F.col("__row_id").alias("row_id"),
                F.col("__observed").alias("observed_value"),
                F.lit("/" + ",".join(ks.members)).alias("path"),
            )
        )
    if frames:
        viol = reduce(lambda a, b: a.unionByName(b), frames).persist()
        viol.count()  # materialize BEFORE the ledger grows
    else:
        viol = spark.createDataFrame(
            [],
            "constraint_id string, reason string, row_id string, "
            "observed_value string, path string",
        )
    if update:
        for (prefix, label), keyed in keyed_by_label.items():
            ledger.record(keyed, spec.name, label)
    return viol


def partition_metrics(
    df: DataFrame,
    violations: DataFrame,
    row_id: str,
    scope_col: str,
) -> DataFrame:
    """Per-partition lineage metrics: row count, failed-row count,
    violation count — one aggregation over rows plus one over
    violations, joined on partition.

    Attribution rule: a violation is attributed to EVERY partition
    holding a row with that row_id — so a duplicate-PK violation
    implicates both partitions containing the colliding id, and
    sum(n_violations) can exceed count(violations) when ids repeat
    across partitions (they can't on a clean table).  TABLE-level
    verdicts (drift / cardinality screens emit row_id ``'(all)'``)
    have no row to join: they count toward ``n_violations`` of EVERY
    partition in ``df`` (the whole increment drifted) but never toward
    ``n_failed`` (no individual row failed) — so sum(n_violations)
    still reconciles with the violations frame the caller receives."""
    ids = df.select(
        F.col(row_id).cast("string").alias("row_id"),
        F.col(scope_col).cast("string").alias("partition"),
    )
    table_level = F.col("row_id") == "(all)"
    vio = violations.select("row_id").where(~table_level).join(ids, "row_id")
    per_row = (
        vio.groupBy("partition")
        .agg(
            F.countDistinct("row_id").alias("n_failed"),
            F.count(F.lit(1)).alias("n_violations"),
        )
    )
    base = ids.groupBy("partition").agg(F.count(F.lit(1)).alias("n_rows"))
    # table-level verdict count: one tiny scalar, broadcast onto every
    # partition row (1×1 cross join — never a cartesian product)
    n_table = violations.where(table_level).agg(
        F.count(F.lit(1)).alias("__n_table")
    )
    return (
        base.join(per_row, "partition", "left")
        .crossJoin(F.broadcast(n_table))
        .select(
            "partition",
            "n_rows",
            F.coalesce("n_failed", F.lit(0)).alias("n_failed"),
            (
                F.coalesce("n_violations", F.lit(0)) + F.col("__n_table")
            ).alias("n_violations"),
        )
    )


def run_resumable(
    images: DataFrame,
    formats: DataFrame,
    manifest: PartitionManifest,
    scope_col: str = "part",
    row_id: str = "image_id",
    run_id: Optional[str] = None,
    key_ledger: Optional[KeyLedger] = None,
    neardup_ledger=None,
    caption_col: str = "caption",
    phash_ledger=None,
    bytes_col: str = "bytes",
    drift_ledger=None,
    drift_columns: tuple = ("w", "h", "phash"),
    drift_threshold: float = 0.1,
    hll_ledger=None,
    hll_column: Optional[str] = None,
    hll_novelty_threshold: float = 0.5,
    audio_ledger=None,
    audio_col: str = "audio",
    video_ledger=None,
    video_col: str = "video",
    video_min_shared_frames: int = 2,
    embedding_ledger=None,
    embedding_col: str = "embedding",
    embedding_threshold: float = 0.95,
):
    """One resumable validation increment over the north-star table:
    validates only pending partitions, records their lineage/metrics,
    returns (violations_df, metrics_df, run_id).

    Uniqueness semantics: within-increment duplicates always flag;
    with ``key_ledger`` set, keys recorded by prior increments also
    flag (cross-increment uniqueness — the persistent form of the
    reference's key worlds) and this increment's keys are recorded.

    The other increment-ledger families plug in the same way
    (round 6): ``neardup_ledger`` (a
    pipeline.incremental_neardup.MinHashLedger) flags pending rows
    whose ``caption_col`` near-duplicates a PRIOR increment's
    captions (reason ``near_duplicate``, observed = prior id @ est);
    ``phash_ledger`` (a pipeline.incremental_neardup.PhashLedger)
    flags pending rows whose DECODED PIXELS perceptually
    near-duplicate a prior increment's images (DCT phash within the
    ledger's hamming budget, exact verification against the stored
    64-bit signatures — reason ``near_duplicate``, observed = prior
    id @ hamming);
    ``drift_ledger`` (a pipeline.drift_ledger.QuantileLedger) flags
    ``drift_columns`` whose distribution drifted vs the first
    recorded snapshot (reason ``distribution_drift``);
    ``hll_ledger`` (a pipeline.cardinality_ledger.HllLedger) flags an
    increment whose ``hll_column`` novelty (new-distinct per row vs
    ALL prior increments, by HLL sketch union — no join against
    history) falls below ``hll_novelty_threshold`` (reason
    ``cardinality_collapse``: mostly re-sent values — the cheap
    screen in front of the exact key_ledger path);
    ``audio_ledger`` / ``video_ledger`` / ``embedding_ledger``
    (round 7: pipeline.incremental_neardup.AudioLedger / VideoLedger
    / EmbeddingLedger) extend the same pattern to tables carrying
    ``audio_col`` / ``video_col`` / ``embedding_col`` payload columns
    — audio fingerprints share the phash int64 contract, video
    persists FRAME signatures and votes per video pair on probe, and
    embeddings bucket through seeded-plane LSH with exact cosine
    verification (reason ``near_duplicate`` for all three — every
    modality's cross-increment family).  Every ledger append
    lands AFTER the manifest commit — the crash ordering of
    ``ledger.py``."""
    from .checks import uniqueness
    from .payload.validate import image_table_spec, validate_images
    from .pipeline import incremental_neardup as nd

    pending = manifest.filter_pending(images, scope_col)
    # violation frames collect here and union+persist ONCE at the end:
    # chaining .persist() per union layer would cache the same rows in
    # a separate InMemoryRelation per ledger family (review finding)
    parts = [validate_images(pending, formats)]
    # (ledger, signature frame) pairs: each frame is ONE persisted
    # decode pass shared by the verdicts here and the post-commit
    # append below
    sig_frames = []
    spec = image_table_spec()
    if key_ledger is not None:
        parts.append(
            cross_increment_dup_violations(
                pending, spec, key_ledger, update=False
            )
        )
    if neardup_ledger is not None:
        parts.append(_near_dup_rows(
            nd.cross_increment_near_duplicates(
                pending, row_id, neardup_ledger, text_col=caption_col,
                update=False,
            ),
            f"neardup:{caption_col}", F.round("est_jaccard", 3), caption_col,
        ))
    if phash_ledger is not None:
        sig = nd.phash_sigs(pending, row_id, bytes_col=bytes_col).persist()
        sig_frames.append((phash_ledger, sig))
        parts.append(_near_dup_rows(
            nd.cross_increment_phash_duplicates(
                pending, row_id, phash_ledger, update=False, sig=sig,
            ),
            "neardup:phash", F.col("hamming"), bytes_col,
        ))
    if audio_ledger is not None:
        sig = nd.audio_sigs(pending, row_id, audio_col=audio_col).persist()
        sig_frames.append((audio_ledger, sig))
        parts.append(_near_dup_rows(
            nd.cross_increment_audio_duplicates(
                pending, row_id, audio_ledger, update=False, sig=sig,
            ),
            "neardup:audio", F.col("hamming"), audio_col,
        ))
    if video_ledger is not None:
        sig = nd.frame_sigs(
            pending, row_id, video_col=video_col,
            every_k=video_ledger.every_k,
        ).persist()
        sig_frames.append((video_ledger, sig))
        parts.append(_near_dup_rows(
            nd.cross_increment_video_duplicates(
                pending, row_id, video_ledger,
                min_shared_frames=video_min_shared_frames,
                update=False, sig=sig,
            ),
            "neardup:video", F.col("shared_frames"), video_col,
            new="video_new", prior="video_prior",
        ))
    if embedding_ledger is not None:
        sig = nd.embedding_sigs(pending, row_id, vec_col=embedding_col).persist()
        sig_frames.append((embedding_ledger, sig))
        parts.append(_near_dup_rows(
            nd.cross_increment_embedding_duplicates(
                pending, row_id, embedding_ledger,
                threshold=embedding_threshold, update=False, sig=sig,
            ),
            "neardup:embedding", F.round("cos", 3), embedding_col,
        ))
    if drift_ledger is not None:
        from .pipeline.drift_ledger import cross_increment_drift

        for dcol in drift_columns:
            dv = cross_increment_drift(
                pending, drift_ledger, "images", dcol,
                threshold=drift_threshold, update=False,
            ).where(F.col("drifted")).select(
                F.lit(f"drift:{dcol}").alias("constraint_id"),
                F.lit("distribution_drift").alias("reason"),
                F.lit("(all)").alias("row_id"),
                F.col("shift").cast("string").alias("observed_value"),
                F.lit("/" + dcol).alias("path"),
            )
            parts.append(dv)
    hll_sketch_frame = None
    if hll_ledger is not None:
        from .pipeline.cardinality_ledger import screen_sketches

        hcol = hll_column or row_id
        # build the sketch frame ONCE and persist it: the screen
        # verdicts (here) and the post-commit ledger append (below)
        # share a single scan of the pending increment
        hll_sketch_frame = hll_ledger.sketch(pending, hcol).persist()
        cv = screen_sketches(
            hll_sketch_frame, hll_ledger, "images", hcol,
            novelty_threshold=hll_novelty_threshold,
        ).where(F.col("collapsed")).select(
            F.lit(f"hll:{hcol}").alias("constraint_id"),
            F.lit("cardinality_collapse").alias("reason"),
            F.lit("(all)").alias("row_id"),
            F.round("novelty", 6).cast("string").alias("observed_value"),
            F.lit("/" + hcol).alias("path"),
        )
        parts.append(cv)
    # the ONE cache: violations are consumed twice (metrics + caller)
    # and are tiny relative to the input — persist the final union
    violations = reduce(lambda a, b: a.unionByName(b), parts).persist()
    metrics = partition_metrics(pending, violations, row_id, scope_col)
    # ORDER MATTERS for crash recovery (ledger.py): mark partitions
    # complete BEFORE appending their keys and sketches to the ledgers
    rid = manifest.record(metrics, run_id=run_id)
    if key_ledger is not None:
        for ks in [*spec.unique, *spec.primary_keys]:
            key_ledger.record(
                uniqueness.keyed(pending, spec, ks), spec.name, ks.label
            )
    if neardup_ledger is not None:
        nd.record_sketches(
            pending, row_id, neardup_ledger, text_col=caption_col
        )
    for led, sig in sig_frames:
        # append the SAME persisted signature frame the verdicts used
        led.record(sig)
        sig.unpersist()
    if drift_ledger is not None:
        from .pipeline.drift_ledger import record_snapshot

        for dcol in drift_columns:
            record_snapshot(pending, drift_ledger, "images", dcol)
    if hll_ledger is not None:
        # append the SAME persisted sketch frame the screen used —
        # no second scan of the increment
        hcol = hll_column or row_id
        hll_ledger.record(
            hll_sketch_frame, "images", hcol,
            hll_ledger.next_seq(pending.sparkSession, "images", hcol),
        )
        hll_sketch_frame.unpersist()
    return violations, metrics, rid


def _near_dup_rows(
    pairs: DataFrame, constraint_id: str, score: Column, col: str,
    new: str = "doc_new", prior: str = "doc_prior",
) -> DataFrame:
    """A ledger probe's (new, prior, score) pairs as violation rows:
    observed value ``"<prior> @ <score>"``, path ``/<col>``."""
    return pairs.select(
        F.lit(constraint_id).alias("constraint_id"),
        F.lit("near_duplicate").alias("reason"),
        F.col(new).alias("row_id"),
        F.concat(
            F.col(prior), F.lit(" @ "), score.cast("string")
        ).alias("observed_value"),
        F.lit("/" + col).alias("path"),
    )
