"""Cross-increment NEAR-duplicate detection: a persistent MinHash
band/signature ledger (round 6).

The KeyLedger (manifest.py) extends EXACT uniqueness across
increments; this module does the same for near-duplicates — the shape
a continuously-ingesting training-data pipeline actually needs: when
increment N+1 arrives, its documents must be checked against
EVERYTHING already accepted without re-reading prior text.

Design (the at-scale sketch discipline):
- the ledger persists, per accepted document, its H-component MinHash
  SIGNATURE (doc, h0..h{H-1}) and its LSH BAND BUCKETS (doc, band,
  bucket) — ~a few hundred bytes per doc; raw text never re-enters.
- an increment's candidates against history = its band buckets
  equi-joined to the ledger's (bucketed, never all-pairs — the same
  recall contract as in-corpus LSH: any pair agreeing on ≥1 band
  surfaces).
- verification is SIGNATURE-estimated Jaccard (fraction of agreeing
  components, the standard MinHash estimator) because prior shingle
  sets are gone by design; in-corpus pairs keep exact verification
  (dedup.jaccard_on_pairs).

Storage, SnapshotFS seam, crash ordering and parameter pinning are
the ``ledger.py`` contract shared by every family; ``_probe_history``
is the one banded probe all three sketch families run.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ledger import LocalFS, SnapshotFS, append, pin_params, read_pinned
from . import dedup


def _probe_history(
    ledger,
    sig: DataFrame,
    cache_sig: bool,
    update: bool,
    keys_dim: Callable[[SparkSession], Optional[DataFrame]],
    sigs_dim: Callable[[SparkSession], DataFrame],
    bucket: Callable[[DataFrame], DataFrame],
    keys: Sequence[str],
    score: Column,
    keep: Column,
    empty: str,
) -> DataFrame:
    """(doc_new, doc_prior, <score>) for this increment's signatures
    ``sig`` (doc, …) against a PRIOR increment's: ``bucket(sig)``'s
    ``keys`` equi-joined to the ledger's ``keys_dim`` (bucketed, never
    all-pairs) → distinct candidate pairs → both sides' stored
    signatures fetched by doc → ``score`` (over the ``n.``/``p.``
    signature columns) → ``keep``.  ``empty`` is the result schema
    when the ledger holds no history yet.

    With ``update`` the pairs are persisted and materialized BEFORE
    ``ledger.record(sig)`` appends (a recompute after the append would
    self-collide) and the cache then belongs to the CALLER — unpersist
    the returned frame once consumed.  Probe-only calls return an
    unpersisted frame: recompute against the unchanged ledger is
    safe, and batch drivers (run_resumable) fold it into their own
    persisted union.  ``cache_sig`` persists ``sig`` across the
    verdict jobs and the append (exchange reuse never spans jobs)."""
    spark = sig.sparkSession
    if cache_sig and update:
        sig = sig.persist()
    prior_keys = keys_dim(spark)
    if prior_keys is None:
        out = spark.createDataFrame([], empty)
    else:
        on = reduce(
            lambda a, b: a & b,
            [F.col(f"n.{k}") == F.col(f"p.{k}") for k in keys],
        )
        cands = (
            bucket(sig).alias("n")
            .join(prior_keys.alias("p"), on)
            .select(
                F.col("n.doc").alias("doc_new"),
                F.col("p.doc").alias("doc_prior"),
            )
            .distinct()
        )
        out = (
            cands.join(sig.alias("n"), cands["doc_new"] == F.col("n.doc"))
            .join(
                sigs_dim(spark).alias("p"),
                cands["doc_prior"] == F.col("p.doc"),
            )
            .select("doc_new", "doc_prior", score)
            .where(keep)
        )
        if update:
            out = out.persist()
            out.count()
    if update:
        ledger.record(sig)
        if cache_sig:
            sig.unpersist()
    return out


@dataclass
class MinHashLedger:
    """Persistent MinHash sketches: ``<root>/sigs`` (doc string,
    h0..h{H-1} string) and ``<root>/bands`` (doc, band int, bucket
    string).

    ``num_hashes`` and ``bands`` are LEDGER properties, not probe
    parameters (same rationale as PhashLedger.max_hamming): recorded
    band buckets must partition the signature the same way every
    future increment probes with, or recall silently drops and
    est_jaccard corrupts.  Both are pinned in ``<root>/meta``
    (``ledger.pin_params``)."""

    root: str
    num_hashes: int = 8
    bands: int = 4
    fs: SnapshotFS = field(default_factory=LocalFS)

    def _pin(self, spark: SparkSession, create: bool = False) -> bool:
        return pin_params(
            self, spark, ("num_hashes", "bands"), "sigs", create=create
        )

    def sigs_dim(self, spark: SparkSession) -> Optional[DataFrame]:
        self._pin(spark)
        cols = ", ".join(f"h{i} string" for i in range(self.num_hashes))
        return read_pinned(
            spark, self.fs, f"{self.root}/sigs", f"doc string, {cols}"
        )

    def bands_dim(self, spark: SparkSession) -> Optional[DataFrame]:
        self._pin(spark)
        return read_pinned(
            spark, self.fs, f"{self.root}/bands",
            "doc string, band int, bucket string",
        )

    def record(self, signatures: DataFrame) -> None:
        """Append an increment's sketches (caller must have
        materialized any candidates that read the ledger first)."""
        self._pin(signatures.sparkSession, create=True)
        sig = signatures.select(
            F.col("doc").cast("string"),
            *[F.col(f"h{i}") for i in range(self.num_hashes)],
        )
        append(sig, f"{self.root}/sigs")
        append(
            dedup.band_buckets(sig, self.num_hashes, self.bands).select(
                F.col("doc").cast("string"),
                F.col("band").cast("int"),
                "bucket",
            ),
            f"{self.root}/bands",
        )


def cross_increment_near_duplicates(
    df: DataFrame,
    id_col: str,
    ledger: MinHashLedger,
    text_col: str = "text",
    k: int = 3,
    bands: Optional[int] = None,
    min_est_jaccard: float = 0.0,
    update: bool = True,
) -> DataFrame:
    """(doc_new, doc_prior, est_jaccard) for this increment's
    documents whose MinHash bands collide with a PRIOR increment's
    ledger entries, estimated-Jaccard ≥ ``min_est_jaccard``; then
    (optionally) records this increment's sketches.

    est_jaccard = fraction of agreeing signature components (the
    unbiased MinHash estimator) — exact-shingle verification is
    impossible and UNDESIRABLE here: the ledger's whole point is that
    prior increments' text is never re-read.  Scale shape: one
    groupBy (signatures), one bucketed equi-join (candidates), one
    hash join on doc_prior (signature fetch) — texts ride only the
    first aggregation.

    ``bands`` is pinned on the LEDGER; the parameter survives only as
    a guard (None → ledger.bands, a mismatching explicit value raises
    — probing with different banding than history was recorded with
    silently loses recall)."""
    bands = _resolve_bands(ledger, bands)
    H = ledger.num_hashes
    sig = minhash_sigs(df, id_col, text_col, k, H)
    agree = sum(
        F.when(F.col(f"n.h{i}") == F.col(f"p.h{i}"), 1).otherwise(0)
        for i in range(H)
    )
    return _probe_history(
        ledger, sig, cache_sig=False, update=update,
        keys_dim=ledger.bands_dim, sigs_dim=ledger.sigs_dim,
        bucket=lambda s: dedup.band_buckets(s, H, bands),
        keys=("band", "bucket"),
        score=(agree / F.lit(float(H))).alias("est_jaccard"),
        keep=F.col("est_jaccard") >= min_est_jaccard,
        empty="doc_new string, doc_prior string, est_jaccard double",
    )


def _resolve_bands(ledger: MinHashLedger, bands: Optional[int]) -> int:
    if bands is not None and bands != ledger.bands:
        raise ValueError(
            f"bands={bands} conflicts with the ledger's pinned "
            f"bands={ledger.bands}; banding is a ledger property — "
            "set it at MinHashLedger creation."
        )
    return ledger.bands


def record_sketches(
    df: DataFrame,
    id_col: str,
    ledger: MinHashLedger,
    text_col: str = "text",
    k: int = 3,
    bands: Optional[int] = None,
) -> None:
    """Record an increment's sketches WITHOUT producing verdicts —
    for callers that sequence ledger appends after other commits
    (run_resumable appends sketches only once the manifest marks the
    partitions complete, mirroring the KeyLedger crash ordering; the
    signature aggregation re-runs — persist ``df`` upstream if that
    matters at your scale)."""
    _resolve_bands(ledger, bands)
    ledger.record(minhash_sigs(df, id_col, text_col, k, ledger.num_hashes))


def minhash_sigs(
    df: DataFrame, id_col: str, text_col: str, k: int, num_hashes: int
) -> DataFrame:
    """(doc string, h0..h{H-1}) signature frame of ``text_col``'s
    ``k``-word shingles — the MinHash ledger's ``phash_sigs``."""
    sh = dedup.word_shingles(df, id_col, text_col, k)
    return dedup.minhash_signatures(sh, num_hashes).select(
        F.col("doc").cast("string"), *[f"h{i}" for i in range(num_hashes)]
    )


@dataclass
class PhashLedger:
    """Persistent perceptual-hash sketches for cross-increment VISUAL
    near-duplicate detection — the image modality of this module:
    ``<root>/sigs`` (doc string, phash long — the full 64-bit DCT
    signature is 8 bytes, so unlike MinHash the ledger keeps the
    WHOLE sketch) and ``<root>/blocks`` (doc, blk int, bkey string —
    pigeonhole block keys at ``max_hamming``).

    ``max_hamming`` is a LEDGER property, not a probe parameter:
    recorded block keys must use the same bounds future increments
    probe with (dedup.block_bounds), so it is pinned in
    ``<root>/meta`` (the dataclass default alone could not catch a
    drifted reopen)."""

    root: str
    max_hamming: int = 6
    fs: SnapshotFS = field(default_factory=LocalFS)

    def _pin(self, spark: SparkSession, create: bool = False) -> bool:
        return pin_params(
            self, spark, ("max_hamming",), "sigs", create=create
        )

    def sigs_dim(self, spark: SparkSession) -> Optional[DataFrame]:
        self._pin(spark)
        return read_pinned(
            spark, self.fs, f"{self.root}/sigs", "doc string, phash long"
        )

    def blocks_dim(self, spark: SparkSession) -> Optional[DataFrame]:
        self._pin(spark)
        return read_pinned(
            spark, self.fs, f"{self.root}/blocks",
            "doc string, blk int, bkey string",
        )

    def record(self, sig: DataFrame) -> None:
        """Append an increment's signatures + block keys (caller must
        have materialized any candidates that read the ledger first).
        ``sig``: (doc string, phash long), NULL-free.

        The (doc, long) frame is persisted across the TWO write jobs:
        exchange reuse only dedupes within one query execution, so
        without the cache the second write would re-run the upstream
        decode+DCT lineage (review finding, fixed)."""
        from ..payload import phash as phash_mod

        self._pin(sig.sparkSession, create=True)
        frame = sig.select(
            F.col("doc").cast("string"), F.col("phash").cast("long")
        ).persist()
        try:
            append(frame, f"{self.root}/sigs")
            append(
                phash_mod.phash_blocks(
                    frame, id_col="doc", phash_col="phash",
                    max_hamming=self.max_hamming,
                ).select(
                    F.col("doc").cast("string"),
                    F.col("blk").cast("int"),
                    "bkey",
                ),
                f"{self.root}/blocks",
            )
        finally:
            frame.unpersist()


def phash_sigs(df: DataFrame, id_col: str, bytes_col: str = "bytes") -> DataFrame:
    """(doc string, phash long) recomputed signature frame — the ONE
    decode+DCT pass every ledger consumer should share (persist it
    when both verdicts and a later append will read it, as
    run_resumable does)."""
    from ..payload import phash as phash_mod

    return (
        phash_mod.phash_signatures(df, row_id=id_col, bytes_col=bytes_col)
        .where(F.col("phash_dct").isNotNull())
        .select(
            F.col(id_col).cast("string").alias("doc"),
            F.col("phash_dct").alias("phash"),
        )
        .repartition("doc")  # decode once; every branch reuses the shuffle
    )


def cross_increment_phash_duplicates(
    df: DataFrame,
    id_col: str,
    ledger: PhashLedger,
    bytes_col: str = "bytes",
    update: bool = True,
    sig: Optional[DataFrame] = None,
) -> DataFrame:
    """(doc_new, doc_prior, hamming) for this increment's images
    whose perceptual hash sits within ``ledger.max_hamming`` bits of
    a PRIOR increment's; then (optionally) records this increment's
    sketches.

    Unlike the MinHash ledger, verification here is EXACT: the ledger
    stores the full 64-bit signature, so hamming is one long-XOR +
    bit_count per candidate — no estimation, prior pixels never
    re-read.  Scale shape: one map-only decode+DCT pass (repartition
    → every branch a ReusedExchange), one bucketed block equi-join
    against history, two hash joins to fetch the 8-byte signatures.

    Pass a pre-built (and ideally persisted) ``sig`` frame
    (``phash_sigs``) to share the decode pass with other consumers —
    when ``update=True`` and no frame is given, one is persisted here
    so the verdict jobs and the append never decode twice."""
    own_sig = sig is None
    return _probe_phash(
        ledger, phash_sigs(df, id_col, bytes_col) if own_sig else sig,
        own_sig, update,
    )


def _probe_phash(
    ledger: PhashLedger, sig: DataFrame, cache_sig: bool, update: bool
) -> DataFrame:
    """The phash-family probe (images, audio clips, video frames):
    block-key candidates, exact long-XOR hamming verify."""
    from ..payload import phash as phash_mod

    return _probe_history(
        ledger, sig, cache_sig=cache_sig, update=update,
        keys_dim=ledger.blocks_dim, sigs_dim=ledger.sigs_dim,
        bucket=lambda s: phash_mod.phash_blocks(
            s, id_col="doc", phash_col="phash",
            max_hamming=ledger.max_hamming,
        ),
        keys=("blk", "bkey"),
        score=F.bit_count(
            F.col("n.phash").bitwiseXOR(F.col("p.phash"))
        ).cast("int").alias("hamming"),
        keep=F.col("hamming") <= ledger.max_hamming,
        empty="doc_new string, doc_prior string, hamming int",
    )


def record_phash_sketches(
    df: DataFrame, id_col: str, ledger: PhashLedger,
    bytes_col: str = "bytes",
) -> None:
    """Record an increment's phash sketches WITHOUT producing verdicts
    — for callers sequencing ledger appends after other commits
    (record() persists the frame across its two writes)."""
    ledger.record(phash_sigs(df, id_col, bytes_col))


# ---------------------------------------------------------------------------
# Audio + video ledger families (round 7): the remaining two dedup
# modalities under the same cross-increment machinery.
# ---------------------------------------------------------------------------


@dataclass
class AudioLedger(PhashLedger):
    """Persistent audio fingerprints for cross-increment AUDIO
    near-duplicate detection.  ``multimodal.audio_fingerprint64``
    shares PhashLedger's signed-int64 signature contract (64
    band-occupancy bits instead of 64 DCT-sign bits), so the storage,
    block keys, and exact long-XOR verification are the SAME
    machinery — only the signature builder and the measured hamming
    budget differ (τ=1: same-content clips under gain change + fresh
    noise land at hamming 0; distinct chords sit ≥2 apart —
    pipeline/multimodal.py:324)."""

    max_hamming: int = 1


def audio_sigs(
    df: DataFrame, id_col: str, audio_col: str = "audio"
) -> DataFrame:
    """(doc string, phash long) recomputed audio-fingerprint frame —
    the one decode+FFT pass every audio-ledger consumer should share
    (column named ``phash`` so the PhashLedger machinery applies
    verbatim)."""
    from .multimodal import audio_fingerprints

    return (
        audio_fingerprints(df, id_col=id_col, bytes_col=audio_col)
        .where(F.col("afp").isNotNull())
        .select(
            F.col(id_col).cast("string").alias("doc"),
            F.col("afp").alias("phash"),
        )
        .repartition("doc")
    )


def cross_increment_audio_duplicates(
    df: DataFrame,
    id_col: str,
    ledger: AudioLedger,
    audio_col: str = "audio",
    update: bool = True,
    sig: Optional[DataFrame] = None,
) -> DataFrame:
    """(doc_new, doc_prior, hamming) for this increment's clips whose
    audio fingerprint sits within ``ledger.max_hamming`` bits of a
    PRIOR increment's — the audio twin of
    ``cross_increment_phash_duplicates`` (exact verification against
    stored 64-bit signatures, prior samples never re-decoded)."""
    own_sig = sig is None
    return _probe_phash(
        ledger, audio_sigs(df, id_col, audio_col) if own_sig else sig,
        own_sig, update,
    )


@dataclass
class VideoLedger:
    """Persistent FRAME signatures for cross-increment VIDEO
    near-duplicate detection: frames of prior increments live in an
    embedded frame-level PhashLedger (composite ids: 9-digit
    zero-padded frame index + video id — see ``frame_sigs`` and the
    lpad-truncation rationale below; the in-corpus
    ``multimodal.video_near_duplicates`` shape); probes band-join this
    increment's frame hashes against history and then VOTE per
    (video_new, video_prior) pair — videos never all-pair, frames
    never all-pair, prior pixels never re-read.

    ``max_hamming`` and ``every_k`` are LEDGER properties: block keys
    are recorded at ``max_hamming`` (same pinning rationale as
    PhashLedger — enforced by the embedded frame store's meta file),
    and increments sampled at different ``every_k`` would
    systematically miss each other's frames (enforced by this
    ledger's own ``<root>/vmeta``, validated on record and probe).
    ``min_shared_frames`` is a PROBE parameter (a pure filter over
    the vote — historical data is threshold-agnostic)."""

    root: str
    max_hamming: int = 6
    every_k: int = 1
    fs: SnapshotFS = field(default_factory=LocalFS)

    def _pin(self, spark: SparkSession, create: bool = False) -> bool:
        return pin_params(
            self, spark, ("every_k",), "sigs", meta_sub="vmeta",
            create=create,
        )

    def frame_store(self) -> PhashLedger:
        return PhashLedger(self.root, self.max_hamming, self.fs)

    def record(self, sig: DataFrame) -> None:
        """Append a pre-built frame-signature frame (``frame_sigs``)."""
        self._pin(sig.sparkSession, create=True)
        self.frame_store().record(sig)


def frame_sigs(
    df: DataFrame,
    id_col: str,
    video_col: str = "video",
    every_k: int = 1,
) -> DataFrame:
    """(doc string, phash long) per SAMPLED FRAME, doc = 9-digit
    frame index + video id — the one decode+DCT pass every
    video-ledger consumer should share.  Width 9 because Spark's
    lpad TRUNCATES beyond the target width (review finding: a 6-digit
    pad would collide frame 1,000,000 with 100,000 and silently
    undercount the vote); 10^9 frames is past any real container."""
    from ..payload import phash as phash_mod
    from .multimodal import sample_frames

    frames = sample_frames(
        df, every_k=every_k, id_col=id_col, bytes_col=video_col
    )
    fid = frames.select(
        F.concat(
            F.lpad(F.col("frame_idx").cast("string"), 9, "0"),
            F.col("video_id"),
        ).alias("fid"),
        F.col("frame_bytes"),
    )
    return (
        phash_mod.phash_signatures(fid, row_id="fid", bytes_col="frame_bytes")
        .where(F.col("phash_dct").isNotNull())
        .select(
            F.col("fid").alias("doc"),
            F.col("phash_dct").alias("phash"),
        )
        .repartition("doc")
    )


def cross_increment_video_duplicates(
    df: DataFrame,
    id_col: str,
    ledger: VideoLedger,
    video_col: str = "video",
    min_shared_frames: int = 2,
    update: bool = True,
    sig: Optional[DataFrame] = None,
) -> DataFrame:
    """(video_new, video_prior, shared_frames) for this increment's
    videos sharing ≥ ``min_shared_frames`` visually near-duplicate
    frames with a PRIOR increment's — frame-level banded candidates
    through the embedded PhashLedger, then one groupBy vote over the
    (tiny, already-materialized) frame-pair set.  The vote counts
    DISTINCT frames on the smaller side so repeated static-scene
    frames cannot inflate past the threshold (same guard as
    ``multimodal.video_near_duplicates``)."""
    # every_k drift fails loudly; the probe-with-update path records
    # through the inner frame store, so the vmeta write happens HERE
    # (VideoLedger.record covers the record-only path)
    ledger._pin(df.sparkSession, create=update)
    own_sig = sig is None
    fpairs = _probe_phash(
        ledger.frame_store(),
        frame_sigs(df, id_col, video_col, every_k=ledger.every_k)
        if own_sig else sig,
        own_sig, update,
    )
    va = F.expr("substring(doc_new, 10)")   # strip the 9-digit prefix
    vb = F.expr("substring(doc_prior, 10)")
    return (
        fpairs.where(va != vb)
        .select(
            va.alias("video_new"),
            vb.alias("video_prior"),
            F.col("doc_new").alias("__fn"),
            F.col("doc_prior").alias("__fp"),
        )
        .groupBy("video_new", "video_prior")
        .agg(
            F.least(
                F.countDistinct("__fn"), F.countDistinct("__fp")
            ).cast("int").alias("shared_frames")
        )
        .where(F.col("shared_frames") >= min_shared_frames)
    )


@dataclass
class EmbeddingLedger:
    """Persistent embedding sketches for cross-increment EMBEDDING
    near-duplicate detection — with this the cross-increment machinery
    spans all five modalities (text MinHash, image phash, audio
    fingerprint, video frames, embeddings): ``<root>/vecs`` (doc
    string, vec array<double>) and ``<root>/buckets`` (doc, tbl int,
    bucket string — seeded random-hyperplane LSH keys,
    similarity.hyperplane_bucket).

    ``dim`` / ``bits`` / ``tables`` / ``seed`` are LEDGER properties
    (the MinHashLedger rationale): every increment must bucket with
    the SAME planes or probes silently miss history, so they are
    pinned in ``<root>/meta``.  ``threshold`` is a PROBE parameter — the exact
    cosine verify is computed fresh per probe, so history is
    threshold-agnostic."""

    root: str
    dim: int
    bits: int = 8
    tables: int = 4
    seed: int = 42
    fs: SnapshotFS = field(default_factory=LocalFS)

    def _pin(self, spark: SparkSession, create: bool = False) -> bool:
        return pin_params(
            self, spark, ("dim", "bits", "tables", "seed"), "vecs",
            create=create,
        )

    def planes(self) -> list:
        from .similarity import random_hyperplanes

        return random_hyperplanes(self.dim, self.bits, self.tables,
                                  self.seed)

    def vecs_dim(self, spark: SparkSession) -> Optional[DataFrame]:
        self._pin(spark)
        return read_pinned(
            spark, self.fs, f"{self.root}/vecs",
            "doc string, vec array<double>",
        )

    def buckets_dim(self, spark: SparkSession) -> Optional[DataFrame]:
        self._pin(spark)
        return read_pinned(
            spark, self.fs, f"{self.root}/buckets",
            "doc string, tbl int, bucket string",
        )

    def record(self, sig: DataFrame) -> None:
        """Append an increment's (doc, vec) frame + its bucket keys
        (caller must have materialized any candidates that read the
        ledger first).  ``sig`` is persisted across the two write
        jobs by the caller (exchange reuse never spans writes)."""
        self._pin(sig.sparkSession, create=True)
        append(sig, f"{self.root}/vecs")
        append(
            _embedding_bucket_keys(sig, self.planes()),
            f"{self.root}/buckets",
        )


def _embedding_bucket_keys(sig: DataFrame, planes: list) -> DataFrame:
    """(doc, tbl int, bucket) — ONE scan of ``sig``: the per-table
    bucket expressions ride a single array + posexplode, the same
    single-scan form the phash leg uses (r08, round-7 verdict item:
    the previous ``tables``-way unionByName re-referenced the
    signature frame once per table)."""
    from .similarity import hyperplane_bucket

    return sig.select(
        "doc",
        F.posexplode(
            F.array(
                *[hyperplane_bucket(F.col("vec"), tp) for tp in planes]
            )
        ).alias("tbl", "bucket"),
    ).select("doc", F.col("tbl").cast("int").alias("tbl"), "bucket")


def embedding_sigs(
    df: DataFrame, id_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """(doc string, vec array<double>) — elements normalized to
    double so stored vectors byte-join fresh ones regardless of the
    source column's float width."""
    return df.select(
        F.col(id_col).cast("string").alias("doc"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
            "vec"
        ),
    ).where(F.col("vec").isNotNull())


def cross_increment_embedding_duplicates(
    df: DataFrame,
    id_col: str,
    ledger: EmbeddingLedger,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    update: bool = True,
    sig: Optional[DataFrame] = None,
) -> DataFrame:
    """(doc_new, doc_prior, cos) for this increment's vectors whose
    cosine against a PRIOR increment's reaches ``threshold`` —
    candidates from the seeded-plane bucket equi-join (identical
    vectors always agree on every table; near-pairs at cos ≥ 0.95
    agree on ≥1 of 4 tables with the measured probability ≈ 0.9+),
    verification EXACT against the stored vectors (prior embeddings
    fetched by doc, never recomputed)."""
    from .similarity import cosine

    own_sig = sig is None
    return _probe_history(
        ledger, embedding_sigs(df, id_col, vec_col) if own_sig else sig,
        cache_sig=own_sig, update=update,
        keys_dim=ledger.buckets_dim, sigs_dim=ledger.vecs_dim,
        bucket=lambda s: _embedding_bucket_keys(s, ledger.planes()),
        keys=("tbl", "bucket"),
        score=cosine(F.col("n.vec"), F.col("p.vec")).alias("cos"),
        keep=F.col("cos") >= threshold,
        empty="doc_new string, doc_prior string, cos double",
    )
