"""Incremental corpus curation (round 7): the training-set build
(quality gate → exact dedup → near-dup → per-language quota) as a
RESUMABLE pipeline over the cross-increment ledger families — the
composed product of manifest.KeyLedger, incremental_neardup
.MinHashLedger, and the new QuotaLedger.

Batch vs incremental semantics, stated once: the batch form
(``__spark_entry__.q_corpus_curation`` over ``dedup.dedup_survivors``)
clusters near-dups into connected COMPONENTS and keeps one survivor
per component.  The incremental form here uses REGISTRATION-ORDER
semantics instead — a document is a near-duplicate iff it matches
recorded history or an earlier document (smaller string id) of its
own increment — mirroring the engine's registration-time uniqueness
doctrine (earlier holds, later dups).  The two agree except on
chains that cross the threshold only transitively; at 10^12 rows the
incremental form is the one that needs no global clustering pass per
increment.

Scale shape per increment: ONE shingle aggregation feeds the within-
increment band self-join, the history band probe, and the ledger
append (the signature frame is computed once and persisted);
history rides only its sketch dims (band buckets + signatures —
prior text is never re-read); quota is one window over the
increment + a broadcast join against the tiny per-language count
dim.  Every ledger append lands AFTER the statuses materialize —
the family-wide crash ordering (a crash loses this increment's
sketches: bounded false negatives, never self-collision)."""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ledger import LocalFS, SnapshotFS, append, read_pinned
from ..manifest import KeyLedger
from . import dedup
from .incremental_neardup import MinHashLedger, minhash_sigs
from .text import token_count


@dataclass
class QuotaLedger:
    """Persistent per-language kept counts: ``<root>`` holds
    append-only (lang string, kept long) parquet; the running sum per
    language is the quota already consumed by prior increments."""

    root: str
    fs: SnapshotFS = field(default_factory=LocalFS)

    def kept_counts(self, spark: SparkSession) -> Optional[DataFrame]:
        kept = read_pinned(spark, self.fs, self.root, "lang string, kept long")
        if kept is None:
            return None
        return kept.groupBy("lang").agg(F.sum("kept").alias("kept"))

    def record(self, counts: DataFrame) -> None:
        """Append this increment's per-language kept counts
        ((lang, kept) rows)."""
        append(
            counts.select(
                F.col("lang").cast("string"), F.col("kept").cast("long")
            ).coalesce(1),
            self.root,
        )


def curate_increment(
    df: DataFrame,
    id_col: str,
    exact_ledger: KeyLedger,
    neardup_ledger: MinHashLedger,
    quota_ledger: QuotaLedger,
    text_col: str = "text",
    lang_col: str = "lang",
    min_tokens: int = 30,
    threshold: float = 0.5,
    k: int = 3,
    quota: int = 5,
    update: bool = True,
) -> DataFrame:
    """One curation increment → (doc string, lang, status) with one
    row per input document and status ∈ {quality, exact_dup,
    near_dup, quota, kept}:

    - ``quality``: token count < ``min_tokens`` (first, so no
      expensive stage ever reads junk);
    - ``exact_dup``: normalized-text fingerprint already recorded by
      a PRIOR increment (exact_ledger) or held by an earlier
      (min string id) document of this increment;
    - ``near_dup``: MinHash estimate ≥ ``threshold`` against a prior
      increment's sketches (neardup_ledger) or against an
      earlier-id document of this increment (registration-order
      semantics — module docstring);
    - ``quota``: survived everything but the language's remaining
      budget (``quota`` minus prior increments' kept counts) was
      already filled by longer / earlier documents;
    - ``kept``: in the training set.

    With ``update=True`` the increment is then recorded: q1's
    distinct fingerprints (all quality-passing content counts as
    SEEN, kept or not), q2's MinHash sketches, and the per-language
    kept counts.

    Crash modes (ADVICE r07, stated explicitly): the three ledger
    appends are sequential — a crash BEFORE any append loses the
    whole increment's sketches (bounded false negatives on re-run,
    the family-wide contract).  A crash BETWEEN the appends can
    additionally lose the quota counts AFTER the statuses were
    already consumed: the next increment then re-grants the lost
    kept-count budget, so 'quota never exceeded across increments'
    holds only crash-free.  Recovery that must preserve the quota
    invariant should re-derive kept counts from the recorded status
    output before resuming (the statuses are the durable record; the
    QuotaLedger is a cache of their per-language aggregation)."""
    spark = df.sparkSession
    H = neardup_ledger.num_hashes
    bands = neardup_ledger.bands

    base = df.select(
        F.col(id_col).cast("string").alias("doc"),
        F.col(text_col).alias("__text"),
        F.col(lang_col).cast("string").alias("lang"),
    )
    # NULL text counts as 0 tokens → 'quality' (review finding: a
    # NULL n_toks would fall out of BOTH branches and coalesce to a
    # false 'quota' while never being recorded as seen)
    scored = base.withColumn(
        "n_toks", F.coalesce(token_count(F.col("__text")), F.lit(0))
    )
    q1 = scored.where(F.col("n_toks") >= min_tokens)

    # ---- exact: normalized fingerprint vs history + earlier-id ----
    norm = F.trim(F.regexp_replace(F.lower(F.col("__text")), r"\s+", " "))
    keyed = q1.select(
        "doc", F.md5(norm.cast("binary")).alias("__key")
    ).where(F.col("__key").isNotNull())
    prior_fp = exact_ledger.dim(spark, "curation", "text_fp")
    hist_exact = (
        keyed.join(prior_fp, "__key", "left_semi").select("doc")
        if prior_fp is not None
        else spark.createDataFrame([], "doc string")
    )
    w = Window.partitionBy("__key")
    within_exact = (
        keyed.withColumn("__surv", F.min("doc").over(w))
        .where(F.col("doc") != F.col("__surv"))
        .select("doc")
    )
    exact_dropped = hist_exact.unionByName(within_exact).distinct()
    q2 = q1.join(exact_dropped, "doc", "left_anti")

    # ---- near-dup: ONE signature pass for within + history + append
    sig = minhash_sigs(q2, "doc", "__text", k, H).persist()
    bb = dedup.band_buckets(sig, H, bands)
    est = (
        sum(
            F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)
            for i in range(H)
        )
        / float(H)
    )
    within_pairs = dedup.lsh_candidate_pairs(sig, H, bands)
    within_nd = (
        within_pairs.join(sig.alias("a"), F.col("doc_a") == F.col("a.doc"))
        .join(sig.alias("b"), F.col("doc_b") == F.col("b.doc"))
        .where(est >= threshold)
        .select(F.col("doc_b").alias("doc"))  # the LATER id drops
        .distinct()
    )
    prior_bands = neardup_ledger.bands_dim(spark)
    if prior_bands is None:
        hist_nd = spark.createDataFrame([], "doc string")
    else:
        prior_sigs = neardup_ledger.sigs_dim(spark)
        cand = (
            bb.alias("n")
            .join(
                prior_bands.alias("p"),
                (F.col("n.band") == F.col("p.band"))
                & (F.col("n.bucket") == F.col("p.bucket")),
            )
            .select(
                F.col("n.doc").alias("doc_a"),
                F.col("p.doc").alias("doc_b"),
            )
            .distinct()
        )
        hist_nd = (
            cand.join(sig.alias("a"), F.col("doc_a") == F.col("a.doc"))
            .join(prior_sigs.alias("b"), F.col("doc_b") == F.col("b.doc"))
            .where(est >= threshold)
            .select(F.col("doc_a").alias("doc"))
            .distinct()
        )
    nd_dropped = within_nd.unionByName(hist_nd).distinct()
    q3 = q2.join(nd_dropped, "doc", "left_anti").withColumn(
        "n_chars", F.length("__text")
    )

    # ---- quota: remaining budget per language ----
    prior_counts = quota_ledger.kept_counts(spark)
    if prior_counts is None:
        prior_counts = spark.createDataFrame([], "lang string, kept long")
    # bounded quota (r08, the round-7 verdict's skew item): a salted
    # partial top-(quota) pre-filter first — rem ≤ quota always, and
    # the true per-language top-rem is a subset of every salt bucket's
    # top-quota under the same (n_chars desc, doc) total order — so
    # the exact window sorts at most S × quota rows per language
    # instead of the whole surviving increment (one language can be
    # half the corpus; the window key has ~|langs| distinct values)
    from .sampling import quota_salt_buckets

    salt = F.pmod(F.xxhash64(F.col("doc")), F.lit(quota_salt_buckets(q3)))
    pre = F.row_number().over(
        Window.partitionBy("lang", salt).orderBy(
            F.col("n_chars").desc(), F.col("doc").asc()
        )
    )
    q3 = (
        q3.withColumn("__prn", pre)
        .where(F.col("__prn") <= quota)
        .drop("__prn")
    )
    rn = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.col("n_chars").desc(), F.col("doc").asc()
        )
    )
    ranked = (
        q3.withColumn("__rn", rn)
        .join(F.broadcast(prior_counts.withColumnRenamed("kept", "__prior")),
              "lang", "left")
        .withColumn(
            "__rem", F.lit(quota) - F.coalesce("__prior", F.lit(0))
        )
    )
    kept = ranked.where(F.col("__rn") <= F.col("__rem")).select("doc")

    statuses = (
        scored.where(F.col("n_toks") < min_tokens)
        .select("doc", F.lit("quality").alias("status"))
        .unionByName(
            exact_dropped.select("doc", F.lit("exact_dup").alias("status"))
        )
        .unionByName(
            nd_dropped.select("doc", F.lit("near_dup").alias("status"))
        )
        .unionByName(kept.select("doc", F.lit("kept").alias("status")))
    )
    out = (
        base.select("doc", "lang")
        .join(statuses, "doc", "left")
        .select(
            "doc",
            "lang",
            F.coalesce("status", F.lit("quota")).alias("status"),
        )
    )
    if update:
        # materialize BEFORE any ledger grows; the cache then belongs
        # to the CALLER (release contract, r08: unpersist once
        # consumed).  Probe-only calls (update=False) return an
        # unpersisted frame — no ledger grew, recompute is safe.
        out = out.persist()
        out.count()
    if update:
        exact_ledger.record(keyed, "curation", "text_fp")
        neardup_ledger.record(sig)
        kept_counts = (
            out.where(F.col("status") == "kept")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("kept"))
        )
        quota_ledger.record(kept_counts)
    sig.unpersist()
    return out
