"""Resume manifest: completed-partition filtering, lineage append,
idempotent re-runs, failure retry."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from python_extended_json_schema_validator_spark.manifest import (
    PartitionManifest,
    partition_metrics,
    run_resumable,
)
from python_extended_json_schema_validator_spark.payload import synth


@pytest.fixture()
def manifest():
    with tempfile.TemporaryDirectory() as d:
        yield PartitionManifest(path=f"{d}/manifest")


def test_resume_cycle(spark, manifest):
    images = synth.images_from_range(spark, 200, partitions=4).cache()
    formats = synth.formats_dim(spark)

    # first increment validates everything
    viol1, metrics1, rid1 = run_resumable(images, formats, manifest)
    m1 = {r.partition: r for r in metrics1.collect()}
    assert len(m1) == 16  # part p0..p15
    assert sum(r.n_rows for r in m1.values()) == 200
    assert viol1.count() > 0

    # second increment: nothing pending
    viol2, metrics2, rid2 = run_resumable(images, formats, manifest)
    assert metrics2.count() == 0
    assert viol2.count() == 0
    assert rid1 != rid2

    # lineage keeps both runs
    lineage = manifest.read(spark)
    assert lineage.select("run_id").distinct().count() == 1  # run2 recorded 0 rows
    assert lineage.count() == 16


def test_failed_partitions_are_retried(spark, manifest):
    images = synth.images_from_range(spark, 100, partitions=2).cache()
    formats = synth.formats_dim(spark)
    viol, metrics, _ = run_resumable(images, formats, manifest)
    metrics.collect()

    # mark p0 as failed in a later record → becomes pending again
    p0 = metrics.where(F.col("partition") == "p0")
    manifest.record(p0, status="failed")
    pending = manifest.filter_pending(images, "part")
    parts = {r.part for r in pending.select("part").distinct().collect()}
    assert parts == {"p0"}


def test_cross_increment_uniqueness(spark):
    """Keys recorded by increment 1 flag duplicates arriving in
    increment 2 (persistent key worlds)."""
    import tempfile as tf

    from python_extended_json_schema_validator_spark.manifest import (
        KeyLedger,
        cross_increment_dup_violations,
    )
    from python_extended_json_schema_validator_spark.payload.validate import (
        image_table_spec,
    )

    with tf.TemporaryDirectory() as d:
        ledger = KeyLedger(root=f"{d}/keys")
        spec = image_table_spec()
        inc1 = synth.images_from_range(spark, 100, partitions=2)
        v1 = cross_increment_dup_violations(inc1, spec, ledger)
        assert v1.count() == 0  # empty ledger → nothing prior to collide with

        # increment 2 = fresh keys 101..150 PLUS a re-send of 1..10
        inc2 = synth.images_from_range(spark, 150, partitions=2).where(
            "image_id > 'img00000100' or image_id <= 'img00000010'"
        )
        v2 = cross_increment_dup_violations(inc2, spec, ledger)
        got = {(r.constraint_id, r.row_id) for r in v2.collect()}
        # the 10 re-sent image_ids and their phashes collide with inc1
        assert ("pk:image_id", "img00000001") in got
        assert len([g for g in got if g[0] == "pk:image_id"]) == 10
        assert len([g for g in got if g[0] == "unique:phash"]) == 10

        # a third identical increment still flags (ledger grew, idempotent read)
        v3 = cross_increment_dup_violations(inc2, spec, ledger, update=False)
        assert v3.where("constraint_id = 'pk:image_id'").count() >= 10


def test_run_resumable_with_ledger(spark):
    import tempfile as tf

    from python_extended_json_schema_validator_spark.manifest import KeyLedger

    with tf.TemporaryDirectory() as d:
        manifest = PartitionManifest(path=f"{d}/manifest")
        ledger = KeyLedger(root=f"{d}/keys")
        images = synth.images_from_range(spark, 100, partitions=2).cache()
        formats = synth.formats_dim(spark)
        v1, m1, _ = run_resumable(images, formats, manifest, key_ledger=ledger)
        n1 = v1.count()
        # same table again: everything completed → nothing pending, no dups
        v2, m2, _ = run_resumable(images, formats, manifest, key_ledger=ledger)
        assert v2.count() == 0 and m2.count() == 0


def test_partition_metrics_counts(spark):
    images = synth.images_from_range(spark, 200, partitions=4)
    from python_extended_json_schema_validator_spark.payload.validate import (
        validate_images,
    )

    viol = validate_images(images, synth.formats_dim(spark))
    viol = viol.persist()
    m = partition_metrics(images, viol, "image_id", "part")
    rows = m.collect()
    assert sum(r.n_rows for r in rows) == 200
    total_viol = viol.count()
    # attribution rule: dup-id violations implicate every partition
    # holding the colliding id, so the sum can exceed the raw count
    assert total_viol <= sum(r.n_violations for r in rows) <= total_viol + 4
    for r in rows:
        assert r.n_failed <= r.n_violations


def test_partition_metrics_table_level_verdicts(spark):
    """Table-level verdict rows (drift / HLL screens emit row_id
    '(all)') have no row to join — they must count toward
    n_violations of EVERY pending partition (the whole increment
    drifted) but never toward n_failed, so sum(n_violations)
    reconciles with the violations frame the caller receives
    (ADVICE r06: they were silently excluded before)."""
    images = synth.images_from_range(spark, 100, partitions=4)
    viol = spark.createDataFrame(
        [
            ("(all)", "drift", "decile_shift", "0.4", "/phash"),
            ("(all)", "hll_novelty", "novelty", "0.01", "/caption"),
            ("img00000003", "bad_w", "w", "-1", "/w"),
        ],
        "row_id string, constraint_id string, check string, "
        "observed_value string, path string",
    )
    m = partition_metrics(images, viol, "image_id", "part").collect()
    n_parts = len(m)
    assert n_parts >= 2
    for r in m:
        # both '(all)' rows hit every partition; the row-level one
        # lands only where img00000003 lives
        assert r.n_violations in (2, 3)
        assert r.n_failed in (0, 1)
    assert sum(r.n_violations for r in m) == n_parts * 2 + 1
    assert sum(r.n_failed for r in m) == 1


def test_manifest_fs_seam_fake_object_store(spark, tmp_path):
    """The manifest works against an abstract SnapshotFS: a fake
    object store that serves a FROZEN listing proves resume plans pin
    to the snapshot (appends after the listing are invisible)."""
    from python_extended_json_schema_validator_spark.manifest import (
        LocalFS, PartitionManifest,
    )

    path = str(tmp_path / "m")

    class FrozenFS:
        """Serves the listing captured at freeze() time."""

        def __init__(self):
            self.frozen = None

        def freeze(self):
            self.frozen = LocalFS().list_files(path)

        def list_files(self, p, suffix=".parquet"):
            assert p == path
            return self.frozen if self.frozen is not None else []

    fs = FrozenFS()
    m = PartitionManifest(path, fs=fs)
    metrics = spark.createDataFrame(
        [("p0", 10, 0, 0)], "partition string, n_rows long, n_failed long, n_violations long"
    )
    m.record(metrics)
    fs.freeze()
    assert m.completed(spark).count() == 1

    # append AFTER the freeze: the pinned read must not see it
    m2 = PartitionManifest(path)  # unfrozen writer
    m2.record(
        spark.createDataFrame(
            [("p1", 5, 0, 0)],
            "partition string, n_rows long, n_failed long, n_violations long",
        )
    )
    assert m.completed(spark).count() == 1  # still the snapshot
    assert m2.completed(spark).count() == 2


def test_hadoop_fs_listing_matches_local(spark, tmp_path):
    """HadoopFS through the session JVM lists the same files as POSIX
    for a file:// path — the cluster seam works without cluster."""
    from python_extended_json_schema_validator_spark.manifest import (
        HadoopFS, LocalFS, PartitionManifest,
    )

    path = str(tmp_path / "hm")
    m = PartitionManifest(path)
    m.record(
        spark.createDataFrame(
            [("p0", 1, 0, 0)],
            "partition string, n_rows long, n_failed long, n_violations long",
        )
    )
    local = LocalFS().list_files(path)
    hadoop = [
        f.replace("file:", "").replace("//", "/", 1) if f.startswith("file:") else f
        for f in HadoopFS(spark).list_files(path)
    ]
    assert local and [os.path.basename(f) for f in hadoop] == [
        os.path.basename(f) for f in local
    ]

    hm = PartitionManifest(path, fs=HadoopFS(spark))
    assert hm.completed(spark).count() == 1


def test_run_resumable_all_ledger_families(spark):
    """Round 6: one resumable increment call carries all three
    increment-ledger families — exact keys (KeyLedger), caption
    near-dups (MinHashLedger), distribution drift (QuantileLedger) —
    with every sketch append landing after the manifest commit."""
    import tempfile as tf

    from pyspark.sql import functions as F

    from python_extended_json_schema_validator_spark.manifest import (
        KeyLedger,
    )
    from python_extended_json_schema_validator_spark.pipeline.drift_ledger import (
        QuantileLedger,
    )
    from python_extended_json_schema_validator_spark.pipeline.incremental_neardup import (
        MinHashLedger,
    )

    def caption(idc):
        # disjoint 5-token captions per image so only the crafted
        # copycat is a near-dup
        return F.concat_ws(
            " ",
            F.concat(F.lit("w"), idc), F.concat(F.lit("x"), idc),
            F.concat(F.lit("y"), idc), F.concat(F.lit("z"), idc),
            F.concat(F.lit("q"), idc),
        )

    from python_extended_json_schema_validator_spark.pipeline.cardinality_ledger import (
        HllLedger,
    )

    with tf.TemporaryDirectory() as d:
        manifest = PartitionManifest(path=f"{d}/man")
        kled = KeyLedger(root=f"{d}/keys")
        ndled = MinHashLedger(root=f"{d}/nd", num_hashes=8)
        dled = QuantileLedger(root=f"{d}/drift")
        hled = HllLedger(root=f"{d}/hll")
        kwargs = dict(
            key_ledger=kled, neardup_ledger=ndled, drift_ledger=dled,
            drift_columns=("w", "h"),
            hll_ledger=hled, hll_column="caption",
        )
        formats = synth.formats_dim(spark)

        # 425 = lcm(25, 17): consecutive 425-key windows sample the
        # synthetic w/h cycles EVENLY, so untouched columns have
        # exactly equal decile snapshots across increments (no
        # false drift from fixture phase)
        inc1 = (
            synth.images_from_range(spark, 425, partitions=2)
            .withColumn("part", F.lit("a"))
            .withColumn("caption", caption(F.col("image_id")))
            .cache()
        )
        v1, m1, _ = run_resumable(inc1, formats, manifest, **kwargs)
        assert v1.where("reason = 'near_duplicate'").count() == 0
        assert v1.where("reason = 'distribution_drift'").count() == 0

        # increment 2: fresh ids, part 'b'; one caption copies an
        # inc1 caption (+1 token), and w is scaled 5x (drift)
        copy_of = "img00000007"
        inc2 = (
            synth.images_from_range(spark, 850, partitions=2)
            .where("image_id > 'img00000425'")
            .withColumn("part", F.lit("b"))
            .withColumn(
                "caption",
                F.when(
                    F.col("image_id") == "img00000426",
                    F.concat(
                        caption(F.lit(copy_of)), F.lit(" extra")
                    ),
                ).otherwise(caption(F.col("image_id"))),
            )
            .withColumn("w", F.col("w") * 5)
            .cache()
        )
        v2, m2, _ = run_resumable(inc2, formats, manifest, **kwargs)
        nd = {
            (r.row_id, r.observed_value.split(" @ ")[0])
            for r in v2.where("reason = 'near_duplicate'").collect()
        }
        assert ("img00000426", copy_of) in nd, nd
        drifts = {
            r.constraint_id
            for r in v2.where("reason = 'distribution_drift'").collect()
        }
        assert drifts == {"drift:w"}, drifts  # h untouched
        # captions are per-image fresh (one copycat) → novelty ≈ 1.0,
        # the cardinality screen stays quiet in both increments
        assert v1.unionByName(v2).where(
            "reason = 'cardinality_collapse'"
        ).count() == 0
        assert hled.next_seq(spark, "images", "caption") == 3

        # resume: everything completed → nothing pending, no verdicts
        v3, m3, _ = run_resumable(inc2, formats, manifest, **kwargs)
        assert v3.count() == 0 and m3.count() == 0


def test_run_resumable_av_ledger_families(spark):
    """Round 7: the audio/video ledger families through run_resumable
    — inc2's k=10 row carries clip/video content rebuilt from k=9's
    (the F12 k % 7 == 3 rule in attach_av_columns), so after inc1
    records keys 1..9 the second increment must flag img…10 against
    img…09 on BOTH modalities; inc1 itself runs against empty ledgers
    and must flag nothing."""
    import tempfile as tf

    from pyspark.sql import functions as F

    from python_extended_json_schema_validator_spark.pipeline.incremental_neardup import (
        AudioLedger,
        VideoLedger,
    )

    with tf.TemporaryDirectory() as d:
        manifest = PartitionManifest(path=f"{d}/man")
        kwargs = dict(
            audio_ledger=AudioLedger(f"{d}/audio"),
            video_ledger=VideoLedger(f"{d}/video"),
        )
        formats = synth.formats_dim(spark)
        inc1 = synth.attach_av_columns(
            synth.images_from_range(spark, 9, partitions=2)
        ).withColumn("part", F.lit("a")).cache()
        v1, _, _ = run_resumable(inc1, formats, manifest, **kwargs)
        assert v1.where("reason = 'near_duplicate'").count() == 0

        inc2 = synth.attach_av_columns(
            synth.images_from_range(spark, 16, partitions=2).where(
                "image_id > 'img00000009'"
            )
        ).withColumn("part", F.lit("b")).cache()
        v2, _, _ = run_resumable(inc2, formats, manifest, **kwargs)
        nd = v2.where("reason = 'near_duplicate'").collect()
        by_path = {}
        for r in nd:
            by_path.setdefault(r.path, set()).add(
                (r.row_id, r.observed_value.split(" @ ")[0])
            )
        # audio: chord of 9 reused at gain 0.45 → fingerprint hamming 0
        assert by_path.get("/audio") == {("img00000010", "img00000009")}
        # video: 9's 3 frames rebuilt ±2 noise → every frame votes
        assert by_path.get("/video") == {("img00000010", "img00000009")}
        vid_row = [r for r in nd if r.path == "/video"][0]
        assert vid_row.observed_value == "img00000009 @ 3"

        # resume: completed partitions pending-filtered → no verdicts
        v3, m3, _ = run_resumable(inc2, formats, manifest, **kwargs)
        assert v3.count() == 0 and m3.count() == 0


def test_run_resumable_embedding_ledger(spark):
    """The embedding ledger through run_resumable: inc2 rows whose
    one-hot embedding (k % 9) repeats an inc1 residue flag against
    the inc1 holder at cos 1.0; orthogonal residues stay silent."""
    import tempfile as tf

    from pyspark.sql import functions as F

    from python_extended_json_schema_validator_spark.pipeline.incremental_neardup import (
        EmbeddingLedger,
    )

    def with_emb(df):
        k = F.substring("image_id", 4, 8).cast("long") % 9
        return df.withColumn(
            "embedding",
            F.array(*[
                F.when(k == j, F.lit(1.0)).otherwise(F.lit(0.0))
                for j in range(9)
            ]),
        )

    with tf.TemporaryDirectory() as d:
        manifest = PartitionManifest(path=f"{d}/man")
        led = EmbeddingLedger(f"{d}/emb", dim=9)
        formats = synth.formats_dim(spark)
        inc1 = with_emb(
            synth.images_from_range(spark, 9, partitions=2)
        ).withColumn("part", F.lit("a")).cache()
        v1, _, _ = run_resumable(
            inc1, formats, manifest, embedding_ledger=led
        )
        assert v1.where("reason = 'near_duplicate'").count() == 0

        # keys 10..12 → residues 1..3 repeat inc1's keys 1..3
        inc2 = with_emb(
            synth.images_from_range(spark, 12, partitions=2).where(
                "image_id > 'img00000009'"
            )
        ).withColumn("part", F.lit("b")).cache()
        v2, _, _ = run_resumable(
            inc2, formats, manifest, embedding_ledger=led
        )
        nd = {
            (r.row_id, r.observed_value)
            for r in v2.where("reason = 'near_duplicate'").collect()
        }
        assert nd == {
            ("img00000010", "img00000001 @ 1.0"),
            ("img00000011", "img00000002 @ 1.0"),
            ("img00000012", "img00000003 @ 1.0"),
        }, nd


def test_key_ledger_compaction(spark, tmp_path):
    """Offline compaction folds an append-only key dir into one file
    with the key SET unchanged: dups recorded before and after
    compaction still flag, and later increments keep appending."""
    import os

    from python_extended_json_schema_validator_spark.manifest import (
        KeyLedger,
        cross_increment_dup_violations,
    )
    from python_extended_json_schema_validator_spark.payload.validate import (
        image_table_spec,
    )

    ledger = KeyLedger(root=str(tmp_path / "keys"))
    spec = image_table_spec()
    for lo in (1, 51, 101):  # three increments → ≥3 fragment files
        inc = synth.images_from_range(spark, lo + 49).where(
            f"image_id > 'img{lo - 1:08d}'"
        )
        cross_increment_dup_violations(inc, spec, ledger)
    path = ledger._path("images", "image_id")
    before = ledger.fs.list_files(path)
    keys_before = {r[0] for r in ledger.dim(spark, "images", "image_id").collect()}
    assert len(before) >= 3

    retired = ledger.compact(spark, "images", "image_id")
    assert retired == len(before)
    after = ledger.fs.list_files(path)
    assert len(after) == 1 and after[0].endswith(".parquet")
    keys_after = {r[0] for r in ledger.dim(spark, "images", "image_id").collect()}
    assert keys_after == keys_before
    assert not os.path.exists(f"{path}/__compact_tmp")

    # a re-send still collides against the compacted history, and a
    # fresh increment appends alongside the compacted file
    resend = synth.images_from_range(spark, 10)
    v = cross_increment_dup_violations(resend, spec, ledger, update=False)
    assert v.where("constraint_id = 'pk:image_id'").count() == 10
    fresh = synth.images_from_range(spark, 160).where(
        "image_id > 'img00000150'"
    )
    cross_increment_dup_violations(fresh, spec, ledger)
    assert len(ledger.fs.list_files(path)) >= 2
    assert ledger.compact(spark, "images", "image_id") >= 2


def _tree(root):
    """{relative dir: data-file suffixes} under ``root`` — hidden
    checksum files and Spark's ``_SUCCESS`` markers left out."""
    out = {}
    for d, _, files in os.walk(root):
        rel = os.path.relpath(d, root)
        out[rel] = {
            "." + f.rsplit(".", 1)[-1]
            for f in files if not f.startswith((".", "_"))
        }
    return out


def test_ledger_on_disk_layout(spark, tmp_path):
    """Every persisted store records once into its documented layout:
    sub-directory names, the meta/vmeta parameter files, the
    table/label and table/column paths (labels rewrite '/' → '_' and
    ',' → '+'), and parquet part files.  Roots written by earlier
    versions must keep opening, so this tree must never move."""
    from python_extended_json_schema_validator_spark.manifest import KeyLedger
    from python_extended_json_schema_validator_spark.pipeline.cardinality_ledger import (
        HllLedger,
    )
    from python_extended_json_schema_validator_spark.pipeline.curation import (
        QuotaLedger,
    )
    from python_extended_json_schema_validator_spark.pipeline.drift_ledger import (
        QuantileLedger,
    )
    from python_extended_json_schema_validator_spark.pipeline.incremental_neardup import (
        AudioLedger, EmbeddingLedger, MinHashLedger, PhashLedger, VideoLedger,
    )

    root = str(tmp_path)
    PartitionManifest(f"{root}/manifest").record(spark.createDataFrame(
        [("p0", 3, 1, 1)],
        "partition string, n_rows long, n_failed long, n_violations long",
    ))
    KeyLedger(f"{root}/keys").record(
        spark.createDataFrame([("k1",), ("k2",)], "__key string"),
        "t", "a/b,c",
    )
    QuotaLedger(f"{root}/quota").record(
        spark.createDataFrame([("en", 2)], "lang string, kept long")
    )
    MinHashLedger(f"{root}/minhash").record(spark.createDataFrame(
        [("d1", *[f"x{i}" for i in range(8)])],
        "doc string, " + ", ".join(f"h{i} string" for i in range(8)),
    ))
    sig = spark.createDataFrame([("d1", 12345)], "doc string, phash long")
    PhashLedger(f"{root}/phash").record(sig)
    AudioLedger(f"{root}/audio").record(sig)
    VideoLedger(f"{root}/video").record(sig)
    EmbeddingLedger(f"{root}/emb", dim=3).record(spark.createDataFrame(
        [("d1", [1.0, 0.0, 0.0])], "doc string, vec array<double>"
    ))
    QuantileLedger(f"{root}/drift").record(
        spark.createDataFrame([(1.0, 2.0)], "p10 double, p90 double"),
        "t", "x", 1,
    )
    hll = HllLedger(f"{root}/hll")
    hll.record(
        hll.sketch(spark.createDataFrame([("a",), ("b",)], "v string"), "v"),
        "t", "v", 1,
    )

    pq = {".parquet"}
    assert _tree(root) == {
        ".": set(),
        "manifest": pq,
        "keys": set(), "keys/t": set(), "keys/t/a_b+c": pq,
        "quota": pq,
        "minhash": set(), "minhash/meta": pq, "minhash/sigs": pq,
        "minhash/bands": pq,
        "phash": set(), "phash/meta": pq, "phash/sigs": pq,
        "phash/blocks": pq,
        "audio": set(), "audio/meta": pq, "audio/sigs": pq,
        "audio/blocks": pq,
        "video": set(), "video/vmeta": pq, "video/meta": pq,
        "video/sigs": pq, "video/blocks": pq,
        "emb": set(), "emb/meta": pq, "emb/vecs": pq, "emb/buckets": pq,
        "drift": set(), "drift/t": set(), "drift/t/x": pq,
        "hll": set(), "hll/t": set(), "hll/t/v": pq,
    }


def test_failed_append_publishes_nothing(spark, tmp_path):
    """Kill point on the ledger primitive: an append whose Spark job
    dies partway (one task's UDF raises while the others commit)
    publishes no part file — the pinned read and next_seq are
    unchanged — and a retried append then lands normally."""
    from python_extended_json_schema_validator_spark.ledger import (
        LocalFS, append, next_seq, read_pinned,
    )

    fs, path = LocalFS(), str(tmp_path / "snap")
    append(spark.range(20).select(
        F.lit(1).cast("long").alias("__seq"), "id"
    ), path)
    before = fs.list_files(path)
    assert next_seq(spark, fs, path) == 2

    @F.udf("long")
    def dies_on_13(i):
        if i == 13:
            raise RuntimeError("killed mid-append")
        return i

    def increment(ident):
        return spark.range(0, 40, 1, 4).select(
            F.lit(2).cast("long").alias("__seq"), ident.alias("id")
        )

    with pytest.raises(Exception, match="killed mid-append"):
        append(increment(dies_on_13("id")), path)
    assert fs.list_files(path) == before
    assert next_seq(spark, fs, path) == 2
    assert read_pinned(spark, fs, path).count() == 20

    append(increment(F.col("id")), path)
    assert next_seq(spark, fs, path) == 3
    assert read_pinned(spark, fs, path).count() == 60


def test_run_resumable_killed_after_manifest_commit(spark, tmp_path, monkeypatch):
    """Kill point between the manifest commit and the first ledger
    append: the re-run finds nothing pending (no self-collision), and
    the killed increment's keys and sketches never reach the ledgers —
    the documented bounded false negative: a later re-send of its rows
    is missed, while re-sends of earlier increments still flag."""
    from python_extended_json_schema_validator_spark.manifest import (
        KeyLedger, cross_increment_dup_violations,
    )
    from python_extended_json_schema_validator_spark.payload.validate import (
        image_table_spec,
    )
    from python_extended_json_schema_validator_spark.pipeline.incremental_neardup import (
        MinHashLedger, cross_increment_near_duplicates,
    )

    def inc(lo, hi, part):
        return (
            synth.images_from_range(spark, hi, partitions=2)
            .where(f"image_id > 'img{lo - 1:08d}'")
            .withColumn("part", F.lit(part))
            .withColumn("caption", F.concat_ws(
                " ", *[F.concat(F.lit(w), "image_id") for w in "vwxyz"]
            ))
        )

    manifest = PartitionManifest(str(tmp_path / "man"))
    keys = KeyLedger(str(tmp_path / "keys"))
    sketches = MinHashLedger(str(tmp_path / "nd"), num_hashes=8)
    kwargs = dict(key_ledger=keys, neardup_ledger=sketches)
    formats = synth.formats_dim(spark)

    def recorded():
        return (
            {r[0] for r in keys.dim(spark, "images", "image_id").collect()},
            {r.doc for r in sketches.sigs_dim(spark).collect()},
        )

    run_resumable(inc(1, 20, "a").cache(), formats, manifest, **kwargs)
    inc1_ids = {f"img{k:08d}" for k in range(1, 21)}
    # canonical keys of atomic strings are their compact JSON form
    inc1 = ({f'"{i}"' for i in inc1_ids}, inc1_ids)
    assert recorded() == inc1

    commit = manifest.record

    def commit_then_die(*args, **kw):
        commit(*args, **kw)
        raise RuntimeError("killed after the manifest commit")

    inc2 = inc(21, 40, "b").cache()
    monkeypatch.setattr(manifest, "record", commit_then_die)
    with pytest.raises(RuntimeError, match="killed after"):
        run_resumable(inc2, formats, manifest, **kwargs)
    monkeypatch.undo()

    v, m, _ = run_resumable(inc2, formats, manifest, **kwargs)
    assert m.count() == 0 and v.count() == 0
    assert recorded() == inc1

    # a later increment re-sending ids 1..5 (inc1) and 21..25 (inc2):
    # only the inc1 re-sends flag — inc2's keys were lost with the crash
    resend = inc(1, 25, "c").where(
        "image_id <= 'img00000005' or image_id > 'img00000020'"
    )
    pk = cross_increment_dup_violations(
        resend, image_table_spec(), keys, update=False
    ).where("constraint_id = 'pk:image_id'")
    assert {r.row_id for r in pk.collect()} == {
        f"img{k:08d}" for k in range(1, 6)
    }
    nd = cross_increment_near_duplicates(
        resend, "image_id", sketches, text_col="caption", update=False
    )
    assert {r.doc_new for r in nd.collect()} == {
        f"img{k:08d}" for k in range(1, 6)
    }


def test_minhash_record_killed_between_sigs_and_bands(spark, tmp_path, monkeypatch):
    """Kill point inside MinHashLedger.record, after the sigs append
    and before the bands append: the orphan signatures are never a
    candidate (candidates come from bands only), so a later probe
    neither raises nor reports a false positive."""
    from python_extended_json_schema_validator_spark.pipeline import (
        incremental_neardup as nd,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "id string, text string")

    def text(tag):
        return " ".join(f"{tag}{i}" for i in range(12))

    led = nd.MinHashLedger(str(tmp_path / "nd"), num_hashes=8)
    nd.record_sketches(docs([("a1", text("alpha")), ("a2", text("beta"))]),
                       "id", led)

    def killed(*args, **kw):
        raise RuntimeError("killed between the sigs and bands appends")

    monkeypatch.setattr(nd.dedup, "band_buckets", killed)
    with pytest.raises(RuntimeError, match="killed between"):
        nd.record_sketches(
            docs([("b1", text("gamma")), ("b2", text("delta"))]), "id", led
        )
    monkeypatch.undo()
    assert {r.doc for r in led.sigs_dim(spark).collect()} == {
        "a1", "a2", "b1", "b2"
    }
    assert {r.doc for r in led.bands_dim(spark).collect()} == {"a1", "a2"}

    probe = docs([("c1", text("alpha")), ("c2", text("gamma")),
                  ("c3", text("omega"))])
    got = {
        (r.doc_new, r.doc_prior, r.est_jaccard)
        for r in nd.cross_increment_near_duplicates(
            probe, "id", led, update=False
        ).collect()
    }
    assert got == {("c1", "a1", 1.0)}
