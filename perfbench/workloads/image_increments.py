"""image_increments: an increment of synthetic images from
``payload.synth`` validated resumably on top of the state an earlier
increment left — the composition of ``manifest.run_resumable``, called
through its public pieces so each gets its own span.

Set-up commits the base increment (1000 images in partitions
p00-p03) through the same steps into a base state: manifest, key ledger
and MinHash ledger.  Every pass starts from a fresh copy of that state
and delivers the measured increment (3000 new images in p04-p07, plus
earlier rows re-sent and the finished partition p03 delivered again):

1. ``PartitionManifest.filter_pending`` drops the finished partition;
2. ``payload.validate.validate_images`` validates the rest against the
   formats dim (row checks, PK, unique phash, FK, PNG decode, dims,
   format, PSNR and caption checks);
3. ``cross_increment_dup_violations`` probes the ``KeyLedger`` for keys
   the base increment recorded;
4. ``cross_increment_near_duplicates`` probes the ``MinHashLedger``
   with each row's description;
5. the violations are gated, ``partition_metrics`` + ``manifest.record``
   commit the partitions, then the key and sketch ledgers are appended
   (the manifest-first order ``run_resumable`` uses).

The pass ends with a resume over both increments, which must find
nothing pending.  Both validated images per second and the cost of
the written state (a change that trades write cost or state size for
read speed) show here.

Planted, besides synth's own injection rules (see ``payload/synth.py``):
20% of the measured increment's size re-sends base rows (same image,
same description: dup_pk + dup_unique against the key ledger and a
near duplicate against the sketch ledger), and 1% of its new rows copy
a base row's description under a new key (a near duplicate only).
The base images' keys are offset by the seed, which moves the rows
synth's injection rules hit.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from .. import common
from ..trace import spans

BASE_IMAGES = 1_000
IMAGES = 3_000
PARTS_PER_INCREMENT = 4
RESEND_FRAC = 0.2
TEXT_COPY_FRAC = 0.01
WORDS = 12
VOCAB = 2000
NEAR_MIN = 0.5
FMTS = ["jpeg", "png", "webp"]


def key_range(seed: int, n: int):
    start = 1 + (seed % 997) * 100_000
    return range(start, start + n)


def image_id_of(k: int) -> str:
    return f"img{k - 1 if k % 73 == 0 and k >= 73 else k:08d}"


def passes_row_checks(k: int) -> bool:
    """Only synth's negative declared width fails a row check."""
    return k % 101 != 0


def phash_source(k: int) -> int:
    """synth's phash is injective in this source key."""
    return k - 3 if k % 71 == 0 and k >= 71 else k


def validate_images_violations(keys) -> list:
    """What ``validate_images`` reports for a table of synth rows with
    the (distinct) source keys ``keys``: synth's injection rules plus
    the engine's registration-time dup semantics."""
    present = set(keys)
    out = []
    for k in keys:
        rid = image_id_of(k)
        if k % 101 == 0:
            out.append(("check:w:minimum", "minimum", rid))
        if k % 73 == 0 and k >= 73 and (k - 1) in present:
            # both rows carry img(k-1); exactly one of the tied
            # registrations follows the other and is flagged
            out.append(("pk:image_id", "dup_pk", rid))
        if (k % 71 == 0 and k >= 71 and (k - 3) in present
                and passes_row_checks(k - 3)):
            out.append(("unique:phash", "dup_unique", rid))
        if k % 103 == 0 and passes_row_checks(k):
            out.append(("fk:images.fmt->formats", "stale_fk", rid))
        if k % 97 == 0:
            out.append(("payload:decode", "decode", rid))
        else:
            if k % 101 == 0 or k % 89 == 0:
                out.append(("payload:dims", "dims", rid))
            if k % 103 == 0:
                out.append(("payload:fmt", "fmt", rid))
            if k % 83 == 0:
                out.append(("payload:psnr", "psnr", rid))
        if k % 79 == 0:
            out.append(("payload:caption", "caption", rid))
    return out


def _write_increment(path, rows):
    """rows: (source key, partition, description); synth makes each
    image from its key."""
    from python_extended_json_schema_validator_spark.payload import synth

    pdf = synth._gen_batch(pd.DataFrame({"k": [k for k, _, _ in rows]}))
    pdf["batch"] = [f"p{p:02d}" for _, p, _ in rows]
    pdf["doc_id"] = [f"d{k}" for k, _, _ in rows]
    pdf["description"] = [t for _, _, t in rows]
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf.drop(columns=["part"]),
                                        preserve_index=False),
                   f"{path}/part-0.parquet")


def generate(out: str, seed: int, spark=None, images: int = IMAGES,
             base_images: int = BASE_IMAGES) -> dict:
    rng = np.random.default_rng([seed, 3])
    keys = np.array(key_range(seed, base_images + images))
    base_keys, new_keys = keys[:base_images], keys[base_images:]
    ppi = PARTS_PER_INCREMENT
    vocab = np.array([f"w{i}" for i in range(VOCAB)], dtype=object)
    text = {int(k): " ".join(rng.choice(vocab, WORDS)) for k in keys}

    base_part = (np.arange(base_images) * ppi) // base_images
    base = [(int(k), int(p), text[int(k)]) for k, p in zip(base_keys, base_part)]
    new_part = ppi + (np.arange(images) * ppi) // images
    rows = [(int(k), int(p), text[int(k)]) for k, p in zip(new_keys, new_part)]
    # each base row is re-sent or has its description copied at most once
    picks = rng.choice(base_keys, int(images * RESEND_FRAC), replace=False)
    left = np.setdiff1d(base_keys, picks)
    n_copy = max(1, int(images * TEXT_COPY_FRAC))
    sources = rng.choice(left, n_copy, replace=False)
    for t, src in zip(rng.choice(images, n_copy, replace=False), sources):
        k, p, _ = rows[t]
        rows[t] = (k, p, text[int(src)])
    rows += [(int(k), ppi, text[int(k)]) for k in picks]
    # the last base partition comes again; the manifest must drop it
    redeliver = [r for r in base if r[1] == ppi - 1]

    def expected(batch, held_ids, held_ph, prior_texts):
        ks = [k for k, _, _ in batch]
        exp = validate_images_violations(ks)
        for k, _, t in batch:
            if passes_row_checks(k):
                if image_id_of(k) in held_ids:
                    exp.append(("pk:image_id", "dup_pk", image_id_of(k)))
                if phash_source(k) in held_ph:
                    exp.append(("unique:phash", "dup_unique", image_id_of(k)))
            exp += [("neardup:description", "near_duplicate", f"d{k}")] * \
                prior_texts.get(t, 0)
        return exp

    exp_base = expected(base, set(), set(), {})
    survivors = [k for k, _, _ in base if passes_row_checks(k)]
    prior_texts = {}
    for _, _, t in base:
        prior_texts[t] = prior_texts.get(t, 0) + 1
    exp = expected(rows, {image_id_of(k) for k in survivors},
                   {phash_source(k) for k in survivors}, prior_texts)

    _write_increment(f"{out}/base", base)
    _write_increment(f"{out}/increment", rows + redeliver)
    os.makedirs(f"{out}/formats", exist_ok=True)
    pq.write_table(pa.table({"fmt": FMTS}), f"{out}/formats/part-0.parquet")

    meta = common.expectation(exp)
    meta["base"] = common.expectation(exp_base)
    meta["input_rows"] = len(rows)
    meta["sizes"] = {"base_images": base_images, "images": images,
                     "resent": len(picks), "description_copies": n_copy,
                     "redelivered": len(redeliver), "first_key": int(keys[0])}
    return meta


def force_image_layers(tr, images, formats):
    """Force the pieces ``validate_images`` unions, each on its own,
    through the public functions it calls."""
    from pyspark.sql import functions as F

    from python_extended_json_schema_validator_spark import ValidationEngine
    from python_extended_json_schema_validator_spark.payload import image_checks
    from python_extended_json_schema_validator_spark.payload.validate import (
        formats_spec, image_table_spec,
    )

    res = ValidationEngine([image_table_spec(), formats_spec()]).validate(
        {"images": images, "formats": formats}
    )
    tr.force("row_checks", common.union_all(res.row_viol.values()))
    tr.force("uniqueness", common.union_all(res.key_viol.values()))
    tr.force("referential", common.union_all(res.ref_viol.values()))
    ref = F.concat(F.lit("caption for image "), F.col("image_id"))
    tr.force("payload", image_checks.payload_violations(images).unionByName(
        image_checks.caption_violations(images, ref)))


class Workload:
    FACT = "increment"
    # committing the base increment in set-up runs the pass's code
    SETUP_WARMS = True

    def __init__(self, spark, inputs: str, meta: dict):
        self.spark = spark
        self.inputs = inputs
        self.meta = meta
        self.work = os.path.dirname(inputs)
        self.passes = 0
        self.traced_counts = {}

    def setup(self) -> dict:
        """Commit the base increment into the base state."""
        t0 = time.perf_counter()
        base = f"{self.work}/state-base"
        result = self._increment(base, f"{self.inputs}/base")
        if result[:2] != (self.meta["base"]["count"], self.meta["base"]["hash"]):
            raise RuntimeError(f"base increment gave {result[:2]}, expected "
                               f"{self.meta['base']['count']} violations")
        self.base_size = common.dir_stats(base)
        return {"base_increment_s": time.perf_counter() - t0}

    def run_pass(self, tr=None):
        self.passes += 1
        state = f"{self.work}/state-{self.passes}"
        shutil.copytree(f"{self.work}/state-base", state)
        try:
            result = self._increment(state, f"{self.inputs}/increment", tr)
            self._resume(state, tr)
        finally:
            shutil.rmtree(state, ignore_errors=True)
        return result

    def _ledgers(self, state):
        from python_extended_json_schema_validator_spark.manifest import (
            KeyLedger, PartitionManifest,
        )
        from python_extended_json_schema_validator_spark.pipeline.incremental_neardup import (
            MinHashLedger,
        )

        return (PartitionManifest(f"{state}/manifest"),
                KeyLedger(f"{state}/keys"), MinHashLedger(f"{state}/minhash"))

    def _increment(self, state, path, tr=None):
        from pyspark.sql import functions as F

        from python_extended_json_schema_validator_spark.checks import (
            row_checks, uniqueness,
        )
        from python_extended_json_schema_validator_spark.manifest import (
            cross_increment_dup_violations, partition_metrics,
        )
        from python_extended_json_schema_validator_spark.payload.validate import (
            image_table_spec, validate_images,
        )
        from python_extended_json_schema_validator_spark.pipeline.incremental_neardup import (
            cross_increment_near_duplicates, record_sketches,
        )

        span = spans(tr)
        manifest, keys, sketches = self._ledgers(state)
        spec = image_table_spec()
        formats = self.spark.read.parquet(f"{self.inputs}/formats")
        inc = self.spark.read.parquet(path)
        with span("manifest.filter_pending"):
            pending = manifest.filter_pending(inc, "batch")
        with span("engine.plan"):
            viol = validate_images(pending, formats)
        with span("manifest.ledger_probe"):
            kv = cross_increment_dup_violations(pending, spec, keys, update=False)
        with span("neardup.probe"):
            cand = cross_increment_near_duplicates(
                pending, "doc_id", sketches, text_col="description",
                update=False,
            )
            near = cand.where(F.col("est_jaccard") >= NEAR_MIN).select(
                F.lit("neardup:description").alias("constraint_id"),
                F.lit("near_duplicate").alias("reason"),
                F.col("doc_new").alias("row_id"),
                F.concat(F.col("doc_prior"), F.lit(" @ "),
                         F.round("est_jaccard", 3).cast("string"))
                .alias("observed_value"),
                F.lit("/description").alias("path"),
            )
        viol = viol.unionByName(kv).unionByName(near).persist()
        try:
            with span("gate"):
                result, _ = common.gate(viol)
            with span("manifest.record"):
                manifest.record(partition_metrics(pending, viol, "image_id", "batch"))
            with span("manifest.ledger_append"):
                survivors = pending.where(row_checks.pass1_ok(
                    row_checks.compile_battery(spec.checks)))
                for ks in [*spec.unique, *spec.primary_keys]:
                    keys.record(uniqueness.keyed(survivors, spec, ks),
                                spec.name, ks.label)
            with span("neardup.record"):
                record_sketches(pending, "doc_id", sketches, text_col="description")
            if tr is not None:
                force_image_layers(tr, pending, formats)
                cands = tr.count("neardup.candidates", cand)
                verified = tr.count("neardup.verified", near)
                self.traced_counts = {
                    "neardup.candidates": cands,
                    "neardup.verified_per_candidate": verified / cands if cands else 0.0,
                }
        finally:
            viol.unpersist()
            kv.unpersist()
        return result

    def _resume(self, state, tr=None):
        """Resume over everything delivered: nothing may be pending."""
        span = spans(tr)
        manifest, _, _ = self._ledgers(state)
        everything = self.spark.read.parquet(
            f"{self.inputs}/base", f"{self.inputs}/increment")
        t0 = time.perf_counter()
        with span("manifest.resume"):
            left = manifest.filter_pending(everything, "batch").count()
        resume_s = time.perf_counter() - t0
        if left:
            raise RuntimeError(f"resume found {left} pending rows")
        size, files = common.dir_stats(state)
        self.traced_counts.update({
            "manifest.bytes_written": size - self.base_size[0],
            "manifest.files": files - self.base_size[1],
            "manifest.state_bytes_per_row": size / self.meta["input_rows"],
            "manifest.resume_noop_s": resume_s,
        })
