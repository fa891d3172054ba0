"""Check each generator's planted expectation against an independent
recomputation over the files it wrote, at a small size:

- image_increments: DuckDB SQL over each increment's image rows, with
  each image's header, CRC and pixels read by ``struct``/``zlib`` here
  rather than by the package's codec, and PSNR against the codec's
  reference pixels computed here; the ledger collisions in DuckDB SQL
  against the base increment's surviving rows, and the near duplicates
  as exact word-shingle Jaccard similarities;
- json_documents: the ``jsonschema`` library, document by document, for
  every schema error the generator planted.

    python3 perfbench/check_planted.py [--seed N]

Exits 0 when every workload agrees, 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import struct
import sys
import zlib
from collections import Counter, defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402

IMAGE_SQL = """
WITH
i AS (SELECT *, w >= 1 AND h >= 1 AND caption IS NOT NULL ok, image_id rid
      FROM hdr),
-- ties on one row id: all but one of the tied registrations errors
pk AS (SELECT rid,
         row_number() OVER w > rank() OVER w
         OR max(CASE WHEN ok THEN 1 ELSE 0 END) OVER (w ROWS BETWEEN
            UNBOUNDED PRECEDING AND 1 PRECEDING) = 1 flagged
       FROM i WINDOW w AS (PARTITION BY image_id ORDER BY rid)),
ph AS (SELECT rid,
         row_number() OVER w > rank() OVER w
         OR max(CASE WHEN ok THEN 1 ELSE 0 END) OVER (w ROWS BETWEEN
            UNBOUNDED PRECEDING AND 1 PRECEDING) = 1 flagged
       FROM i WINDOW w AS (PARTITION BY phash ORDER BY rid))
SELECT 'check:w:minimum', 'minimum', rid FROM i WHERE w < 1
UNION ALL SELECT 'pk:image_id', 'dup_pk', rid FROM pk WHERE flagged
UNION ALL SELECT 'unique:phash', 'dup_unique', rid FROM ph WHERE flagged
UNION ALL SELECT 'fk:images.fmt->formats', 'stale_fk', rid FROM i
  WHERE ok AND fmt NOT IN (SELECT fmt FROM '{d}/formats/*.parquet')
UNION ALL SELECT 'payload:decode', 'decode', rid FROM i WHERE NOT decodes
UNION ALL SELECT 'payload:dims', 'dims', rid FROM i
  WHERE decodes AND (w <> actual_w OR h <> actual_h)
UNION ALL SELECT 'payload:fmt', 'fmt', rid FROM i WHERE decodes AND fmt <> actual_fmt
UNION ALL SELECT 'payload:psnr', 'psnr', rid FROM i WHERE decodes AND noisy
UNION ALL SELECT 'payload:caption', 'caption', rid FROM i
  WHERE caption IS DISTINCT FROM 'caption for image ' || image_id
"""

HEADER = struct.Struct("<4sBHHQI")
PSNR_MIN_DB = 40.0
FMT_NAMES = {0: "jpeg", 1: "png", 2: "webp"}


def _report(name: str, expected: dict, got: dict) -> bool:
    ok = (expected["count"], expected["hash"]) == (got["count"], got["hash"])
    print(f"{name}: {'OK' if ok else 'MISMATCH'} "
          f"({got['count']} recomputed, {expected['count']} planted)")
    if not ok:
        e, g = Counter(expected["by_constraint"]), Counter(got["by_constraint"])
        print(f"  planted only: {dict(e - g)}\n  recomputed only: {dict(g - e)}")
    return ok


def _psnr_db(body: bytes, w: int, h: int, seed: int) -> float:
    """PSNR of the stored pixels against the codec's reference pixels
    for the image's seed, computed here with numpy."""
    import numpy as np

    from python_extended_json_schema_validator_spark.payload import codec

    px = np.frombuffer(zlib.decompress(body), np.uint8).reshape(h, w, 3)
    mse = np.mean((px.astype(np.float64) - codec.ref_pixels(seed, w, h)) ** 2)
    return float("inf") if mse == 0 else 10 * np.log10(255.0 ** 2 / mse)


def _image_rows(rows):
    """DuckDB-ready header facts for each image row: what its bytes
    actually hold, read by ``struct``/``zlib`` here."""
    import pandas as pd

    hdr = []
    for row in rows.itertuples():
        magic, fmt, w, h, seed, crc = HEADER.unpack_from(row.bytes, 0)
        body = row.bytes[HEADER.size:]
        decodes = magic == b"FIMG" and zlib.crc32(body) == crc
        noisy = decodes and _psnr_db(body, w, h, seed) < PSNR_MIN_DB
        hdr.append((row.image_id, row.w, row.h, row.fmt, row.caption, row.phash,
                    decodes, w, h, FMT_NAMES.get(fmt), noisy))
    return pd.DataFrame(hdr, columns=[
        "image_id", "w", "h", "fmt", "caption", "phash", "decodes", "actual_w",
        "actual_h", "actual_fmt", "noisy"])


def _near_duplicates(new, prior):
    """(doc_new, doc_prior) pairs whose word-3-shingle sets have an
    exact Jaccard similarity of at least the workload's threshold."""
    from perfbench.workloads.image_increments import NEAR_MIN

    def shingles(text):
        w = text.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    index = defaultdict(set)
    prior_sh = {}
    for doc, text in prior:
        prior_sh[doc] = shingles(text)
        for sh in prior_sh[doc]:
            index[sh].add(doc)
    pairs = []
    for doc, text in new:
        mine = shingles(text)
        for other in set().union(*(index[sh] for sh in mine)):
            theirs = prior_sh[other]
            if len(mine & theirs) / len(mine | theirs) >= NEAR_MIN:
                pairs.append((doc, other))
    return pairs


def check_images(work: str, seed: int) -> bool:
    """The base increment, then the measured increment against what
    the base committed: its pending rows (partitions the base did not
    finish), their own violations, key collisions with the base's
    surviving rows and near duplicates of the base's descriptions."""
    import duckdb
    import pandas as pd

    from perfbench.workloads import image_increments as I

    meta = I.generate(work, seed, None, images=1_200, base_images=600)
    base = pd.read_parquet(f"{work}/base")
    inc = pd.read_parquet(f"{work}/increment")
    pending = inc[~inc["batch"].isin(set(base["batch"]))]

    hdr = _image_rows(base)  # noqa: F841 - read by DuckDB
    ok = _report("image_increments base", meta["base"], common.expectation(
        duckdb.sql(IMAGE_SQL.format(d=work)).fetchall()))

    hdr = _image_rows(pending)  # noqa: F841 - read by DuckDB
    rows = duckdb.sql(IMAGE_SQL.format(d=work)).fetchall()
    held = _image_rows(base)  # noqa: F841 - read by DuckDB
    rows += duckdb.sql("""
        WITH h AS (SELECT * FROM held WHERE w >= 1 AND h >= 1
                   AND caption IS NOT NULL),
             n AS (SELECT * FROM hdr WHERE w >= 1 AND h >= 1
                   AND caption IS NOT NULL)
        SELECT 'pk:image_id', 'dup_pk', image_id FROM n
          WHERE image_id IN (SELECT image_id FROM h)
        UNION ALL SELECT 'unique:phash', 'dup_unique', image_id FROM n
          WHERE phash IN (SELECT phash FROM h)""").fetchall()
    rows += [("neardup:description", "near_duplicate", doc)
             for doc, _ in _near_duplicates(
                 zip(pending["doc_id"], pending["description"]),
                 zip(base["doc_id"], base["description"]))]
    return _report("image_increments", meta, common.expectation(rows)) and ok


def check_json(work: str, seed: int) -> bool:
    import jsonschema
    import pandas as pd

    from perfbench.workloads import json_documents as J

    meta = J.generate(work, seed, None, docs=2_000)
    schemas = {s["$id"]: s for s in J.SCHEMAS.values()}
    planted = defaultdict(list)
    key_reasons = {"dup_pk", "dup_unique", "stale_fk"}
    for _cid, reason, doc in meta["tuples"]:
        if reason not in key_reasons:
            planted[doc].append(reason)
    docs = pd.read_parquet(f"{work}/docs")
    bad = 0
    for row in docs.itertuples():
        try:
            doc = json.loads(row.json)
        except json.JSONDecodeError:
            found = ["fatal"]
        else:
            v = jsonschema.Draft7Validator(schemas[row.schema])
            found = [e.validator for e in v.iter_errors(doc)]
        if sorted(found) != sorted(planted.get(row.file, [])):
            bad += 1
            if bad <= 5:
                print(f"  {row.file}: jsonschema {sorted(found)}, "
                      f"planted {sorted(planted.get(row.file, []))}")
    print(f"json_documents: {'OK' if not bad else 'MISMATCH'} "
          f"({len(docs)} documents, {bad} disagree)")
    return not bad


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    from perfbench import run

    work = os.path.join(ROOT, ".perfbench_work", f"check-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    run._env(work)
    try:
        ok = check_json(f"{work}/json", args.seed)
        ok &= check_images(f"{work}/images", args.seed)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
