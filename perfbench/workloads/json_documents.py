"""json_documents: one ``suite.validate_json_table`` call over a table
of ``(file, json, schema)`` rows with the reference-parity defaults
(sequential forget, library fallback on).

Two schemas: ``author`` compiles clean (``anyOf``, an enum array, a
nested array ``works[].pages[]`` and a primary key);
``review`` holds object-shaped ``anyOf`` branches the compiler warns on,
so its documents validate through the ``library_fallback`` stage, and
it declares a foreign key to ``author``.  About 1% of the documents are
unparseable text.

Planted at documents chosen by the seeded generator:

- one schema error per listed keyword, at documents that are otherwise
  valid (the expected violation comes from the keyword's own rule);
- dup_pk on the author id;
- stale_fk from keys no author holds and from authors revoked by their
  schema errors;
- ``fatal`` for every unparseable document.

Every planted document sits in the second half of its schema's file
order and every duplicate copies a clean document from the first half,
so a duplicate's holder is always an earlier, valid document.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .. import common
from ..trace import spans

DOCS = 3_000
D07 = "http://json-schema.org/draft-07/schema#"
AUTHOR = "bench://author.json"
REVIEW = "bench://review.json"
GENRES = ["fiction", "poetry", "history", "science", "drama"]

SCHEMAS = {
    "author.json": {
        "$schema": D07, "$id": AUTHOR, "type": "object",
        "properties": {
            "aid": {"type": "string", "pattern": "^A[0-9]+$"},
            "name": {"type": "string", "minLength": 1},
            "email": {"type": "string"},
            "born": {"type": "integer", "minimum": 1800, "maximum": 2020},
            "genres": {"type": "array", "maxItems": 3,
                       "items": {"type": "string", "enum": GENRES}},
            "contact": {"anyOf": [{"type": "string", "pattern": "^[+][0-9]+$"},
                                  {"type": "integer"}]},
            "works": {"type": "array", "items": {
                "type": "object",
                "properties": {
                    "title": {"type": "string"},
                    "pages": {"type": "array",
                              "items": {"type": "integer", "minimum": 1}},
                },
            }},
        },
        "required": ["aid", "name", "email"],
        "primary_key": ["aid"],
    },
    "review.json": {
        "$schema": D07, "$id": REVIEW, "type": "object",
        "properties": {
            "rid": {"type": "string"},
            "author_id": {"type": "string"},
            "rows": {"type": "array", "items": {"anyOf": [
                {"type": "object",
                 "properties": {"kind": {"const": "point"},
                                "xy": {"type": "array", "minItems": 2,
                                       "items": {"type": "number"}}},
                 "required": ["kind", "xy"]},
                {"type": "object",
                 "properties": {"kind": {"const": "label"},
                                "text": {"type": "string", "minLength": 1}},
                 "required": ["kind", "text"]},
            ]}},
        },
        "required": ["rid", "author_id"],
        "foreign_keys": [{"schema_id": AUTHOR, "members": ["author_id"]}],
    },
}

# planted schema errors: kind -> (constraint_id, reason) expected from
# the engine for the compiled schemas, or from jsonschema for review
AUTHOR_ERRORS = {
    "no_name": ("check:name:required", "required"),
    "born": ("check:born:maximum", "maximum"),
    "email_type": ("check:email:type", "type"),
    "contact": ("check:contact:anyOf", "anyOf"),
    "genres": ("check:genres[]:maxItems", "maxItems"),
    "pages": ("check:works[].pages[]:minimum", "minimum"),
}
REVIEW_ERRORS = {
    "rows": ("lib:anyOf", "anyOf"),
    "no_author": ("lib:required", "required"),
}
ERROR_FRAC = 0.004
DUP_FRAC = 0.003
MISS_FRAC = 0.003
CORRUPT_FRAC = 0.01


def _author(j, tag, rng):
    aid = f"A{tag}{j:06d}"
    works = [{"title": f"work{c}", "pages": [int(p) for p in rng.integers(1, 400, 3)]}
             for c in range(int(rng.integers(1, 4)))]
    return {"_schema": AUTHOR, "aid": aid, "name": f"Author {j}",
            "email": f"{aid.lower()}@example.org", "born": 1850 + j % 150,
            "genres": GENRES[j % 3: j % 3 + 2], "contact": 5550000 + j,
            "works": works}


def _review(j, tag, author_id, rng):
    rows = [{"kind": "point", "xy": [float(rng.random()), float(rng.random())]},
            {"kind": "label", "text": f"note {j}"}]
    return {"_schema": REVIEW, "rid": f"R{tag}{j:06d}", "author_id": author_id,
            "rows": rows}


def _plan(rng, n, kinds, extra):
    """Assign disjoint second-half documents to each planted kind."""
    late = rng.permutation(np.arange(n // 2, n))
    out, at = {}, 0
    for k in list(kinds) + list(extra):
        frac = extra.get(k, ERROR_FRAC)
        take = max(1, int(n * frac))
        out[k] = late[at: at + take].tolist()
        at += take
    return out


def generate(out: str, seed: int, spark=None, docs: int = DOCS) -> dict:
    rng = np.random.default_rng([seed, 2])
    tag = f"{seed % 100:02d}"
    n_a = int(docs * 0.4)
    n_r = docs - n_a
    exp = []
    fatal = []

    # ---- authors
    a_plan = _plan(rng, n_a, AUTHOR_ERRORS,
                   {"dup_pk": DUP_FRAC, "corrupt": CORRUPT_FRAC})
    authors = [_author(j, tag, rng) for j in range(n_a)]
    for j in a_plan["no_name"]:
        del authors[j]["name"]
    for j in a_plan["born"]:
        authors[j]["born"] = 2100
    for j in a_plan["email_type"]:
        authors[j]["email"] = 12345 + j
    for j in a_plan["contact"]:
        authors[j]["contact"] = "unlisted"
    for j in a_plan["genres"]:
        authors[j]["genres"] = GENRES[:4]
    for j in a_plan["pages"]:
        authors[j]["works"] = [{"title": "bad", "pages": [3, 0]}]
    for j in a_plan["dup_pk"]:
        authors[j]["aid"] = authors[int(rng.integers(0, n_a // 2))]["aid"]
    a_err = {j for k in AUTHOR_ERRORS for j in a_plan[k]} | set(a_plan["corrupt"])
    a_forgot = set(a_plan["dup_pk"])
    held_aids = {authors[j]["aid"] for j in range(n_a)
                 if j not in a_err and j not in a_forgot}

    # ---- reviews (FK to author; library fallback)
    r_plan = _plan(rng, n_r, REVIEW_ERRORS,
                   {"miss": MISS_FRAC,
                    "corrupt": CORRUPT_FRAC})
    reviews = [
        _review(j, tag, authors[int(rng.integers(0, n_a))]["aid"], rng)
        for j in range(n_r)
    ]
    for j in r_plan["rows"]:
        reviews[j]["rows"] = [{"kind": "circle", "r": 3}]
    for j in r_plan["no_author"]:
        del reviews[j]["author_id"]
    for j in r_plan["miss"]:
        reviews[j]["author_id"] = "A99999999"
    r_err = {j for k in REVIEW_ERRORS for j in r_plan[k]} | set(r_plan["corrupt"])

    # ---- file order: each schema's documents keep their order
    slots = rng.permutation(np.repeat([0, 1], [n_a, n_r]))
    names = {0: [], 1: []}
    for i, s in enumerate(slots):
        names[int(s)].append(f"doc{i:07d}")
    files, texts, uris = [], [], []
    for s, (uri, docs_, plan) in enumerate(
        ((AUTHOR, authors, a_plan), (REVIEW, reviews, r_plan))
    ):
        corrupt = set(plan["corrupt"])
        for j, d in enumerate(docs_):
            text = json.dumps(d)
            if j in corrupt:
                text = text[: len(text) // 2]
                fatal.append(names[s][j])
            files.append(names[s][j])
            texts.append(text)
            uris.append(uri)

    def expect(names_, plan, errors, forgot_kinds, fk=None):
        for kind, (cid, reason) in errors.items():
            exp.extend((cid, reason, names_[j]) for j in plan[kind])
        for kind, (cid, reason) in forgot_kinds.items():
            exp.extend((cid, reason, names_[j]) for j in plan[kind])
        exp.extend(("doc:parse", "fatal", names_[j]) for j in plan["corrupt"])
        if fk is not None:
            cid, docs_, member, held, bad, forgot = fk
            for j, d in enumerate(docs_):
                if j in bad or j in forgot or member not in d:
                    continue
                if d[member] not in held:
                    exp.append((cid, "stale_fk", names_[j]))

    expect(names[0], a_plan, AUTHOR_ERRORS,
           {"dup_pk": ("pk:aid", "dup_pk")})
    expect(names[1], r_plan, REVIEW_ERRORS, {},
           (f"fk:{REVIEW}.author_id->{AUTHOR}", reviews, "author_id", held_aids,
            r_err, set()))

    os.makedirs(f"{out}/schemas", exist_ok=True)
    for fname, schema in SCHEMAS.items():
        with open(f"{out}/schemas/{fname}", "w") as f:
            json.dump(schema, f)
    os.makedirs(f"{out}/docs", exist_ok=True)
    order = rng.permutation(len(files))
    table = pa.table({
        "file": [files[i] for i in order],
        "json": [texts[i] for i in order],
        "schema": [uris[i] for i in order],
    })
    # one file: every Python stage over the documents then runs one
    # task per scan instead of one per file, and per-task Python start-up
    # dominates at this size
    pq.write_table(table, f"{out}/docs/part-0.parquet")

    meta = common.expectation(exp)
    meta["input_rows"] = len(files)
    meta["sizes"] = {"author": n_a, "review": n_r,
                     "corrupt": len(fatal)}
    return meta


class Workload:
    FACT = "docs"
    # set-up only compiles, so a traced run warms up with one untimed
    # pass first; an untraced run measures its pass cold, as a one-shot
    # validation process meets it (a pass costs 20-35 s on a 4-vCPU
    # box, which leaves no room for a warm-up in the run budget)
    SETUP_WARMS = False

    def __init__(self, spark, inputs: str, meta: dict):
        self.spark = spark
        self.inputs = inputs
        self.meta = meta

    def setup(self) -> dict:
        """Cold compile: schema load plus each table's row battery,
        before anything has been memoized."""
        from python_extended_json_schema_validator_spark.checks import (
            row_checks,
        )
        from python_extended_json_schema_validator_spark.schemas import (
            load_schemas,
        )

        t0 = time.perf_counter()
        registry, _issues = load_schemas(f"{self.inputs}/schemas")
        for cs in registry.values():
            spec = cs.table_spec
            row_checks.compile_battery(
                spec.checks, json_mode=spec.canonical_json,
                formats=spec.custom_formats,
            )
        compile_s = time.perf_counter() - t0
        warned = sorted(u for u, cs in registry.items() if cs.warnings)
        if warned != [REVIEW]:
            raise RuntimeError(f"expected only {REVIEW} to warn, got {warned}")
        self.schemas = []
        for fname in sorted(SCHEMAS):
            with open(f"{self.inputs}/schemas/{fname}") as f:
                self.schemas.append((fname, json.load(f)))
        return {"compile_s": compile_s}

    def run_pass(self, tr=None):
        from python_extended_json_schema_validator_spark.suite import (
            validate_json_table,
        )

        span = spans(tr)
        with span("engine.plan"):
            df = self.spark.read.parquet(f"{self.inputs}/docs")
            res, _registry = validate_json_table(
                self.spark, self.schemas, df, uri_col="schema"
            )
            viol = res.violations
        with span("gate"):
            result, _ = common.gate(viol)
        if tr is not None:
            self._force_layers(tr, res)
        return result

    def _force_layers(self, tr, res):
        shredded = list(res.tables.values())
        tr.materialize("docshred", shredded)
        try:
            tr.force("library_fallback", res.row_viol[REVIEW])
            tr.force("row_checks", common.union_all(
                v for u, v in res.row_viol.items() if u != REVIEW))
            tr.force("uniqueness", common.union_all(res.key_viol.values()))
            tr.force("referential", common.union_all(res.ref_viol.values()))
        finally:
            for t in shredded:
                t.unpersist()
