"""Correctness gate: the triples a workload wrote, for the documents it
checks, must equal a reference exactly.

Two references, neither of which runs Spark's stage code:

* the checked-in goldens (``data/golden/triples.jsonl``, the 200 fixture
  documents of seed 42), renamed to the ids they carry in the workload;
* a single-process re-derivation of a seeded sample of the workload's own
  documents with ``readability.extract`` and ``linking.triples_for_doc``,
  over the same alias dictionary the workload used.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recrun_spark.fixtures.aliases import STRONG_PRIOR
from recrun_spark.linking import (build_alias_pattern, build_link_map,
                                  canonical_map, find_mentions,
                                  triples_for_doc)
from recrun_spark.readability import Settings, extract

GOLDEN_DOCS = 200
GOLDEN_SEED = 42
GOLDEN_PREFIX = "g"
DOC_ID_PREDS = ("mentioned_in", "next_page_of")  # obj is the doc id


def golden_triples(root: str) -> dict:
    """{renamed doc_id: set of (subj, pred, obj, doc_id)} from the goldens,
    with an empty set for every golden doc that yields no triple."""
    out: dict = {f"{GOLDEN_PREFIX}doc{ix:06d}": set()
                 for ix in range(GOLDEN_DOCS)}
    with open(os.path.join(root, "data", "golden", "triples.jsonl")) as f:
        for line in f:
            s, p, o, d = json.loads(line)
            d = GOLDEN_PREFIX + d
            if p in DOC_ID_PREDS:
                o = GOLDEN_PREFIX + o
            out.setdefault(d, set()).add((s, p, o, d))
    return out


def reference_triples(aliases: DataFrame, surfaces: list, docs) -> dict:
    """{doc_id: triples} for ``docs`` = [(doc_id, spans)], derived in this
    process.  Only dictionary rows that can matter are fetched: the rows of
    the surfaces the sample mentions (for the link) and the strong rows
    (the same-as graph for the canonical map)."""
    settings = Settings.shipped()
    pattern = build_alias_pattern(surfaces)
    recs = {d: extract(spans, settings, renders=False) for d, spans in docs}
    hit = {s for rec in recs.values()
           for kind, text, _m, _o in rec["retained_spans"]
           if kind == "text" and text
           for s, _ in find_mentions(text, pattern)}
    link_map = build_link_map(_rows(aliases.where(F.col("alias").isin(
        sorted(hit)))))
    canon = canonical_map(_rows(aliases.where(
        F.col("prior") >= STRONG_PRIOR)))
    return {d: triples_for_doc(d, rec["retained_spans"], rec["next_page"],
                               pattern, link_map, canon)
            for d, rec in recs.items()}


def _rows(df: DataFrame) -> list:
    t = df.select("alias", "entity_id", "prior").toArrow()
    return list(zip(*(t.column(c).to_pylist()
                      for c in ("alias", "entity_id", "prior"))))


def written_triples(triples: DataFrame, doc_ids) -> dict:
    t = (triples.where(F.col("doc_id").isin(sorted(doc_ids)))
         .select("subj", "pred", "obj", "doc_id").toArrow())
    out: dict = {}
    for row in zip(*(t.column(c).to_pylist()
                     for c in ("subj", "pred", "obj", "doc_id"))):
        out.setdefault(row[3], set()).add(row)
    return out


def wrong_docs(expected: dict, written: dict) -> list:
    """Doc ids whose written triples differ from the expected ones (missing,
    extra or wrong), including docs with no triples written at all."""
    return sorted(d for d, exp in expected.items()
                  if written.get(d, set()) != exp)
