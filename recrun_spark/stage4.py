"""Stage 4 — triple assembly and partitioned materialization.

Implements the fixed triple rules of ``recrun_spark.linking`` as whole-
DataFrame operations (no Python in the batch plan).  Every rule is a
function of one document (``linking.triples_for_doc``), so the plan groups
once by ``doc_id`` into one (doc_id, es, imgs, nps) row per document and
expands each row into its triples (``expand_triples``, the rules as one
SQL expression):

* ``mentioned_in``      (canonical entity, doc) per entity
* ``co_mentioned_with`` (a, b) for a < b of the doc's entity set
* ``illustrated_by``    (canonical entity × retained img src)
* ``next_page_of``      (next_page url, doc) per non-empty next page

Scale notes:
* the canonical map is broadcast (|entities| rows);
* the one exchange is the hash on ``doc_id`` of the aggregate; the fan-out
  per doc (entities × imgs, entity pairs) is small and bounded, and it is
  expanded row-locally (the inverted-index pair expansion);
* there is no global dedup: ``collect_set`` / ``array_distinct`` make
  every per-doc array a set, the four preds are disjoint, and each doc is
  one group, so no triple can repeat;
* the sink partitions by ``pred`` (TableIO: Iceberg when configured,
  partitioned parquet + manifest otherwise) with per-partition lineage.

The stream (``streaming/kg.py``) builds its per-document rows in one
Python map (``document_rows``) instead of this aggregate, with no
exchange and no broadcast join, and expands them with the same
``expand_triples``, so batch and stream share the rules but not the
per-document grouping: ``test_incremental_kg_stream_equals_batch`` still
compares two implementations of it.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from .readability import Settings

TRIPLE_COLS = ("subj", "pred", "obj", "doc_id")

# one document's row: sorted canonical entity set, img refs, next pages
DOC_ROW_SCHEMA = StructType(
    [StructField("doc_id", StringType())]
    + [StructField(c, ArrayType(StringType())) for c in ("es", "imgs", "nps")])


def _triple(subj: str, pred: str, obj: str) -> str:
    return f"named_struct('subj', {subj}, 'pred', '{pred}', 'obj', {obj})"


# the rules over one document's row (es: its sorted canonical entity set,
# imgs: its img refs, nps: its next pages).  Co-mentions pair each entity
# with the ones after it in the sorted set, so a one-entity set yields an
# empty slice and no pair.
_RULES = f"""concat(
    transform(es, e -> {_triple('e', 'mentioned_in', 'doc_id')}),
    flatten(transform(es, (e, i) -> transform(slice(es, i + 2, size(es)),
        y -> {_triple('e', 'co_mentioned_with', 'y')}))),
    flatten(transform(es, e -> transform(imgs,
        m -> {_triple('e', 'illustrated_by', 'm')}))),
    transform(nps, n -> {_triple('n', 'next_page_of', 'doc_id')}))"""


def assemble_triples(extractions: DataFrame, linked_mentions: DataFrame,
                     canonical: DataFrame) -> DataFrame:
    # expressions are SQL text, one parse each on the JVM: from Python
    # lambdas and Column calls every variable, column and literal is a
    # Py4J round trip (~720 for this plan), paid by every micro-batch
    ents = (linked_mentions
            .join(F.broadcast(canonical), "entity_id")
            .selectExpr("doc_id", "canonical_id AS entity"))
    # per extraction row: its non-empty img refs, and its next page or null
    pages = extractions.selectExpr(
        "doc_id",
        "transform(filter(retained_spans, s -> s.kind = 'img'"
        " AND s.media_ref != ''), s -> s.media_ref) AS imgs",
        "nullif(next_page, '') AS next_page")

    docs = (ents.unionByName(pages, allowMissingColumns=True)
            .groupBy("doc_id")
            .agg(F.expr("sort_array(collect_set(entity)) AS es"),
                 F.expr("array_distinct(flatten(collect_list(imgs))) AS imgs"),
                 F.expr("collect_set(next_page) AS nps")))
    return expand_triples(docs)


def expand_triples(docs: DataFrame) -> DataFrame:
    """(doc_id, es, imgs, nps), one row per document -> its triples
    (TRIPLE_COLS).  ``es`` must be sorted and every array a set."""
    return docs.selectExpr(f"inline({_RULES})", "doc_id")


def document_rows(documents: DataFrame, key: bytes, entity_of,
                  settings: Optional[Settings] = None) -> DataFrame:
    """documents(doc_id, spans) -> DOC_ROW_SCHEMA rows in one Python pass
    (``mapInArrow``), the stream's replacement for stages 1-3 and this
    stage's aggregate: each document is folded (``stage1.fold_batch``, no
    renders), its text spans matched with the worker's cached matcher, and
    each mention mapped to its canonical entity through ``entity_of``, a
    broadcast of ``Dictionary.entity_of`` (``key``: the dictionary digest,
    the matcher-cache key stage 2 uses too).  Rows of one doc_id merge
    within a task only, so a doc_id repeated across tasks (files or
    splits) gets one row per task."""
    settings = settings or Settings.shipped()
    out_schema = to_arrow_schema(DOC_ROW_SCHEMA)

    def fn(batches):
        return _document_rows(batches, key, entity_of, settings, out_schema)

    return documents.select("doc_id", "spans").mapInArrow(
        fn, schema=DOC_ROW_SCHEMA)


def _document_rows(batches, key, entity_of, settings, out_schema):
    import pyarrow as pa

    from .linking import find_mentions
    from .stage1 import fold_batch
    from .stage2 import _cached_pattern
    link = entity_of.value
    pattern = _cached_pattern(key, link)  # built once per worker
    docs: dict = {}  # doc_id -> (entity set, img refs, next pages)
    for batch in batches:
        for doc_id, rec in fold_batch(batch, settings, renders=False):
            es, imgs, nps = docs.setdefault(doc_id, (set(), {}, set()))
            for kind, text, ref, _o in rec["retained_spans"]:
                if kind == "text":
                    es.update(link[s] for s, _ in find_mentions(text, pattern))
                elif kind == "img" and ref:
                    imgs[ref] = None
            if rec["next_page"]:
                nps.add(rec["next_page"])
    strs = out_schema.field("es").type
    yield pa.RecordBatch.from_arrays([
        pa.array(list(docs), pa.string()),
        pa.array([sorted(es) for es, _, _ in docs.values()], strs),
        pa.array([list(imgs) for _, imgs, _ in docs.values()], strs),
        pa.array([list(nps) for _, _, nps in docs.values()], strs),
    ], schema=out_schema)
