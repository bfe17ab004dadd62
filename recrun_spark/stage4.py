"""Stage 4 — triple assembly and partitioned materialization.

Implements the fixed triple rules of ``recrun_spark.linking`` as whole-
DataFrame operations (no Python in the hot path).  Every rule is a
function of one document (``linking.triples_for_doc``), so the plan groups
once by ``doc_id`` and expands each document's row into its triples:

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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TRIPLE_COLS = ("subj", "pred", "obj", "doc_id")


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
    return docs.selectExpr(f"inline({_RULES})", "doc_id")
