"""Stage 1 — distributed content-retention extraction.

Runs the per-document readability fold (``recrun_spark.readability``) as an
Arrow-vectorized ``mapInArrow`` over the interleaved documents table
(``doc_id, spans array<struct<kind,text,media_ref,offset>>`` —
BASELINE.json input_hint).

Scale design (SURVEY.md §3/§4):

* **Zero shuffle.** Each document's fold is self-contained, so stage 1 is a
  pure map: no ``groupBy``/``posexplode``-then-regroup.  On a 1000-executor
  cluster this scales linearly with input splits; parallelism is governed by
  ``spark.sql.files.maxPartitionBytes`` on the scan, not by shuffle
  partitions.
* **Arrow batching, no per-row Python.**  ``mapInArrow`` moves docs
  executor→Python in Arrow record batches; the only Python work is the fold
  itself (the reference's algorithm is inherently per-document, exactly like
  the reference's own single-pass SAX handler, R:733-765).
* **Column pruning.** The UDF declares only (doc_id, spans); Catalyst's
  nested-schema pruning keeps the parquet scan minimal.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (ArrayType, IntegerType, StringType, StructField,
                               StructType)

from .readability import Settings, extract

SPAN_TYPE = StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
])

DOCUMENTS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(SPAN_TYPE)),
])

EXTRACTION_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("title", StringType()),
    StructField("next_page", StringType()),
    StructField("text_length", IntegerType()),
    StructField("score", IntegerType()),
    StructField("retained_spans", ArrayType(SPAN_TYPE)),
    StructField("text", StringType()),   # Article.getText  (R:789-793)
    StructField("html", StringType()),   # Article.getHTML  (R:799-803)
])


def _unpack_spans_batch(batch, spans_col: str = "spans"):
    """Decompose an Arrow batch's array<struct> column into flat Python
    lists + per-doc offsets WITHOUT per-span dict materialization (the
    pandas path builds a dict per span — ~3x slower than the fold itself).
    """
    import numpy as np
    doc_ids = batch.column("doc_id").to_pylist()
    spans = batch.column(spans_col)
    lengths = np.asarray([s if s is not None else 0
                          for s in _pc().list_value_length(spans).to_pylist()],
                         dtype=np.int64)
    flat = spans.flatten()
    # defensive null coercion: the schema allows nulls (e.g. JSONL rows
    # missing a field); one malformed span must not fail the whole task
    kinds = ["" if k is None else k for k in flat.field("kind").to_pylist()]
    texts = ["" if t is None else t for t in flat.field("text").to_pylist()]
    refs = ["" if r is None else r
            for r in flat.field("media_ref").to_pylist()]
    offs = [-1 if o is None else o
            for o in flat.field("offset").to_pylist()]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    return doc_ids, kinds, texts, refs, offs, bounds


def _pc():
    import pyarrow.compute as pc
    return pc


# an unreadable document's extraction: score 0, nothing retained
_EMPTY = {"title": "", "next_page": "", "text_length": 0, "score": 0,
          "retained_spans": [], "text": "", "html": ""}


def fold_batch(batch, settings: Settings, renders: bool):
    """(doc_id, extraction record) per row of an Arrow batch of
    (doc_id, spans), in row order: the fold of every map over documents.

    A malformed span stream (unknown kind) raises ``ValueError`` in the
    fold; that document gets the empty extraction, so one bad doc does not
    fail a 10^12-doc job."""
    doc_ids, kinds, texts, refs, offs, bounds = _unpack_spans_batch(batch)
    for i in range(len(doc_ids)):
        s, e = bounds[i], bounds[i + 1]
        try:
            rec = extract(zip(kinds[s:e], texts[s:e], refs[s:e], offs[s:e]),
                          settings, renders=renders)
        except ValueError:
            rec = _EMPTY
        yield doc_ids[i], rec


def _extract_arrow_batches(batches, settings: Settings,
                           include_renders: bool, out_schema):
    import pyarrow as pa
    for batch in batches:
        doc_ids, titles, nexts, tlens, scores = [], [], [], [], []
        art_texts, art_htmls = [], []
        # retained spans are assembled as FLAT columns + list offsets and
        # turned into a ListArray(StructArray) directly — the former
        # dict-per-span list comprehension (then pa.array() re-parsing every
        # dict) was ~30% of the whole stage wall on top of the fold
        r_kinds: list = []
        r_texts: list = []
        r_refs: list = []
        r_offs: list = []
        r_bounds = [0]
        for doc_id, rec in fold_batch(batch, settings, include_renders):
            doc_ids.append(doc_id)
            titles.append(rec["title"])
            nexts.append(rec["next_page"])
            tlens.append(rec["text_length"])
            scores.append(rec["score"])
            for k, t, m, o in rec["retained_spans"]:
                r_kinds.append(k)
                r_texts.append(t)
                r_refs.append(m)
                r_offs.append(int(o))
            r_bounds.append(len(r_kinds))
            art_texts.append(rec["text"])
            art_htmls.append(rec["html"])
        span_struct = pa.StructArray.from_arrays(
            [pa.array(r_kinds, pa.string()),
             pa.array(r_texts, pa.string()),
             pa.array(r_refs, pa.string()),
             pa.array(r_offs, pa.int32())],
            names=["kind", "text", "media_ref", "offset"])
        retained_arr = pa.ListArray.from_arrays(
            pa.array(r_bounds, pa.int32()), span_struct)
        yield pa.RecordBatch.from_arrays([
            pa.array(doc_ids, pa.string()),
            pa.array(titles, pa.string()),
            pa.array(nexts, pa.string()),
            pa.array(tlens, pa.int32()),
            pa.array(scores, pa.int32()),
            retained_arr,
            pa.array(art_texts, pa.string()),
            pa.array(art_htmls, pa.string()),
        ], schema=out_schema)


def explode_retained(extractions: DataFrame) -> DataFrame:
    """Re-emit retained spans as rows — the analog of the reference's
    getEvents replay (R:712-723): (doc_id, pos, kind, text, media_ref,
    offset), document order carried by (doc_id, pos)."""
    from pyspark.sql import functions as F
    return (extractions
            .select("doc_id",
                    F.posexplode("retained_spans").alias("pos", "s"))
            .select("doc_id", "pos", F.col("s.kind").alias("kind"),
                    F.col("s.text").alias("text"),
                    F.col("s.media_ref").alias("media_ref"),
                    F.col("s.offset").alias("offset")))


def extract_documents(documents: DataFrame,
                      settings: Optional[Settings] = None,
                      include_renders: bool = True) -> DataFrame:
    """documents(doc_id, spans) -> extractions (EXTRACTION_SCHEMA).

    Uses ``mapInArrow`` (not ``mapInPandas``): the spans column is consumed
    straight from the Arrow buffers, skipping the pandas dict-per-struct
    conversion that would otherwise dominate the stage."""
    settings = settings or Settings.shipped()
    out_schema = to_arrow_schema(EXTRACTION_SCHEMA)

    def fn(batches):
        return _extract_arrow_batches(batches, settings, include_renders,
                                      out_schema)

    return documents.select("doc_id", "spans").mapInArrow(
        fn, schema=EXTRACTION_SCHEMA)
