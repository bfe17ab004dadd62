"""Stage 2 — batched mention detection + entity-link scoring.

Inputs: stage-1 extractions (doc_id, retained_spans) + the compiled alias
dictionary (``stage3.Dictionary``).

Scale design:

* **Mention detection stays a pure map** over extractions (Arrow
  ``mapInArrow``): the compiled longest-match alias automaton is built once
  per worker from a Spark *broadcast* of the dictionary's surface ->
  canonical entity dict, whose keys are the surfaces (not shipped
  per-batch, not a join against exploded token n-grams — at 10^12 docs an
  n-gram explode would shuffle orders of magnitude more rows than it keeps).
  Its partitioning follows its input, with no repartition in front: the
  batch reads one stage-1 file per stage-1 task.  (The stream does not
  run this stage: its micro-batch folds, matches and links in one map,
  ``streaming/kg.py``.)
* **Entity-link scoring is a broadcast hash join** against the
  dictionary's best link per alias (``F.broadcast``) — all JVM-side.
* **Skew**: the head alias (>30% of mentions) is harmless under a broadcast
  join (no shuffle by alias).  The broadcast is bounded by what the
  workers already hold: ``detect_mentions`` ships every surface to every
  Python worker, and ``links`` has one row per surface, so a dictionary
  whose matcher the workers can build fits the link broadcast too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (DoubleType, IntegerType, StringType,
                               StructField, StructType)

from .linking import build_alias_pattern, find_mentions

# worker-local matcher: Python workers are reused across tasks
# (spark.python.worker.reuse), so the TrieMatcher is built once per
# worker process instead of once per task.  One slot, keyed by
# the dictionary DIGEST shipped with the task: every call uses one
# dictionary, stage 2 and the stream share the slot, and a new digest
# replaces (frees) the old matcher.
_MATCHER: tuple = (None, None)  # (digest, pattern)


def _cached_pattern(key: bytes, surfaces):
    global _MATCHER
    if _MATCHER[0] != key:
        _MATCHER = (None, None)  # drop the old matcher before building
        _MATCHER = (key, build_alias_pattern(surfaces))
    return _MATCHER[1]


MENTION_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("surface", StringType()),
    StructField("span_offset", IntegerType()),
    StructField("start", IntegerType()),
])

ALIAS_SCHEMA = StructType([
    StructField("alias", StringType()),
    StructField("entity_id", StringType()),
    StructField("prior", DoubleType()),
])


def detect_mentions(extractions: DataFrame, dictionary) -> DataFrame:
    """extractions(doc_id, retained_spans) -> mentions(MENTION_SCHEMA).

    Arrow-native map (``mapInArrow``): spans are read from the Arrow
    buffers; the alias automaton is compiled once per worker from the
    Spark broadcast."""
    spark = extractions.sparkSession
    bc = spark.sparkContext.broadcast(dictionary.entity_of)
    key = dictionary.digest
    out_schema = to_arrow_schema(MENTION_SCHEMA)

    def fn(batches):
        import pyarrow as pa

        from .stage1 import _unpack_spans_batch
        pattern = _cached_pattern(key, bc.value)  # built once per worker
        for batch in batches:
            doc_ids, _kinds, texts, _refs, offs, bounds = \
                _unpack_spans_batch(batch, "retained_spans")
            o_doc, o_surf, o_off, o_start = [], [], [], []
            for i in range(len(doc_ids)):
                for j in range(bounds[i], bounds[i + 1]):
                    for surface, start in find_mentions(texts[j], pattern):
                        o_doc.append(doc_ids[i])
                        o_surf.append(surface)
                        o_off.append(int(offs[j]))
                        o_start.append(start)
            yield pa.RecordBatch.from_arrays(
                [pa.array(o_doc, pa.string()), pa.array(o_surf, pa.string()),
                 pa.array(o_off, pa.int32()), pa.array(o_start, pa.int32())],
                schema=out_schema)

    # ship only the spans the automaton consumes (non-empty text spans):
    # the filter runs JVM-side, so img/link/header spans never cross the
    # Arrow boundary and the Python loop needs no check of its own;
    # span_offset rides in the struct, unaffected by the filter
    src = extractions.selectExpr(
        "doc_id",
        "filter(retained_spans, s -> s.kind = 'text' AND s.text != '')"
        " AS retained_spans")
    return src.mapInArrow(fn, schema=MENTION_SCHEMA)


def link_mentions(mentions: DataFrame, dictionary) -> DataFrame:
    """Join mentions to the dictionary's best link per alias (max prior,
    ties -> min entity_id: linking.build_link_map), broadcast.

    Returns (doc_id, surface, span_offset, start, entity_id, prior).
    """
    best = dictionary.links
    joined = mentions.join(F.broadcast(best),
                           mentions["surface"] == best["alias"], "inner")
    return joined.select("doc_id", "surface", "span_offset", "start",
                         "entity_id", "prior")


def load_aliases(spark: SparkSession, rows=None, seed: int = 42) -> DataFrame:
    """aliases(ALIAS_SCHEMA) as a local relation built from Arrow (no Spark
    job to read it, unlike a frame built from a list)."""
    import pyarrow as pa

    from .fixtures.aliases import make_aliases
    rows = rows if rows is not None else make_aliases(seed)
    cols = list(zip(*rows)) or [(), (), ()]
    table = pa.table([pa.array(cols[0], pa.string()),
                      pa.array(cols[1], pa.string()),
                      pa.array([float(p) for p in cols[2]], pa.float64())],
                     names=ALIAS_SCHEMA.names)
    return spark.createDataFrame(table, ALIAS_SCHEMA)
