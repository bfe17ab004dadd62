"""Stage 2 — batched mention detection + entity-link scoring.

Inputs: stage-1 extractions (doc_id, retained_spans) + the compiled alias
dictionary (``stage3.Dictionary``).

Scale design:

* **Mention detection stays a pure map** over extractions (Arrow
  ``mapInArrow``): the compiled longest-match alias automaton is built once
  per worker from a Spark *broadcast* of the alias surfaces (not shipped
  per-batch, not a join against exploded token n-grams — at 10^12 docs an
  n-gram explode would shuffle orders of magnitude more rows than it keeps).
  Its partitioning follows its input, with no repartition in front: the
  batch reads one stage-1 file per stage-1 task, and the stream's
  micro-batch is one file, folded in one task (a repartition there cost a
  shuffle, a job and 4 Python tasks per micro-batch).
* **Entity-link scoring is a broadcast hash join** against the
  dictionary's best link per alias (``F.broadcast``) — all JVM-side.
* **Skew**: the head alias (>30% of mentions) is harmless under a broadcast
  join (no shuffle by alias).  A dictionary past the broadcast limit
  (``Dictionary.small`` false) takes ``salted_join`` (operators.py).
"""

from __future__ import annotations

import os
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, StringType,
                               StructField, StructType)

from .linking import TrieMatcher, build_alias_pattern, find_mentions
from .operators import salted_join

# worker-local matcher cache: Python workers are reused across tasks
# (spark.python.worker.reuse), so a large-dictionary TrieMatcher is built
# once per worker process instead of once per task.  Keyed by the
# dictionary DIGEST shipped with the task (the key must not pin the full
# surface tuple of evicted entries) and bounded by estimated
# FOOTPRINT, not entry count — a 100k-surface trie is tens of MB, and N
# tries x many workers per node is real memory at cluster scale.
_PATTERN_CACHE: OrderedDict = OrderedDict()  # digest -> (pattern, est_bytes)
_PATTERN_CACHE_MAX_BYTES = int(os.environ.get(
    "RECRUN_MATCHER_CACHE_BYTES", str(256 << 20)))


def _estimate_matcher_bytes(surfaces_tuple: tuple, pattern) -> int:
    """Footprint estimate: a dict-of-dicts trie costs ~200 bytes per stored
    character (node dict + entry + key str, CPython 3.11 measurements); a
    compiled regex alternation stores the program compactly (~10 B/char)."""
    chars = sum(len(s) for s in surfaces_tuple)
    per_char = 200 if isinstance(pattern, TrieMatcher) else 10
    return 4096 + chars * per_char


def _cached_pattern(key: bytes, surfaces_tuple: tuple):
    hit = _PATTERN_CACHE.pop(key, None)
    if hit is None:
        pattern = build_alias_pattern(surfaces_tuple)
        hit = (pattern, _estimate_matcher_bytes(surfaces_tuple, pattern))
        # evict least-recently-used (front = oldest insertion = LRU, since
        # hits re-insert at the back) until the newcomer fits the budget;
        # an oversized single matcher still caches alone (budget of one)
        total = sum(sz for _, sz in _PATTERN_CACHE.values())
        while _PATTERN_CACHE and total + hit[1] > _PATTERN_CACHE_MAX_BYTES:
            _, (_, sz) = _PATTERN_CACHE.popitem(last=False)
            total -= sz
    _PATTERN_CACHE[key] = hit
    return hit[0]


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
    bc = spark.sparkContext.broadcast(dictionary.surfaces)
    key = dictionary.digest

    def fn(batches):
        import pyarrow as pa

        from .stage1 import _unpack_spans_batch
        out_schema = pa.schema([
            ("doc_id", pa.string()), ("surface", pa.string()),
            ("span_offset", pa.int32()), ("start", pa.int32())])
        pattern = _cached_pattern(key, bc.value)  # built once per worker
        for batch in batches:
            doc_ids, kinds, texts, _refs, offs, bounds = \
                _unpack_spans_batch(batch, "retained_spans")
            o_doc, o_surf, o_off, o_start = [], [], [], []
            for i in range(len(doc_ids)):
                for j in range(bounds[i], bounds[i + 1]):
                    if kinds[j] != "text" or not texts[j]:
                        continue
                    for surface, start in find_mentions(texts[j], pattern):
                        o_doc.append(doc_ids[i])
                        o_surf.append(surface)
                        o_off.append(int(offs[j]))
                        o_start.append(start)
            yield pa.RecordBatch.from_arrays(
                [pa.array(o_doc, pa.string()), pa.array(o_surf, pa.string()),
                 pa.array(o_off, pa.int32()), pa.array(o_start, pa.int32())],
                schema=out_schema)

    # ship only the spans the automaton consumes: the Python loop skips
    # every non-text/empty span anyway, so filtering the array JVM-side
    # is semantics-identical and cuts the Arrow transport (img/link/
    # header spans never cross the boundary); span_offset rides in the
    # struct, unaffected by the filter
    src = extractions.selectExpr(
        "doc_id",
        "filter(retained_spans, s -> s.kind = 'text' AND s.text != '')"
        " AS retained_spans")
    return src.mapInArrow(fn, schema=MENTION_SCHEMA)


def link_mentions(mentions: DataFrame, dictionary,
                  salt_buckets: int = 16) -> DataFrame:
    """Join mentions to the dictionary's best link per alias (max prior,
    ties -> min entity_id: linking.build_link_map).

    Returns (doc_id, surface, span_offset, start, entity_id, prior).
    """
    best = dictionary.links
    if dictionary.small:
        joined = mentions.join(F.broadcast(best),
                               mentions["surface"] == best["alias"], "inner")
    else:
        joined = salted_join(mentions, best, "surface", "alias",
                             buckets=salt_buckets)
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
