"""Stage 3 — the dictionary stage: compile the alias dictionary once.

``canonicalize`` turns aliases(alias, entity_id, prior) into a frozen
``Dictionary`` that stage 2, stage 4 and the three KG entry points share.
The rows reach the driver once, as one sorted Arrow table, and every part
of the Dictionary is built there from it, at every size: the digest, the
best link per alias (an Arrow argmax), the canonical map (the rule of
``linking.canonical_map``, the golden generator's own function: same-as
edges between entities sharing an alias with both priors >= STRONG_PRIOR,
canonical id = min entity_id per component, entities with no same-as edge
map to themselves) and, from those two, each surface's canonical entity.
The canonical map needs only the distinct entity ids and the strong rows,
so no Python object is made per weak row.  Once the rows sit on the
driver, a distributed CC only adds Spark jobs: a 1.05M-row dictionary
compiles here with one job, the transfer.  A blank alias would match at
every word boundary, so it is rejected here with null fields.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .fixtures.aliases import STRONG_PRIOR
from .linking import min_label_components, same_as_edges

CANONICAL_SCHEMA = StructType([
    StructField("entity_id", StringType()),
    StructField("canonical_id", StringType()),
])


@dataclass(frozen=True, eq=False)
class Dictionary:
    """``entity_of``: surface -> canonical id of its best link, in surface
    order; its keys are the surfaces the matcher is built from, and stage 2
    and the stream broadcast this one object.  ``digest``: ``_row_digest``
    of the sorted rows (matcher-cache key, resume fingerprint); ``links``:
    best (alias, entity_id, prior) per alias, the side stage 2's link join
    broadcasts; ``canonical``: (entity_id, canonical_id)."""
    entity_of: dict
    digest: bytes
    links: DataFrame
    canonical: DataFrame


def _row_digest(t: pa.Table) -> bytes:
    """Injective digest of (alias, entity_id, prior) rows in table order:
    the row count, each string column's lengths and UTF-8 bytes, then the
    priors as doubles — a decodable encoding, so no two distinct
    dictionaries share a matcher or a resume fingerprint.  Columnar: no
    Python object per row."""
    h = hashlib.sha1(t.num_rows.to_bytes(8, "big"))
    for name in ("alias", "entity_id"):
        a = t.column(name).cast(pa.large_binary()).combine_chunks()
        if len(a):
            offs = np.frombuffer(a.buffers()[1], np.int64)[
                a.offset:a.offset + len(a) + 1]
            h.update(np.diff(offs).astype(">u8").tobytes())
            h.update(a.buffers()[2][int(offs[0]):int(offs[-1])])
    h.update(t.column("prior").to_numpy().astype(">f8").tobytes())
    return h.digest()


def same_as_edges_df(aliases: DataFrame,
                     strong_prior: float = STRONG_PRIOR) -> DataFrame:
    """(src, dst) same-as edges of ``linking.same_as_edges`` as a Spark
    frame.  ``canonicalize`` does not use it: ``kgbench/run.py`` counts
    these edges for its ``stage3.cc_edges`` metric."""
    strong = (aliases.where(F.col("prior") >= strong_prior)
              .select("alias", "entity_id").distinct())
    a, b = strong.alias("a"), strong.alias("b")
    return (a.join(b, F.col("a.alias") == F.col("b.alias"))
            .where(F.col("a.entity_id") < F.col("b.entity_id"))
            .select(F.col("a.entity_id").alias("src"),
                    F.col("b.entity_id").alias("dst"))
            .distinct())


def _best_links(t: pa.Table) -> pa.Table:
    """The best row per alias — max prior, ties -> min entity_id
    (``linking.build_link_map``'s rule)."""
    t = t.sort_by([("alias", "ascending"), ("prior", "descending"),
                   ("entity_id", "ascending")])
    codes = t.column("alias").combine_chunks().dictionary_encode().indices
    return t.take(np.flatnonzero(np.diff(codes.to_numpy(), prepend=-1)))


def canonicalize(aliases: DataFrame) -> Dictionary:
    """aliases(alias, entity_id, prior) -> Dictionary.  A null in any
    column or a blank alias raises ``ValueError``."""
    spark = aliases.sparkSession
    rows = aliases.select("alias", "entity_id", "prior")
    # ONE Arrow transfer of the rows, sorted on the driver: the surfaces
    # must reach the driver for the automaton anyway.  On 4 cores (150k to
    # 1.2M rows) this costs no more than a distinct-surface collect, while
    # a Spark sort plus a Row iterator for the digest was 1.5-1.8x slower
    t = rows.toArrow()
    bad = [f"nulls in {c} ({t.column(c).null_count} rows)"
           for c in rows.columns if t.column(c).null_count]
    blank = pc.sum(pc.equal(pc.utf8_length(pc.utf8_trim_whitespace(
        t.column("alias"))), 0)).as_py()
    if blank:
        bad.append(f"blank aliases ({blank} rows)")
    if bad:
        raise ValueError("alias dictionary has " + ", ".join(bad))
    t = t.sort_by([(c, "ascending") for c in rows.columns])
    # linking.canonical_map's rule from Arrow: every entity is a node, and
    # only strong rows that share their alias can make a same-as edge
    # (t is sorted by alias, so those rows are runs of >= 2)
    strong = t.filter(pc.greater_equal(t.column("prior"), STRONG_PRIOR))
    codes = strong.column("alias").combine_chunks().dictionary_encode() \
        .indices.to_numpy()
    alone = ((np.diff(codes, prepend=-1) != 0)
             & (np.diff(codes, append=-1) != 0))
    shared = strong.filter(pa.array(~alone))
    entities = pc.unique(t.column("entity_id")).sort()
    names = entities.to_pylist()
    canon = min_label_components(names, same_as_edges(
        zip(*(shared.column(c).to_pylist() for c in rows.columns))))
    # each surface's canonical id, looked up by its best entity's position
    # in ``entities``: no Python string per best row's entity id
    roots = [canon[e] for e in names]
    best = _best_links(t)
    at = pc.index_in(best.column("entity_id"), value_set=entities)
    entity_of = dict(zip(best.column("alias").to_pylist(),
                         map(roots.__getitem__, at.to_numpy().tolist())))
    # both frames are local relations built from Arrow: no Spark job
    # to scan, broadcast or write them (a list-built frame is an RDD)
    links = spark.createDataFrame(best, rows.schema)
    canonical = spark.createDataFrame(pa.table(
        [entities, pa.array(roots, pa.string())],
        names=CANONICAL_SCHEMA.names), CANONICAL_SCHEMA)
    return Dictionary(entity_of=entity_of, digest=_row_digest(t),
                      links=links, canonical=canonical)
