"""Stage 3 — the dictionary stage: compile the alias dictionary once.

``canonicalize`` turns aliases(alias, entity_id, prior) into a frozen
``Dictionary`` that stage 2, stage 4 and the three KG entry points share.
The rows reach the driver once, as Arrow, for the surfaces and the digest.
Up to ``DRIVER_MAX_ROWS`` rows the canonical map is built there too
(``linking.canonical_map``, the golden generator's function); larger
dictionaries take a self-equi-join on ``alias`` for the same-as edges
(entities sharing an alias, both priors >= STRONG_PRIOR) and the
large-star/small-star loop (``operators.connected_components``).
Canonical id = min entity_id per component; entities with no same-as edge
map to themselves.
"""

from __future__ import annotations

import hashlib
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .fixtures.aliases import STRONG_PRIOR
from .linking import canonical_map
from .operators import connected_components

# canonical map on the driver up to here (the bound of connected_components'
# driver-local fast path); larger dictionaries take the Spark CC
DRIVER_MAX_ROWS = 200_000

CANONICAL_SCHEMA = StructType([
    StructField("entity_id", StringType()),
    StructField("canonical_id", StringType()),
])


@dataclass(frozen=True, eq=False)
class Dictionary:
    """``surfaces``: sorted distinct aliases; ``digest``: ``_row_digest`` of
    the sorted rows (matcher-cache key, resume fingerprint); ``links``:
    best (alias, entity_id, prior) per alias; ``canonical``: (entity_id,
    canonical_id); ``small``: stage 2 broadcasts ``links``."""
    surfaces: tuple
    digest: bytes
    links: DataFrame
    canonical: DataFrame
    small: bool


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
    (``linking.build_link_map``'s rule, the Spark path's window argmax)."""
    t = t.sort_by([("alias", "ascending"), ("prior", "descending"),
                   ("entity_id", "ascending")])
    codes = pc.fill_null(
        t.column("alias").combine_chunks().dictionary_encode().indices, -1)
    return t.take(np.flatnonzero(np.diff(codes.to_numpy(), prepend=-2)))


def canonicalize(aliases: DataFrame,
                 broadcast_max_rows: int = 1_000_000) -> Dictionary:
    """aliases(alias, entity_id, prior) -> Dictionary."""
    spark = aliases.sparkSession
    rows = aliases.select("alias", "entity_id", "prior")
    # ONE Arrow transfer of the rows, sorted on the driver: the surfaces
    # must reach the driver for the automaton anyway.  On 4 cores (150k to
    # 1.2M rows) this costs no more than a distinct-surface collect, while
    # a Spark sort plus a Row iterator for the digest was 1.5-1.8x slower
    t = rows.toArrow().sort_by([(c, "ascending") for c in rows.columns])
    surfaces = tuple(pc.unique(t.column("alias")).to_pylist())
    if t.num_rows <= min(DRIVER_MAX_ROWS, broadcast_max_rows):
        # both frames are local relations built from Arrow: no Spark job
        # to scan, broadcast or write them (a list-built frame is an RDD)
        links = spark.createDataFrame(_best_links(t), rows.schema)
        probe = list(zip(*(t.column(c).to_pylist() for c in rows.columns)))
        ids = sorted(canonical_map(probe).items())
        canonical = spark.createDataFrame(pa.table(
            [pa.array([e for e, _ in ids], pa.string()),
             pa.array([c for _, c in ids], pa.string())],
            names=CANONICAL_SCHEMA.names), CANONICAL_SCHEMA)
    else:
        # argmax per alias is doc-independent: reduce the dictionary once
        # (|aliases| rows), not per mention (|mentions| rows)
        w = (Window.partitionBy("alias")
             .orderBy(F.col("prior").desc(), F.col("entity_id").asc()))
        links = (rows.withColumn("_rn", F.row_number().over(w))
                 .where(F.col("_rn") == 1).drop("_rn"))
        comp = connected_components(same_as_edges_df(aliases), "src", "dst")
        canonical = (aliases.select("entity_id").distinct()
                     .join(comp.withColumnRenamed("node", "entity_id"),
                           "entity_id", "left")
                     .select("entity_id",
                             F.coalesce("component", "entity_id")
                             .alias("canonical_id")))
    return Dictionary(surfaces=surfaces, digest=_row_digest(t), links=links,
                      canonical=canonical,
                      small=t.num_rows <= broadcast_max_rows)
