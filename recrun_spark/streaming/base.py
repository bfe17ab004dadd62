"""How a file stream is drained, and how event times become watermark
instants — the one place the streaming runners learn either.

Draining: every runner reads a parquet directory ONE file per
micro-batch (``file_stream``), so each landed file is its own batch —
the KG writes one ``batch=<id>/`` per file, the sessionizer carries
state across batches, and the tests count batches per file.  It then
drains what is available with ``trigger(availableNow=True)`` and a
checkpoint at ``<out_dir>/_checkpoint`` (``drain``); re-running after new
files land processes only those files.

Event time: the corpus carries ``TIMESTAMP_NTZ`` event times whose wall
clock IS the true epoch, but a watermark needs a ``TIMESTAMP`` (instant).
``instant`` derives it by epoch arithmetic, never a cast: a cast reads
the wall clock in the session timezone and shifts every watermark,
window and timeout under a non-UTC session.  ``utc_wall_clock`` goes
back, so outputs stay true-epoch NTZ whatever the session timezone.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import TimestampNTZType


def file_stream(spark: SparkSession, schema, input_dir: str) -> DataFrame:
    """Parquet file source over ``input_dir``, one file per micro-batch."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(input_dir))


def drain(writer: DataStreamWriter, out_dir: str) -> StreamingQuery:
    """Start ``writer`` as an availableNow query checkpointed under
    ``out_dir``, wait until it has drained, and return it."""
    q = (writer
         .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def instant(df: DataFrame, ts_col: str) -> Column:
    """``df[ts_col]`` as an instant: a true-epoch NTZ by epoch arithmetic,
    a ``TIMESTAMP`` unchanged."""
    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        return F.expr(f"timestamp_micros(timestampdiff(MICROSECOND, "
                      f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col}))")
    return F.col(ts_col)


def utc_wall_clock(col: str) -> Column:
    """Instant column ``col`` as the NTZ holding its UTC wall clock."""
    return F.expr(f"convert_timezone(current_timezone(), 'UTC', "
                  f"cast({col} as timestamp_ntz))")
