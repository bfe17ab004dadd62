"""Watermarked tumbling-window aggregation in APPEND mode — the
Structured Streaming surface the other streaming operators don't
exercise: the engine's OWN windowed-state finalization (sessions.py
manages its state by hand via applyInPandasWithState; kg/dedup/freq
sidestep state with foreachBatch).  A window's counts land in the sink
only once the event-time watermark passes the window, i.e. the result
is late-data-safe by construction.

Finalization semantics (PINNED empirically by
``tests/test_streaming.py::test_windowed_counts_finalization_semantics``
— the same pin-the-engine discipline as the sessionizer's timeout
semantics, CLAUDE.md):

* the final watermark after an availableNow drain is the ms-floored
  GLOBAL max event time minus the delay (all input is seen before the
  extra wrap-up batch that availableNow runs, so the last watermark
  update incorporates the last file);
* a window is emitted iff ``window_end <= watermark`` (INCLUSIVE — a
  window whose end equals the watermark IS finalized; Spark's
  state-eviction predicate for windowed aggregates keys on
  ``end - 1 < wm``, verified by the boundary test);
* rows older than the watermark at processing time are dropped from
  still-open windows (standard late-row filter) — time-ranged replay
  (``sessions.prepare_ranged_events``) makes that filter a no-op, which
  is what lets a plain GROUP BY restricted to finalized windows serve as
  the value oracle.

Scale notes: state is one (window, key) count per live window — bounded
by key cardinality x (delay/window) regardless of event volume; the
aggregate is map-side partial like any groupBy.  The parquet sink +
checkpoint give exactly-once output across restarts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import drain, file_stream, instant, utc_wall_clock


def _finalized_counts(watermarked: DataFrame, window: str,
                      key_col: str) -> DataFrame:
    """Tumbling-window counts per (window, ``key_col``) over the instant
    column ``_wm_ts``, window bounds back as true-epoch NTZ."""
    return (watermarked
            .groupBy(F.window(F.col("_wm_ts"), window).alias("w"),
                     F.col(key_col))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(utc_wall_clock("w.start").alias("window_start"),
                    utc_wall_clock("w.end").alias("window_end"),
                    F.col(key_col), "n_events"))


def windowed_counts(stream: DataFrame, window: str = "1 hour",
                    delay: str = "10 minutes", ts_col: str = "ts",
                    key_col: str = "event_type") -> DataFrame:
    """The windowed aggregation itself (shared by the streaming runner and
    any batch caller): tumbling ``window`` counts per (window, key) with
    a ``delay`` watermark on ``ts_col``.  The watermark runs on
    ``base.instant(ts_col)`` and the window bounds come back through
    ``base.utc_wall_clock``, so the output is NTZ true-epoch whatever the
    session timezone (and hourly windows stay UTC-epoch-aligned, matching
    ``date_trunc('hour')`` in the SQL oracle)."""
    return _finalized_counts(
        stream.withColumn("_wm_ts", instant(stream, ts_col))
        .withWatermark("_wm_ts", delay), window, key_col)


def run_windowed_counts_available_now(spark: SparkSession, input_dir: str,
                                      out_dir: str, schema,
                                      window: str = "1 hour",
                                      delay: str = "10 minutes",
                                      ts_col: str = "ts",
                                      key_col: str = "event_type") -> str:
    """Drain available input files through the watermarked tumbling-window
    aggregate into a parquet sink (append mode: only FINALIZED windows are
    written).  Returns the sink path.  Re-running after new files land
    processes only the new files (checkpoint) and may finalize further
    windows — exactly-once via the file-sink commit log."""
    sink = os.path.join(out_dir, "windows")
    counts = windowed_counts(file_stream(spark, schema, input_dir), window,
                             delay, ts_col, key_col)
    drain(counts.writeStream.format("parquet").option("path", sink)
          .outputMode("append"), out_dir)
    return sink


def enriched_windowed_counts(stream: DataFrame, dim: DataFrame,
                             window: str = "1 hour",
                             delay: str = "10 minutes",
                             ts_col: str = "ts",
                             stream_key: str = "dim_key",
                             dim_key: str = "dim_key",
                             label_col: str = "label") -> DataFrame:
    """STREAM-STATIC enrichment + watermarked tumbling-window aggregation
    — the remaining Structured Streaming join surface (sessions.py owns
    hand-managed state, join.py the stream-stream symmetric hash join;
    the stream-STATIC join is STATELESS: the static side broadcasts into
    every micro-batch, no state store, and the watermark passes through
    untouched).  The stream is enriched against ``dim`` on
    ``stream_key == dim_key`` (inner — unmatched keys drop, the standard
    dimension-enrichment contract), then counted per (window, label).

    Same event-time conversion as windowed_counts, and the SAME
    append-mode finalization rule (window_end <= ms-floored max ts −
    delay, inclusive) — a stateless join cannot change when windows
    finalize, which is what lets the batch join+GROUP BY serve as the
    value oracle."""
    d = dim.select(F.col(dim_key).alias("_dk"),
                   F.col(label_col).alias("label"))
    return _finalized_counts(
        stream.withColumn("_wm_ts", instant(stream, ts_col))
        .withWatermark("_wm_ts", delay)
        .join(F.broadcast(d), F.col(stream_key) == F.col("_dk")),
        window, "label")


def run_enriched_counts_available_now(spark: SparkSession, input_dir: str,
                                      out_dir: str, schema, dim: DataFrame,
                                      window: str = "1 hour",
                                      delay: str = "10 minutes",
                                      ts_col: str = "ts",
                                      stream_key: str = "dim_key",
                                      dim_key: str = "dim_key",
                                      label_col: str = "label") -> str:
    """Drain available files through the stream-static enrichment +
    windowed aggregate into a parquet sink (append mode — finalized
    windows only; exactly-once via the file-sink commit log)."""
    sink = os.path.join(out_dir, "enriched")
    counts = enriched_windowed_counts(
        file_stream(spark, schema, input_dir), dim, window, delay, ts_col,
        stream_key, dim_key, label_col)
    drain(counts.writeStream.format("parquet").option("path", sink)
          .outputMode("append"), out_dir)
    return sink
