"""Watermarked STREAM-STREAM interval join (append mode) — the last
Structured Streaming engine surface the suite doesn't exercise: the
symmetric hash join with watermark-bounded buffered state (sessions.py
owns its state via applyInPandasWithState, windows.py exercises windowed
aggregate finalization, kg/dedup/freq sidestep state via foreachBatch).

The shape is the standard streaming attribution/enrichment join: LEFT
rows (e.g. purchases) matched to RIGHT rows (e.g. the same user's
clicks) whose event time falls in ``[left_ts - max_lag, left_ts]`` —
key equality plus an event-time range, INCLUSIVE at both ends.

Inner-join completeness under an availableNow drain (pinned by
``tests/test_streaming.py::test_interval_join_stream_equals_batch``):
with each side replayed in ascending time-ranged files
(``sessions.prepare_ranged_events``), the sink equals the BATCH join
exactly — no finalization predicate at all, unlike the windowed
aggregate.  Why: a buffered right row ``c`` is state-evicted only once
the global watermark (the MIN across both sides' ``max_ts - delay``,
Spark's default multipleWatermarkPolicy) passes ``c.ts + max_lag``; any
matching left row ``p`` has ``p.ts <= c.ts + max_lag < wm <=
left_max_seen - delay``, so ``p`` — replayed in ascending order —
already arrived and the match was already emitted.  The same argument
with sides swapped covers left-row eviction, and ascending replay makes
the input-side late-row filter a no-op.

Scale notes: state holds only rows inside the ``max_lag + delay``
event-time horizon per key — bounded by arrival rate x horizon,
independent of total stream length; the join itself is a keyed shuffle
on ``key_col`` (symmetric hash), the plan Spark picks for any
stream-stream equi-join.  Parquet sink + checkpoint give exactly-once
output across restarts.

Event time: the watermark and the join predicate run on
``base.instant`` columns; the output carries the ORIGINAL ts columns,
so nothing converts back and nothing depends on the session timezone.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import drain, file_stream, instant


def interval_join(left: DataFrame, right: DataFrame,
                  key_col: str = "user_id", ts_col: str = "ts",
                  max_lag: str = "1 hour",
                  delay: str = "10 minutes",
                  left_prefix: str = "l_",
                  right_prefix: str = "r_") -> DataFrame:
    """The joined frame itself (shared by the streaming runner and any
    batch caller — on batch inputs the watermarks are no-ops and this IS
    the batch interval join): inner join on ``key_col`` equality plus
    ``right.ts <= left.ts <= right.ts + max_lag`` (inclusive both ends).

    Every input column is emitted under its side's prefix except the
    join key (emitted once, unprefixed); ``lag_us`` (bigint MICROSECONDS,
    left.ts - right.ts) is appended — the exact µs difference of the two
    instants, because whole-second lag functions diverge across engines
    on sub-second components (Spark's timestampdiff(SECOND) truncates the
    duration, DuckDB's date_diff('second') counts boundary crossings),
    and ``timestampdiff`` on instants diffs session-local wall clocks,
    which gains or loses an hour across a DST jump."""
    lw = (left.withColumn("_lts", instant(left, ts_col))
          .withWatermark("_lts", delay))
    rw = (right.withColumn("_rts", instant(right, ts_col))
          .withWatermark("_rts", delay))
    lsel = [F.col(c).alias(left_prefix + c) for c in left.columns
            if c != key_col] + [F.col(key_col), F.col("_lts")]
    rsel = [F.col(c).alias(right_prefix + c) for c in right.columns
            if c != key_col] + [F.col(key_col).alias("_rkey"),
                                F.col("_rts")]
    lw, rw = lw.select(*lsel), rw.select(*rsel)
    cond = ((F.col(key_col) == F.col("_rkey"))
            & (F.col("_rts") <= F.col("_lts"))
            & (F.col("_lts") <= F.col("_rts")
               + F.expr(f"INTERVAL {max_lag}")))
    out_cols = ([F.col(key_col)]
                + [F.col(left_prefix + c) for c in left.columns
                   if c != key_col]
                + [F.col(right_prefix + c) for c in right.columns
                   if c != key_col])
    return (lw.join(rw, cond)
            .select(*out_cols,
                    F.expr("unix_micros(_lts) - unix_micros(_rts)")
                    .alias("lag_us")))


def run_interval_join_available_now(spark: SparkSession, left_dir: str,
                                    right_dir: str, out_dir: str, schema,
                                    key_col: str = "user_id",
                                    ts_col: str = "ts",
                                    max_lag: str = "1 hour",
                                    delay: str = "10 minutes") -> str:
    """Drain two file streams through the watermarked interval join into
    a parquet sink.  Returns the sink path.  Re-running after new files
    land on either side processes only the new files (checkpoint) and
    emits only the new matches — exactly-once via the file-sink commit
    log."""
    sink = os.path.join(out_dir, "joined")
    joined = interval_join(file_stream(spark, schema, left_dir),
                           file_stream(spark, schema, right_dir),
                           key_col=key_col, ts_col=ts_col, max_lag=max_lag,
                           delay=delay)
    drain(joined.writeStream.format("parquet").option("path", sink)
          .outputMode("append"), out_dir)
    return sink
