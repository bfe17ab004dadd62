"""Incremental sketches over a stream — merge properties (CMS: cell-wise
sum; HLL: cell-wise max) turned into streaming operators.

Each micro-batch's cells are written to ``cells/batch=<id>/`` with
mode=overwrite — idempotent per batchId (``_drain_per_batch`` over the
drain of ``streaming/base.py``) — and the reader merges cells across
batches, which by the merge property equals the batch sketch of
everything seen.  No state store at all: the sketch IS the state,
persisted as data, bounded at depth x width (CMS) / 2^p (HLL) cells per
batch regardless of key cardinality.  CMS answers streaming "how often
did we see key X" (hot-key detection, frequency capping); HLL answers
streaming "how many DISTINCT keys so far" (unique users/documents) —
both at cardinalities where exact streaming state would blow the state
store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.events import bursts_from_hour_counts, hour_counts
from ..functions.sketch import (CMS_DEPTH, CMS_WIDTH, HLL_P,
                                count_min_sketch, hdr_histogram,
                                hll_registers)
from .base import drain, file_stream


def _drain_per_batch(spark: SparkSession, input_dir: str, out_dir: str,
                     schema, name: str, sketch) -> str:
    """Drain available input files, writing ``sketch(micro-batch)`` to
    ``<out_dir>/<name>/batch=<id>/`` with mode=overwrite (idempotent per
    batchId); returns that root.  Re-running after new files land
    sketches ONLY the new files (file-source checkpoint)."""
    root = os.path.join(out_dir, name)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        (sketch(batch_df).write.mode("overwrite")
         .parquet(os.path.join(root, f"batch={batch_id}")))

    drain(file_stream(spark, schema, input_dir).writeStream
          .foreachBatch(handle), out_dir)
    return root


def run_cms_available_now(spark: SparkSession, input_dir: str, out_dir: str,
                          key_col: str, schema,
                          depth: int = CMS_DEPTH, width: int = CMS_WIDTH
                          ) -> str:
    """CMS cells of each micro-batch under ``cells/batch=<id>/``; returns
    the cells root."""
    return _drain_per_batch(
        spark, input_dir, out_dir, schema, "cells",
        lambda b: count_min_sketch(b, key_col, depth, width))


def read_sketch(spark: SparkSession, cells_root: str) -> DataFrame:
    """Merge all per-batch cells into the sketch of everything ingested
    (cell-wise sum — the CMS merge property)."""
    return (spark.read.parquet(os.path.join(cells_root, "batch=*"))
            .groupBy("i", "bucket")
            .agg(F.sum("cnt").alias("cnt")))


def run_hll_available_now(spark: SparkSession, input_dir: str, out_dir: str,
                          key_col: str, schema, p: int = HLL_P) -> str:
    """HLL register table of each micro-batch under
    ``registers/batch=<id>/``; returns the registers root."""
    return _drain_per_batch(spark, input_dir, out_dir, schema, "registers",
                            lambda b: hll_registers(b, key_col, p))


def read_hll(spark: SparkSession, registers_root: str) -> DataFrame:
    """Merge all per-batch register tables into the table of everything
    ingested (cell-wise MAX — the HLL merge property)."""
    return (spark.read.parquet(os.path.join(registers_root, "batch=*"))
            .groupBy("reg")
            .agg(F.max("max_rho").alias("max_rho")))


def run_hdr_available_now(spark: SparkSession, input_dir: str, out_dir: str,
                          value_col: str, schema,
                          group_cols: list[str] | None = None) -> str:
    """HDR quantile histogram of each micro-batch under
    ``hist/batch=<id>/``; returns the hist root.  Streaming quantiles with
    bounded state: the per-batch cell table is O(64 * 2^sub_bits) rows per
    group however many rows the batch carried, and the cnt-sum merge
    property makes the cross-batch reader exactly the batch histogram of
    everything ingested — where Spark's own approx_percentile cannot run
    as a streaming aggregate at all without a state store."""
    gcols = list(group_cols or [])
    return _drain_per_batch(
        spark, input_dir, out_dir, schema, "hist",
        lambda b: hdr_histogram(b, value_col, group_cols=gcols))


def read_hdr(spark: SparkSession, hist_root: str,
             group_cols: list[str] | None = None) -> DataFrame:
    """Merge all per-batch histograms into the histogram of everything
    ingested (cell-wise cnt sum; lo/hi are functions of the bucket index,
    so min() just collapses the duplicates)."""
    gcols = list(group_cols or [])
    return (spark.read.parquet(os.path.join(hist_root, "batch=*"))
            .groupBy(*gcols, "bucket")
            .agg(F.min("lo").alias("lo"), F.min("hi").alias("hi"),
                 F.sum("cnt").alias("cnt")))


def run_hour_counts_available_now(spark: SparkSession, input_dir: str,
                                  out_dir: str, schema) -> str:
    """(event_type, hour_id, n) count table of each micro-batch under
    ``counts/batch=<id>/``; returns the counts root.  Counts merge by
    cell-wise SUM, so the reader's merged table equals the batch table of
    everything ingested regardless of how events split across
    micro-batches or arrive out of order — burst detection needs no state
    store and no watermark."""
    return _drain_per_batch(spark, input_dir, out_dir, schema, "counts",
                            hour_counts)


def read_bursts(spark: SparkSession, counts_root: str,
                trail_hours: int = 3,
                burst_ratio_bp: int = 20000) -> DataFrame:
    """Merge all per-batch hour-count cells (cell-wise sum) and run the
    SAME burst window as the batch entry (events.bursts_from_hour_counts
    — shared code, semantics cannot drift)."""
    merged = (spark.read.parquet(os.path.join(counts_root, "batch=*"))
              .groupBy("event_type", "hour_id")
              .agg(F.sum("n").cast("long").alias("n")))
    return bursts_from_hour_counts(merged, trail_hours, burst_ratio_bp)
