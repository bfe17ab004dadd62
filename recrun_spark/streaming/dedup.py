"""Streaming exact deduplication over an incrementally-arriving corpus.

The batch engine dedups a corpus it can see whole
(``functions/dedup.exact_duplicates``); an INGESTION pipeline sees
documents arrive over time and must admit only first-seen content —
without reprocessing the history each run.  The file stream is drained
through ``streaming/base.py`` into ``foreachBatch``; per micro-batch,

1. fingerprint the batch (md5 of normalized text — the exact-dedup rule);
2. reduce the batch to one row per fingerprint (min doc_id — deterministic
   regardless of partition order, where a raw ``dropDuplicates`` would keep
   an arbitrary within-batch row);
3. anti-join against the accumulated unique sink and APPEND only novel
   fingerprints.

Cross-batch state is the sink itself, so re-running after new files land
processes only those files (checkpoint) and a retried batch re-appends
nothing (the anti-join makes the write idempotent).  First occurrence
wins across batches; min doc_id wins within a batch.

Scale notes: the per-batch work is one partial-aggregated shuffle on the
16-byte fingerprint (batch-sized, not corpus-sized) + one anti-join
against the unique table — at 10¹² docs the sink side is large but the
join is fingerprint-keyed and the batch side is small; on a real cluster
the sink would be a bucketed/Iceberg table so the anti-join prunes by
fingerprint bucket.  State never lives in the Spark state store (no
per-key timers needed — a fingerprint is forever), which also means no
state-store growth pathology: the alternative, streaming
``dropDuplicates``, keeps every key in executor state with no expiry.

Watermark-bounded dedup (admit re-posts after N days) is the same flow
with the anti-join restricted to a sink partition window — noted, not
implemented, because the reference semantics (SURVEY §2.8) are
content-forever.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import fingerprint_md5
from .base import drain, file_stream


def dedup_batch_reduce(batch_df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """One row per fingerprint within a batch: (fp, doc_id=min).  The
    deterministic within-batch winner rule shared by the streaming fold
    and the SQL oracle."""
    return (batch_df
            .where(F.col(id_col).isNotNull())
            .select(fingerprint_md5(F.col(text_col)).alias("fp"),
                    F.col(id_col).alias("doc_id"))
            .groupBy("fp").agg(F.min("doc_id").alias("doc_id")))


def run_dedup_available_now(spark: SparkSession, input_dir: str,
                            out_dir: str, schema,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> str:
    """Drain all available document files through first-seen dedup into
    ``<out_dir>/unique`` (parquet, columns fp + doc_id); returns the sink
    path.  Exactly-once per file via the checkpoint; the anti-join makes
    a replayed batch idempotent."""
    sink = os.path.join(out_dir, "unique")
    os.makedirs(out_dir, exist_ok=True)

    def handle(batch_df, _batch_id):
        b = dedup_batch_reduce(batch_df, text_col, id_col)
        if os.path.isdir(sink) and any(
                f.endswith(".parquet") for f in os.listdir(sink)):
            seen = spark.read.parquet(sink).select("fp")
            b = b.join(seen, "fp", "left_anti")
        b.write.mode("append").parquet(sink)

    drain(file_stream(spark, schema, input_dir).writeStream
          .foreachBatch(handle), out_dir)
    return sink


def prepare_ranged_docs(docs_parquet: str, out_dir: str,
                        n_files: int = 3) -> str:
    """Split a documents parquet into ``n_files`` doc_id-ranged files with
    ascending mtimes, so the file source replays them in id order and the
    cross-batch winner (first batch seen) is also the global min doc_id —
    which is what lets a plain GROUP BY oracle reproduce the stream's
    output exactly.  Replay scaffolding, not a pipeline stage."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    table = pq.read_table(docs_parquet)
    pdf = table.to_pandas().sort_values("doc_id").reset_index(drop=True)
    n = len(pdf)
    cuts = [(n * i) // n_files for i in range(n_files)] + [n]
    base_mtime = None
    for i in range(n_files):
        part = pdf.iloc[cuts[i]:cuts[i + 1]]
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, schema=table.schema,
                                            preserve_index=False), path)
        st = os.stat(path)
        if base_mtime is None:
            base_mtime = st.st_mtime
        os.utime(path, (st.st_atime, base_mtime + i))
    return out_dir
