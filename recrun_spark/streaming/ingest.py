"""Structured Streaming ingestion for the KG pipeline (SURVEY.md §2.8).

The reference is a per-document streaming fold with no cross-document state
— so corpus-level incremental processing maps cleanly to Structured
Streaming: ``readStream`` over a document source → the SAME stage-1
extraction (mapInArrow works unchanged on streaming DataFrames) →
``writeStream`` with checkpointing.  ``Trigger.AvailableNow`` drains the
backlog batch-style and exits, which is the right shape for incremental
10^12-doc ingestion (run per arrival window, exactly-once via the checkpoint
+ file-sink manifest).

No watermarks or stateful operators are needed (and the north rule's
checkpoint/resume is batch-level) — late data cannot exist because each
document is self-contained; per SURVEY.md §2.8 we deliberately do NOT
invent event-time semantics the reference doesn't have.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..readability import Settings
from ..stage1 import DOCUMENTS_SCHEMA, extract_documents
from .base import drain


def stream_documents(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream over a parquet document directory (files arriving over
    time = the incremental corpus), every available file in one batch."""
    return spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(input_dir)


def extract_stream(stream_df: DataFrame,
                   settings: Optional[Settings] = None) -> DataFrame:
    """Stage-1 extraction on a streaming DataFrame — the same zero-shuffle
    Arrow map as the batch path."""
    return extract_documents(stream_df, settings)


def run_available_now(spark: SparkSession, input_dir: str, out_dir: str,
                      settings: Optional[Settings] = None) -> dict:
    """Drain all currently-available documents through extraction into a
    parquet sink with exactly-once checkpointing; returns progress info.

    Re-running after new files land processes ONLY the new files (the
    checkpoint records what was seen) — the streaming counterpart of the
    batch pipeline's manifest-based resume.
    """
    sink = os.path.join(out_dir, "extractions")
    ex = extract_stream(stream_documents(spark, input_dir), settings)
    q = drain(ex.writeStream.format("parquet").option("path", sink)
              .outputMode("append"), out_dir)
    progress = q.lastProgress or {}
    return {"batches": progress.get("batchId", -1) + 1
            if isinstance(progress.get("batchId"), int) else None,
            "sink": sink}
