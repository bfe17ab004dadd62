"""Incremental KG construction over a document stream (SURVEY.md §2.8 +
north_rule stage 4 resume semantics, streaming form).

``run_kg_available_now`` drains newly-arrived document files inside
``foreachBatch``, one pass per micro-batch: a single Arrow map
(``stage4.document_rows``) folds each document with stage 1's fold,
matches its text with stage 2's cached matcher, maps each mention to its
canonical entity through one broadcast dict (``Dictionary.entity_of``)
and merges the rows of one doc_id; the JVM then expands those
per-document rows with stage 4's own rules (``stage4.expand_triples``)
and writes them.  No join, no exchange and no second fold:

* every triple rule is doc-scoped (mentioned_in / co_mentioned_with /
  illustrated_by / next_page_of all carry the doc_id they came from), and
  each document lands in exactly one micro-batch — so the union of the
  per-batch outputs equals the batch pipeline's output EXACTLY (set
  equality, tested), with no cross-batch reconciliation needed;
* a doc_id that repeats is merged only within one task, that is, within
  one split of one file.  A repeat across files is not merged, and
  neither is one across splits of a file larger than
  ``spark.sql.files.maxPartitionBytes`` (the batch pipeline groups by
  doc_id over all its input, so there the two answers differ);
* each batch writes to ``triples/batch=<id>/`` with mode=overwrite —
  idempotent per batchId, so a retried/re-executed batch cannot duplicate
  (the foreachBatch exactly-once recipe);
* the alias dictionary is compiled once per call (``stage3.canonicalize``)
  and broadcast once for its micro-batches; its digest is kept in
  ``<out_dir>/_MANIFEST.json``, and a later call with another dictionary
  raises rather than mix two canonical-id spaces in one triples root;
* re-running after new files land processes ONLY the new files (file-source
  checkpoint), the streaming counterpart of manifest-based resume.

Late-data contract: documents are NOT event-timed — every triple rule is a
pure function of a single document, so there is no watermark and nothing
to buffer.  A late or out-of-order arrival (a backfilled file with an
older mtime, docs arriving in any order) is simply a new file: it is
processed exactly once into its own batch, and the union is unchanged
(tests/test_streaming.py::test_incremental_kg_late_out_of_order_arrival).
Event-time semantics live where event time exists — the sessionizer
(sessions.py) carries the watermark + event-time-timeout story.
(File-source caveat: files older than the source's ``maxFileAge`` —
default 7 days — behind the newest seen file are ignored; backfills older
than that need a batch job, not the stream.)
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..io.tableio import MANIFEST, read_manifest, write_json
from ..readability import Settings
from ..stage1 import DOCUMENTS_SCHEMA
from ..stage4 import document_rows, expand_triples
from .base import drain, file_stream

# the kgbench tracer wraps these seven names of this module by
# ``getattr``, so each must stay importable here (a missing one fails
# every traced run).  ``run_kg_available_now`` calls ``load_aliases`` and
# ``canonicalize``, ``handle`` calls ``release_caches``; the other four
# are here for the tracer alone
from ..operators import release_caches
from ..stage1 import extract_documents  # noqa: F401
from ..stage2 import detect_mentions, link_mentions, load_aliases  # noqa: F401
from ..stage3 import canonicalize
from ..stage4 import assemble_triples  # noqa: F401


def run_kg_available_now(spark: SparkSession, input_dir: str, out_dir: str,
                         aliases_df: DataFrame | None = None,
                         settings: Optional[Settings] = None) -> str:
    """Drain available document files through the full KG flow; returns the
    triples root (one ``batch=<id>/`` parquet dir per processed batch)."""
    aliases = aliases_df if aliases_df is not None else load_aliases(spark)
    dictionary = canonicalize(aliases)
    pinned = (read_manifest(out_dir) or {}).get("dictionary")
    if pinned is None:
        write_json(os.path.join(out_dir, MANIFEST),
                   {"complete": True, "dictionary": dictionary.digest.hex()})
    elif pinned != dictionary.digest.hex():
        raise ValueError(f"{out_dir} holds triples built with dictionary "
                         f"{pinned}: use a fresh output directory")
    triples_root = os.path.join(out_dir, "triples")
    entity_of = spark.sparkContext.broadcast(dictionary.entity_of)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        trips = expand_triples(document_rows(batch_df, dictionary.digest,
                                             entity_of, settings))
        (trips.write.mode("overwrite")
         .parquet(os.path.join(triples_root, f"batch={batch_id}")))
        # a no-op on these frames; the kgbench tracer ends the batch span here
        release_caches(trips)

    stream = file_stream(spark, DOCUMENTS_SCHEMA, input_dir)
    drain(stream.writeStream.foreachBatch(handle), out_dir)
    return triples_root
