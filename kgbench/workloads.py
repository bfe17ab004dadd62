"""The benchmark's workloads.  Each one generates its inputs from the seed,
warms the engine up, and then serves timed calls through a public entry
point: ``pipeline.run_pipeline`` or ``streaming.kg.run_kg_available_now``.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow.parquet as pq

from recrun_spark import pipeline
from recrun_spark.fixtures.aliases import all_surfaces, head_alias, make_aliases
from recrun_spark.fixtures.generator import corpus_to_arrow, make_corpus, make_doc
from recrun_spark.streaming import kg

from check import GOLDEN_DOCS, GOLDEN_PREFIX, GOLDEN_SEED

SAMPLE_DOCS = 24  # batch docs re-derived in a single process per run
SAMPLE_PER_FILE = 8  # the same, per landed file of the incremental loop


def golden_docs() -> list:
    return [(GOLDEN_PREFIX + d, spans)
            for d, spans in make_corpus(GOLDEN_DOCS, GOLDEN_SEED)]


def write_docs(path: str, docs: list, n_files: int = 1) -> None:
    """Write ``docs`` as ``n_files`` parquet files under the directory
    ``path`` (several files, so the scan splits across cores)."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(docs) // n_files)
    for i in range(0, len(docs), step):
        pq.write_table(corpus_to_arrow(docs[i:i + step]),
                       os.path.join(path, f"part-{i // step:05d}.parquet"))


class Workload:
    name = ""
    entry = ""  # layer of the timed entry point

    def __init__(self, seed: int, work: str, cpus: int):
        self.seed = seed
        self.work = work
        self.cpus = cpus
        self.surfaces = all_surfaces(make_aliases())
        self.head = head_alias()
        self.rng = random.Random(seed)
        self.sample: list = []  # (doc_id, spans) re-derived by the check

    def doc(self, ix: int):
        return (f"w{ix:06d}", make_doc(ix, self.seed, self.surfaces,
                                       self.head))

    def before_call(self, i: int) -> None:
        """Untimed work of the client before call ``i``."""


class BatchUniform(Workload):
    """Uniform-profile documents through the four-stage batch pipeline with
    the shipped fixture dictionary; every stage writes a manifested table."""

    name = "batch_uniform"
    entry = "pipeline"
    n_docs = 3000

    def generate(self) -> None:
        docs = [self.doc(ix) for ix in range(self.n_docs)]
        self.sample = self.rng.sample(docs, SAMPLE_DOCS)
        self.input = os.path.join(self.work, "input")
        write_docs(self.input, docs + golden_docs(), 2 * self.cpus)
        self.warm_input = os.path.join(self.work, "warm_input")
        write_docs(self.warm_input, golden_docs())
        self.docs_per_call = self.n_docs + GOLDEN_DOCS

    def warm_up(self, spark) -> None:
        pipeline.run_pipeline(spark, self.warm_input,
                              os.path.join(self.work, "warm_out"), force=True)

    def before_call(self, i: int) -> None:
        """Each call writes a fresh output directory (a resumed run would
        skip every stage); the previous one is dropped untimed."""
        if i > 0:
            shutil.rmtree(self.last_out)
        self.last_out = os.path.join(self.work, f"out{i}")

    def call(self, spark) -> int:
        summary = pipeline.run_pipeline(spark, self.input, self.last_out,
                                        force=True)
        if summary["docs"] != self.docs_per_call:
            raise RuntimeError(f"stage 1 wrote {summary['docs']} rows for "
                               f"{self.docs_per_call} documents")
        return self.docs_per_call

    def triples(self, spark):
        return spark.read.parquet(os.path.join(self.last_out,
                                               "stage4_triples"))

    def trace_targets(self):
        return pipeline, ("load_aliases", "extract_documents",
                          "detect_mentions", "link_mentions", "canonicalize",
                          "assemble_triples", "write_table")


class Incremental(Workload):
    """A closed loop with one client: land one parquet file of documents,
    drain it with ``run_kg_available_now``, wait for it to return, repeat.
    The golden documents land first, in the warm-up."""

    name = "incremental"
    entry = "streaming"
    docs_per_file = 200

    def generate(self) -> None:
        self.input = os.path.join(self.work, "landing")
        self.out = os.path.join(self.work, "kg_out")
        self.staging = os.path.join(self.work, "staging")
        os.makedirs(self.input)
        os.makedirs(self.staging)
        self.files = 0
        self.next_ix = 0

    def stage(self, docs: list) -> str:
        """Write the next file aside, outside the watched directory."""
        path = os.path.join(self.staging, f"part-{self.files:05d}.parquet")
        pq.write_table(corpus_to_arrow(docs), path)
        self.files += 1
        return path

    def land(self, path: str) -> None:
        """Move a staged file into the watched directory in one rename, so
        the stream never lists a half-written file."""
        os.rename(path, os.path.join(self.input, os.path.basename(path)))

    def next_docs(self) -> list:
        docs = [self.doc(ix) for ix in range(self.next_ix,
                                             self.next_ix + self.docs_per_file)]
        self.next_ix += self.docs_per_file
        return docs

    def warm_up(self, spark) -> None:
        self.land(self.stage(golden_docs()))
        kg.run_kg_available_now(spark, self.input, self.out)

    def before_call(self, i: int) -> None:
        """The client writes the next file while no call is running."""
        docs = self.next_docs()
        self.sample.extend(self.rng.sample(docs, SAMPLE_PER_FILE))
        self.pending = self.stage(docs)

    def call(self, spark) -> int:
        """One increment: the file lands, then the call drains it."""
        self.land(self.pending)
        kg.run_kg_available_now(spark, self.input, self.out)
        return self.docs_per_file

    def triples(self, spark):
        return spark.read.parquet(os.path.join(self.out, "triples"))

    def trace_targets(self):
        return kg, ("load_aliases", "canonicalize", "extract_documents",
                    "detect_mentions", "link_mentions", "assemble_triples",
                    "release_caches")


WORKLOADS = {w.name: w for w in (BatchUniform, Incremental)}
