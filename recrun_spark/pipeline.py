"""End-to-end KG-construction pipeline with batch-level checkpoint/resume.

``run_pipeline(spark, input_path, out_dir)`` compiles the alias dictionary
once (``stage3.canonicalize``), then executes:

  stage1_extract   documents → extractions            (zero-shuffle map)
  stage2_mentions  extractions → mentions → linked    (broadcast dict join)
  stage3_canonical dictionary.canonical → table
  stage4_triples   → triples, partitioned by pred

Each stage writes ``<out_dir>/<stage>/`` via TableIO with a ``_MANIFEST.json``
completion marker and a fingerprint of what built it (input files, settings,
dictionary, engine sources); a re-run skips a stage only while its
fingerprint matches, else rebuilds it and every later stage
(tests/test_stages_kg.py).

CLI:  python -m recrun_spark.pipeline --input spans.parquet --out /tmp/kg
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import importlib.resources
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from .io.tableio import (MANIFEST, read_manifest, read_table, write_json,
                         write_table)
from .readability import Settings
from .stage1 import extract_documents
from .stage2 import detect_mentions, link_mentions, load_aliases
from .stage3 import canonicalize
from .stage4 import assemble_triples

STAGES = ("stage1_extract", "stage2_mentions", "stage3_canonical",
          "stage4_triples")


@functools.lru_cache(maxsize=None)
def _code_digest() -> str:
    """Hash of every engine source file (``recrun_spark/**/*.py``), read
    through the package loader, so a zipped package (``--py-files``)
    hashes its members too."""
    def sources(node, prefix=""):
        for child in node.iterdir():
            name = prefix + child.name
            if child.is_dir():
                yield from sources(child, name + "/")
            elif name.endswith(".py"):
                yield name, child.read_bytes()

    files = sorted(sources(importlib.resources.files(__package__)))
    if not files:
        raise RuntimeError(f"no {__package__} sources to fingerprint")
    h = hashlib.sha1()
    for name, data in files:
        for b in (name.encode(), data):
            h.update(len(b).to_bytes(8, "big"))
            h.update(b)
    return h.hexdigest()


def _input_digest(documents: DataFrame) -> str:
    """Hash of the (path, size, mtime) listing of the files the scan reads,
    stat'ed through the Hadoop filesystem of each path (no Spark job)."""
    spark = documents.sparkSession
    conf = spark._jsc.hadoopConfiguration()
    listing = []
    for uri in sorted(documents.inputFiles()):
        path = spark._jvm.org.apache.hadoop.fs.Path(uri)
        st = path.getFileSystem(conf).getFileStatus(path)
        listing.append([uri, st.getLen(), st.getModificationTime()])
    return hashlib.sha1(json.dumps(listing).encode()).hexdigest()


def run_pipeline(spark: SparkSession, input_path: str, out_dir: str,
                 aliases_df: DataFrame | None = None,
                 settings: Settings | None = None,
                 force: bool = False,
                 include_renders: bool = True) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.time()
    aliases = aliases_df if aliases_df is not None else load_aliases(spark)
    dictionary = canonicalize(aliases)

    documents = spark.read.parquet(input_path)
    extract_fp = {"input": _input_digest(documents),
                  "settings": repr(settings or Settings.shipped()),
                  "include_renders": include_renders,
                  "code": _code_digest()}
    fingerprint = {**extract_fp, "dictionary": dictionary.digest.hex()}
    rebuild = force

    def stage(name, build, fp=fingerprint, **write_kw) -> DataFrame:
        nonlocal rebuild
        path = os.path.join(out_dir, name)
        m = None if rebuild else read_manifest(path)
        if m is None or m.get("fingerprint") != fp:
            rebuild = True  # every later stage reads this one's output
            # drop the old manifest before the data changes: an Iceberg
            # write leaves this directory alone, and a kill before the new
            # manifest would otherwise leave the old one vouching for it
            if os.path.exists(os.path.join(path, MANIFEST)):
                os.remove(os.path.join(path, MANIFEST))
            write_table(build(), path, stage=name, fingerprint=fp, **write_kw)
        return read_table(spark, path)

    extractions = stage(
        "stage1_extract",
        lambda: extract_documents(documents, settings,
                                  include_renders=include_renders),
        fp=extract_fp)
    linked = stage(
        "stage2_mentions",
        lambda: link_mentions(detect_mentions(extractions, dictionary),
                              dictionary))
    canonical = stage("stage3_canonical", lambda: dictionary.canonical,
                      lineage_key="entity_id")
    stage("stage4_triples",
          lambda: assemble_triples(extractions, linked, canonical),
          partition_by=["pred"])

    # counts come from the manifests' lineage: docs from stage 1 (one
    # extraction row per document), triples from stage 4 — no count job
    stages = {s: read_manifest(os.path.join(out_dir, s)) for s in STAGES}
    summary = {
        "input": input_path,
        "docs": stages["stage1_extract"]["rows"],
        "triples": stages["stage4_triples"]["rows"],
        "wall_sec": round(time.time() - t0, 3),
        "fingerprint": fingerprint,
        "stages": stages,
    }
    write_json(os.path.join(out_dir, "_PIPELINE.json"), summary)
    return summary


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--no-renders", action="store_true",
                    help="skip text/html renderings (KG-only outputs; "
                         "halves fold cost and most of stage-1 write bytes)")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()
    from .session import get_spark
    # Python-fold cost per input byte is ~100x a columnar scan's, so size
    # splits for CPU balance, not IO: small maxPartitionBytes keeps every
    # core busy in stage 1 (at real cluster scale, tune to ~docs-per-task
    # x fold-cost; the default 128m would starve a 32-core node on a
    # sub-GB corpus)
    spark = get_spark("recrun_pipeline", cpus=args.cpus, extra_conf={
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.sql.files.openCostInBytes": "2m",
    })
    summary = run_pipeline(spark, args.input, args.out, force=args.force,
                           include_renders=not args.no_renders)
    print(json.dumps({k: v for k, v in summary.items() if k != "stages"}))


if __name__ == "__main__":
    main()
