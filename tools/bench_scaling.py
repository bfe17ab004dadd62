"""Scaling-efficiency evidence (north_rule): run the SAME stage-1 extraction
job at local[8] and local[32] (the sandbox proxy for N vs 4N executors) and
report throughput at both plus efficiency = dps(4N) / (4 * dps(N)).

Each parallelism level runs in a FRESH JVM (subprocess) so thread pools,
GC sizing, and shuffle partitioning are configured per level, exactly as
separate cluster sizes would be.  Median of `repeats` runs per level (this
host shows up to 3x noisy-neighbor variance).

Usage: python tools/bench_scaling.py [--docs 200000] [--repeats 3]
Writes BENCH_SCALING.json at the repo root and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
CACHE = os.path.join(REPO, ".bench_cache")

CHILD = r"""
import json, statistics, sys, time
sys.path.insert(0, {repo!r})
from recrun_spark.session import get_spark
from pyspark.sql import functions as F
from recrun_spark.stage1 import extract_documents

cpus = {cpus}
job = {job!r}
spark = get_spark(f"scale{{cpus}}", cpus=cpus, extra_conf={{
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.files.openCostInBytes": "4m"}})
docs = spark.read.parquet({corpus!r})
# warm-up, untimed: full scan (page cache) + python worker pool + codegen
if job == "dedup":
    docs.agg(F.sum(F.length("text"))).collect()
else:
    docs.agg(F.sum(F.size("spans"))).collect()
    extract_documents(docs.limit(2000)).agg(F.count(F.lit(1))).collect()


def run_extract():
    return extract_documents(docs).agg(F.count(F.lit(1))).collect()[0][0]


def run_pipeline():
    # the full in-memory KG pipeline: extract -> link -> canonicalize ->
    # triples, without the stage-table writes of pipeline.run_pipeline
    from recrun_spark.stage2 import detect_mentions, link_mentions, load_aliases
    from recrun_spark.stage3 import canonicalize
    from recrun_spark.stage4 import assemble_triples
    dictionary = canonicalize(load_aliases(spark))
    ex = extract_documents(docs).persist()
    linked = link_mentions(detect_mentions(ex, dictionary),
                           dictionary).persist()
    trips = assemble_triples(ex, linked, dictionary.canonical)
    n = trips.count()
    ex.unpersist(); linked.unpersist()
    return n


def run_dedup():
    # end-to-end text dedup over the boilerplate-heavy corpus: shingle ->
    # LSH -> df-cut verify -> distributed CC -> canonical map (the whole
    # training-data dedup path under one timing)
    from recrun_spark.functions.dedup import dedup_clusters
    from recrun_spark.operators import release_caches
    out = dedup_clusters(docs, threshold=0.6)
    n = out.count()
    release_caches(out)
    return n


fn = {{"pipeline": run_pipeline, "dedup": run_dedup}}.get(job, run_extract)
ds = []
for _ in range({repeats}):
    t0 = time.time()
    n = fn()
    ds.append(time.time() - t0)
print(json.dumps({{"cpus": cpus, "n": n, "runs": ds,
                   "median_sec": statistics.median(ds)}}))
"""


def ensure_corpus(n_docs: int) -> str:
    """The fixture corpus (``fixtures.generator``, the tests' seed),
    written once under .bench_cache/ in 1,000-doc files."""
    import pyarrow.parquet as pq
    sys.path.insert(0, REPO)
    from recrun_spark.fixtures.aliases import head_alias, make_aliases
    from recrun_spark.fixtures.generator import (GEN_VERSION, corpus_to_arrow,
                                                 make_doc)
    path = os.path.join(CACHE, f"corpus_v{GEN_VERSION}_{n_docs}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        os.makedirs(path, exist_ok=True)
        surfaces = sorted({r[0] for r in make_aliases(42)})
        for k in range(0, n_docs, 1000):
            chunk = [(f"doc{ix:06d}", make_doc(ix, 42, surfaces, head_alias()))
                     for ix in range(k, min(n_docs, k + 1000))]
            pq.write_table(corpus_to_arrow(chunk),
                           os.path.join(path, f"part-{k // 1000:05d}.parquet"))
        open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def ensure_dedup_corpus(n_docs: int, mega: int | None = None) -> str:
    """The dedup corpus (``write_dedup_corpus``).  ``mega`` is the
    near-duplicate mega-cluster size: the 15% default is the adversarial
    skew; pass a small value (e.g. 100) for the near-uniform corpus the
    SCALING measurement wants — the hot band-bucket's candidate expansion
    is deliberately skewed work, which measures the adversary, not the
    operator's parallelizability."""
    if mega is None:
        mega = max(100, (n_docs * 3) // 20)
    path = os.path.join(CACHE, f"dedup_skew_{n_docs}_{mega}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # in a child process, so the generating JVM is gone before any
        # level is timed
        code = (f"import sys; sys.path[:0] = [{REPO!r}, {TOOLS!r}]\n"
                "from recrun_spark.session import get_spark\n"
                "import bench_scaling\n"
                "bench_scaling.write_dedup_corpus(get_spark('gen'), "
                f"{path!r}, {n_docs}, {mega})\n")
        subprocess.run([sys.executable, "-c", code], check=True,
                       env=dict(os.environ, PYTHONPATH=REPO), cwd=REPO)
    return path


def write_dedup_corpus(spark, path: str, n_docs: int, mega: int) -> None:
    """Deterministic corpus with one MEGA near-duplicate cluster: ``mega``
    docs share a 60-word boilerplate template (7 suffix variants), the
    rest are all-unique.  Stresses the df-cut (the template shingles blow
    past max_shingle_freq and must be cut), the LSH banding under
    near-identical signatures (a hot band bucket), and the distributed CC
    path under a hot component (~mega²/2·(1/7) edges ≫ the 200k
    driver-local threshold).  Pure SQL expressions — no Python row loop."""
    from pyspark.sql import functions as F
    tpl = " ".join(f"boilerplate{j:02d}word" for j in range(60))
    df = spark.range(n_docs).select(
        F.concat(F.lit("doc"), F.lpad(F.col("id").cast("string"), 6, "0")
                 ).alias("doc_id"),
        F.when(
            F.col("id") < mega,
            F.concat(F.lit(tpl + " variant"),
                     (F.col("id") % 7).cast("string"),
                     F.lit("a variant"), (F.col("id") % 7).cast("string"),
                     F.lit("b"))
        ).otherwise(
            F.concat_ws(" ", F.transform(
                F.sequence(F.lit(0), F.lit(29)),
                lambda j: F.concat(F.lit("u"), F.col("id").cast("string"),
                                   F.lit("w"), j.cast("string"))))
        ).alias("text"))
    df.repartition(32).write.mode("overwrite").parquet(path)


QUIET_LOAD = float(os.environ.get("RECRUN_SCALING_QUIET_LOAD", "1.5"))


def run_level(cpus: int, corpus: str, repeats: int,
              job: str = "extract") -> dict:
    """One fresh-JVM level, behind a loadavg gate.  Neighbor load biases
    the two levels ASYMMETRICALLY (a 2-core child is nearly noise-immune
    on a 32-core host; the high level absorbs the steal), so every ratio
    measured under load is biased LOW — gate each level on a quiet
    1-minute loadavg and record the brackets so the artifact shows
    whether the window held."""
    import time
    waited = 0
    while os.getloadavg()[0] > QUIET_LOAD and waited < 900:
        time.sleep(15)
        waited += 15
    load_before = round(os.getloadavg()[0], 2)
    code = CHILD.format(repo=REPO, cpus=cpus, corpus=corpus, repeats=repeats,
                        job=job)
    out = subprocess.run([sys.executable, "-c", code], check=True,
                         capture_output=True, text=True, cwd=REPO)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res["gate"] = {"waited_s": waited, "loadavg_before": load_before,
                   "loadavg_after": round(os.getloadavg()[0], 2)}
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int,
                    default=int(os.environ.get("RECRUN_BENCH_DOCS",
                                               "200000")))
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--levels", type=str, default="8,32")
    ap.add_argument("--job", choices=["extract", "pipeline", "dedup"],
                    default="extract")
    ap.add_argument("--dedup-mega", type=int, default=None,
                    help="mega-cluster size for --job dedup (default: the "
                         "15%% adversarial share; use ~100 for the "
                         "near-uniform scaling corpus)")
    args = ap.parse_args()

    if args.job == "dedup":
        corpus = ensure_dedup_corpus(args.docs, args.dedup_mega)
    else:
        corpus = ensure_corpus(args.docs)
    levels = [int(x) for x in args.levels.split(",")]
    results = {c: run_level(c, corpus, args.repeats, args.job)
               for c in levels}

    lo, hi = min(levels), max(levels)
    dps = {c: args.docs / results[c]["median_sec"] for c in levels}
    eff = dps[hi] / ((hi / lo) * dps[lo])
    report = {
        "metric": "scaling_efficiency",
        "job": args.job,
        "value": round(eff, 3),
        "unit": "ratio",
        "docs": args.docs,
        "levels": {str(c): {"median_sec": round(results[c]["median_sec"], 2),
                            "docs_per_sec": round(dps[c], 1),
                            "runs": [round(x, 2) for x in results[c]["runs"]],
                            "gate": results[c].get("gate")}
                   for c in levels},
        "rule": f"eff = dps[{hi}] / ({hi // lo} * dps[{lo}]) >= 0.8",
        "pass": eff >= 0.8,
    }
    out_name = {"extract": "BENCH_SCALING.json",
                "pipeline": "BENCH_SCALING_PIPELINE.json",
                "dedup": "BENCH_SCALING_DEDUP.json"}[args.job]
    with open(os.path.join(REPO, out_name), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
