"""Stages 2-4 + pipeline: triple parity vs golden (P/R >= 0.95 gate —
BASELINE.json), CC correctness vs union-find, salted join equivalence,
checkpoint/resume."""

import json
import os
import random

import pytest
from pyspark.sql import functions as F

GOLDEN_TRIPLES = os.path.join(os.path.dirname(__file__), "..", "data",
                              "golden", "triples.jsonl")


def load_golden_triples():
    with open(GOLDEN_TRIPLES) as f:
        return {tuple(json.loads(line)) for line in f}


def test_connected_components_vs_union_find(spark):
    from recrun_spark.operators import connected_components
    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(60)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(70)]
    edges = [(a, b) for a, b in edges if a != b]

    # golden union-find
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    expected = {n: find(n) for n in nodes
                if any(n in e for e in edges)}

    df = spark.createDataFrame(edges, ["src", "dst"])
    touched = {n for e in edges for n in e}
    want = {n: expected[n] for n in touched}
    # BOTH paths must emit identical min-label assignments: the distributed
    # large/small-star loop (small_graph_rows=0 forces it) and the
    # driver-local union-find fast path (default takes it at this size)
    for kwargs in ({"small_graph_rows": 0}, {}):
        got = {r["node"]: r["component"]
               for r in connected_components(df, **kwargs).collect()}
        assert set(got) == touched, kwargs
        assert got == want, kwargs


def _random_dictionary(seed=3):
    """A dictionary with prior ties (three prior levels, several entities
    per alias, duplicate rows) and multi-hop same-as chains: ten chains of
    six entities in shuffled id order, consecutive ones sharing a strong
    alias, so the min label sits mid-chain and must travel several hops."""
    rng = random.Random(seed)
    ents = [f"E{i:03d}" for i in range(60)]
    order = ents[:]
    rng.shuffle(order)
    rows = []
    for c in range(0, 60, 6):
        chain = order[c:c + 6]
        for a, b in zip(chain, chain[1:]):
            rows += [(f"hop {a} {b}", a, 0.8), (f"hop {a} {b}", b, 0.9)]
    surfaces = [f"alias{i}" for i in range(25)]
    rows += [(rng.choice(surfaces), rng.choice(ents),
              rng.choice((0.5, 0.8, 0.9))) for _ in range(150)]
    return rows


def test_canonicalize_matches_golden(spark):
    """The Dictionary equals the single-node linking rules on the fixture
    dictionary and a random one with chained strong aliases: the canonical
    map built from the distinct entities and the strong rows equals
    ``canonical_map`` of all rows, and ``entity_of`` maps every surface,
    in surface order, to the canonical id of its best link."""
    from recrun_spark import stage3
    from recrun_spark.fixtures.aliases import make_aliases
    from recrun_spark.linking import build_link_map, canonical_map
    from recrun_spark.stage2 import load_aliases
    for rows in (make_aliases(42), _random_dictionary()):
        d = stage3.canonicalize(load_aliases(spark, rows))
        canon, link = canonical_map(rows), build_link_map(rows)
        assert {r["entity_id"]: r["canonical_id"]
                for r in d.canonical.collect()} == canon
        assert list(d.entity_of) == sorted({r[0] for r in rows})
        assert d.entity_of == {a: canon[e] for a, e in link.items()}
        links = d.links.collect()
        assert len(links) == len(d.entity_of)
        assert {r["alias"]: r["entity_id"] for r in links} == link
        assert d.links.columns == ["alias", "entity_id", "prior"]


def test_canonicalize_rejects_null_rows(spark):
    """A null in any dictionary column, or an empty or whitespace-only
    alias (it would match at every word boundary), fails ``canonicalize``
    with one ValueError naming the fault and its row count, before any
    stage runs on it."""
    import pyarrow as pa

    from recrun_spark.stage2 import ALIAS_SCHEMA
    from recrun_spark.stage3 import canonicalize
    cases = [(c, (None, None), rf"nulls in {c} \(2 rows\)")
             for c in ALIAS_SCHEMA.names]
    cases.append(("alias", ("", " \t"), r"blank aliases \(2 rows\)"))
    for col, (first, last), msg in cases:
        cols = {"alias": ["alpha", "beta", "gamma"],
                "entity_id": ["E1", "E2", "E3"], "prior": [0.9, 0.8, 0.5]}
        cols[col][0], cols[col][2] = first, last
        with pytest.raises(ValueError, match=msg):
            canonicalize(spark.createDataFrame(pa.table(cols), ALIAS_SCHEMA))


def test_stage_modules_import_without_pandas():
    """Python workers import ``recrun_spark.stage1`` and ``stage2`` for
    every stage-1 and stage-2 task, and ``stage4`` too for the stream's
    one-pass map; none needs pandas.  A subprocess, because in-session
    workers are reused across tests."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "import recrun_spark.stage1, recrun_spark.stage2, "
            "recrun_spark.stage4; "
            "assert 'pandas' not in sys.modules")
    subprocess.run([sys.executable, "-c", code, root], check=True)


def test_load_aliases_rows_and_schema(spark):
    """The Arrow-built alias frame holds the fixture rows in order, with
    priors as doubles, under ALIAS_SCHEMA.  An empty one compiles to a
    dictionary that yields no mentions (an empty alternation would match
    at every word boundary)."""
    from recrun_spark.fixtures.aliases import make_aliases
    from recrun_spark.linking import build_alias_pattern, find_mentions
    from recrun_spark.stage2 import (ALIAS_SCHEMA, detect_mentions,
                                     load_aliases)
    from recrun_spark.stage3 import canonicalize
    df = load_aliases(spark)
    assert df.schema == ALIAS_SCHEMA
    assert [tuple(r) for r in df.collect()] == [
        (a, e, float(p)) for a, e, p in make_aliases(42)]
    assert load_aliases(spark, []).collect() == []
    assert find_mentions("Hello big world", build_alias_pattern([])) == []
    empty = canonicalize(load_aliases(spark, []))
    assert detect_mentions(_stage4_inputs(spark)[1], empty).count() == 0


# surface -> entity_id, and entity_id -> canonical_id (E5 folds onto E2)
_LINKS = {"alpha": "E1", "beta": "E2", "gamma": "E3", "delta": "E4",
          "eps": "E5"}
_CANON = {"E1": "E1", "E2": "E2", "E3": "E3", "E4": "E4", "E5": "E2"}
SPAN_FIELDS = ("kind", "text", "media_ref", "offset")


def _stage4_inputs(spark):
    """(extraction rows, extractions, linked mentions, canonical) built
    from Arrow; the linked rows are the text spans' mentions."""
    import pyarrow as pa

    from recrun_spark.linking import build_alias_pattern, find_mentions

    def spans(text, *imgs):
        return ([("text", text, "", 0)] if text else []) + [
            ("img", "", ref, k + 1) for k, ref in enumerate(imgs)]

    rows = [
        ("d1", "", spans("alpha")),                        # one entity
        ("d2", "", spans("alpha beta gamma eps", "i1.png", "i2.png",
                         "i1.png", "")),                   # E5 -> E2
        ("d3", "p3", spans("")),                           # no entity
        ("d4", "p4a", spans("delta", "i4a.png")),          # two rows of d4
        ("d4", "p4b", spans("beta", "i4b.png")),
        (None, "pn", spans("gamma", "in.png")),            # null doc_id
    ]
    span_type = pa.struct([(n, pa.int32() if n == "offset" else pa.string())
                           for n in SPAN_FIELDS])
    extractions = spark.createDataFrame(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.string()),
        "next_page": pa.array([r[1] for r in rows], pa.string()),
        "retained_spans": pa.array(
            [[dict(zip(SPAN_FIELDS, s)) for s in r[2]] for r in rows],
            pa.list_(span_type))}))
    pattern = build_alias_pattern(_LINKS)
    mentions = [(doc, surface, _LINKS[surface])
                for doc, _np, ss in rows for kind, text, _m, _o in ss
                if kind == "text"
                for surface, _start in find_mentions(text, pattern)]
    linked = spark.createDataFrame(pa.table({
        "doc_id": pa.array([m[0] for m in mentions], pa.string()),
        "surface": pa.array([m[1] for m in mentions], pa.string()),
        "entity_id": pa.array([m[2] for m in mentions], pa.string())}))
    canonical = spark.createDataFrame(pa.table({
        "entity_id": pa.array(list(_CANON), pa.string()),
        "canonical_id": pa.array(list(_CANON.values()), pa.string())}))
    return rows, extractions, linked, canonical


def test_assemble_triples_per_doc_rules(spark):
    """Stage 4 emits exactly the ``triples_for_doc`` rules of each doc_id's
    rows taken together (two rows of one doc_id are one document), with no
    duplicate row.  A null doc_id is one more document, so it gets all four
    rules — ``illustrated_by`` included, which an inner join on doc_id
    would drop."""
    from recrun_spark.linking import build_alias_pattern, triples_for_doc
    from recrun_spark.stage4 import TRIPLE_COLS, assemble_triples
    rows, extractions, linked, canonical = _stage4_inputs(spark)
    out = assemble_triples(extractions, linked, canonical)
    assert tuple(out.columns) == TRIPLE_COLS
    got = [tuple(r) for r in out.collect()]
    assert len(got) == len(set(got))

    pattern = build_alias_pattern(_LINKS)
    expected = set()
    for doc in {r[0] for r in rows}:
        group = [r for r in rows if r[0] == doc]
        spans = [s for r in group for s in r[2]]
        for _doc, next_page, _spans in group:
            expected |= triples_for_doc(doc, spans, next_page, pattern,
                                        _LINKS, _CANON)
    assert set(got) == expected
    # the cases the rows stand for
    assert not any(p == "co_mentioned_with" and d == "d1"
                   for _s, p, _o, d in got)
    assert "E5" not in {s for s, *_ in got}
    assert {o for s, p, o, d in got if p == "illustrated_by"
            and d == "d2" and s == "E1"} == {"i1.png", "i2.png"}
    assert {s for s, p, _o, d in got if d == "d4"
            and p == "next_page_of"} == {"p4a", "p4b"}
    assert ("E3", "illustrated_by", "in.png", None) in got


def test_job_counts_on_the_kg_path(spark, tmp_path):
    """Metadata the engine already holds costs no Spark job: a table write
    is the write alone (lineage from its footers), a read is schema-pinned
    (no inference), and compiling the fixture dictionary is its one Arrow
    transfer.  The alias, link and canonical frames are local relations,
    so reading them back is free too (a list-built frame would be an RDD
    scan)."""
    import pyarrow as pa

    from recrun_spark.io.tableio import read_table, write_table
    from recrun_spark.stage2 import load_aliases
    from recrun_spark.stage3 import canonicalize
    sc = spark.sparkContext

    def jobs(name, fn):
        group = f"job-count-guard:{name}"
        sc.setJobGroup(group, name)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    local = spark.createDataFrame(pa.table({"doc_id": ["d1", "d2", "d0"],
                                            "n": [1, 2, 3]}))
    path = str(tmp_path / "t")
    assert jobs("write_table", lambda: write_table(local, path)) == 1
    assert jobs("read_table", lambda: read_table(spark, path)) == 0
    built = []
    assert jobs("canonicalize", lambda: built.append(
        canonicalize(load_aliases(spark)))) == 1
    d = built[0]
    assert jobs("dictionary frames", lambda: (
        load_aliases(spark).collect(), d.links.collect(),
        d.canonical.collect())) == 0

    # stage 4 is one doc_id aggregate: one hash exchange, the canonical
    # broadcast, and no cached intermediate
    from recrun_spark.stage4 import assemble_triples
    trips = assemble_triples(*_stage4_inputs(spark)[1:])
    plan = trips._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
    assert jobs("write triples", lambda: write_table(
        trips, str(tmp_path / "triples"), partition_by=["pred"])) == 3

    # mention detection is a pure map: a one-partition input (the stream's
    # one-file micro-batch) is matched where it is, with no exchange
    from recrun_spark.stage2 import detect_mentions, link_mentions
    mentions = detect_mentions(_stage4_inputs(spark)[1].coalesce(1), d)
    plan = mentions._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # and linking broadcasts the dictionary's best links by its hint, with
    # no hash shuffle (size-based auto-broadcast off, so the fixture's
    # small size cannot stand in for the hint)
    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = link_mentions(mentions, d)._jdf.queryExecution() \
            .executedPlan().toString()
    finally:
        spark.conf.set(key, threshold)
    assert "BroadcastExchange" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_incremental_call_is_one_pass(spark, tmp_path):
    """One availableNow call on a fresh one-file input runs 2 Spark jobs:
    canonicalize's transfer and the micro-batch's write.  The micro-batch
    folds, matches, links and merges each document in one Python map, and
    the JVM only expands the rules: no exchange, no broadcast join."""
    import pyarrow.parquet as pq

    from recrun_spark.fixtures.generator import corpus_to_arrow, make_corpus
    from recrun_spark.stage2 import load_aliases
    from recrun_spark.stage3 import canonicalize
    from recrun_spark.stage4 import document_rows, expand_triples
    from recrun_spark.streaming.kg import run_kg_available_now
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def job_ids():
        jsc.listenerBus().waitUntilEmpty()
        jl = jsc.statusStore().jobsList(None)
        return {jl.apply(i).jobId() for i in range(jl.size())}

    src = tmp_path / "in"
    src.mkdir()
    pq.write_table(corpus_to_arrow(make_corpus(20)), str(src / "a.parquet"))
    aliases = load_aliases(spark)
    before = job_ids()
    run_kg_available_now(spark, str(src), str(tmp_path / "out"), aliases)
    assert len(job_ids() - before) == 2

    d = canonicalize(aliases)
    trips = expand_triples(document_rows(
        spark.read.parquet(str(src)), d.digest,
        sc.broadcast(d.entity_of)))
    plan = trips._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "Exchange" not in plan, plan  # BroadcastExchange included


def _zip_module(path, source):
    import zipfile
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zmod.py", source)


def test_pydaemon_rereads_a_changed_archive_in_every_importer(
        tmp_path, monkeypatch):
    """An importer re-reads its zip only when the archive changed since it
    last read it, and every importer of a changed archive re-reads it."""
    import importlib.util
    import zipimport

    from recrun_spark import pydaemon
    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or stock_read(path))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.invalidate_caches)
    path = str(tmp_path / "lib.zip")
    _zip_module(path, "VALUE = 1\n")
    importers = [zipimport.zipimporter(path), zipimport.zipimporter(path)]

    def value(importer):
        spec = importer.find_spec("zmod")
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        return module.VALUE

    for imp in importers:
        imp.invalidate_caches()
    del reads[:]
    for imp in importers:
        imp.invalidate_caches()
    assert reads == []

    _zip_module(path, "VALUE = 'rewritten'\n")
    for imp in importers:
        imp.invalidate_caches()
    assert reads == [path, path]
    assert [value(imp) for imp in importers] == ["rewritten", "rewritten"]


def test_local_session_python_workers_run_under_pydaemon(spark):
    import pyarrow as pa

    def fn(batches):
        import zipimport
        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"f": [code.co_filename]})

    rows = spark.range(1, numPartitions=1).mapInArrow(fn, "f string").collect()
    assert [r.f.endswith("recrun_spark/pydaemon.py") for r in rows] == [True]


def test_get_spark_keeps_the_master_given_to_spark_submit(tmp_path):
    """Under ``spark-submit --master M``, ``get_spark`` runs on M: it sets
    no local master of its own (that would pin a cluster job to one node)
    and no pydaemon module (a --py-files zip is not on the daemon's
    path)."""
    import subprocess

    import pyspark

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = tmp_path / "probe.py"
    probe.write_text(
        "from recrun_spark.session import get_spark\n"
        "s = get_spark('probe', cpus=1)\n"
        "conf = s.sparkContext.getConf()\n"
        "print(s.sparkContext.master,"
        " conf.get('spark.python.daemon.module', None))\n"
        "s.stop()\n")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_MASTER"}
    env["PYTHONPATH"] = root
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                          "spark-submit")
    out = subprocess.run([submit, "--master", "local[2]",
                          "--driver-memory", "512m", str(probe)],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "local[2] None"


def test_salted_join_equivalence(spark):
    from recrun_spark.operators import salted_join
    big = spark.createDataFrame(
        [(f"k{i % 3}", i) for i in range(100)], ["k", "v"])
    small = spark.createDataFrame(
        [("k0", "a"), ("k1", "b"), ("k2", "c"), ("k9", "z")], ["kk", "w"])
    plain = sorted(map(tuple, big.join(small, big.k == small.kk)
                       .select("k", "v", "w").collect()))
    salted = sorted(map(tuple, salted_join(big, small, "k", "kk", buckets=4)
                        .select("k", "v", "w").collect()))
    assert plain == salted


@pytest.fixture(scope="module")
def pipeline_out(spark, corpus_parquet, tmp_path_factory):
    from recrun_spark.pipeline import run_pipeline
    out = str(tmp_path_factory.mktemp("kg_out"))
    summary = run_pipeline(spark, corpus_parquet, out)
    return out, summary


def test_triple_parity(spark, pipeline_out):
    """P/R >= 0.95 on (subj, pred, obj) vs reference-derived golden triples.
    (By construction of the shared rules we expect exact equality; the 0.95
    gate is the BASELINE.json requirement.)"""
    out, _ = pipeline_out
    got = {(r["subj"], r["pred"], r["obj"])
           for r in spark.read.parquet(os.path.join(out, "stage4_triples"))
           .select("subj", "pred", "obj").distinct().collect()}
    ref = {(s, p, o) for s, p, o, _d in load_golden_triples()}
    tp = len(got & ref)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(ref) if ref else 0.0
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    # and, since the rules are shared code, expect exact match:
    assert got == ref


def test_resume_skips_completed_stages(spark, corpus_parquet, pipeline_out):
    """Kill-and-resume: a second run must reuse manifests (fast) and
    reproduce identical triples."""
    import time

    from recrun_spark.pipeline import run_pipeline
    out, first = pipeline_out
    t0 = time.time()
    second = run_pipeline(spark, corpus_parquet, out)
    resume_wall = time.time() - t0
    assert second["triples"] == first["triples"]
    assert resume_wall < first["wall_sec"]  # stages skipped, only reads

    # simulate a crash after stage1: delete stage2+ manifests, re-run
    for s in ("stage2_mentions", "stage3_canonical", "stage4_triples"):
        os.remove(os.path.join(out, s, "_MANIFEST.json"))
    third = run_pipeline(spark, corpus_parquet, out)
    assert third["triples"] == first["triples"]


def test_triples_partitioned_by_pred(spark, pipeline_out):
    out, _ = pipeline_out
    parts = [d for d in os.listdir(os.path.join(out, "stage4_triples"))
             if d.startswith("pred=")]
    assert sorted(parts) == ["pred=co_mentioned_with", "pred=illustrated_by",
                             "pred=mentioned_in", "pred=next_page_of"]
    manifest = json.load(open(os.path.join(out, "stage4_triples",
                                           "_MANIFEST.json")))
    assert manifest["complete"] and manifest["rows"] > 0
    assert {p["pred"] for p in manifest["partitions"]} == {
        "co_mentioned_with", "illustrated_by", "mentioned_in",
        "next_page_of"}
    # the footer-built lineage is what a scan of the table computes, and
    # the pinned schema is the inferred one (pred is a non-null literal)
    from recrun_spark.io.tableio import read_table
    path = os.path.join(out, "stage4_triples")
    assert read_table(spark, path).schema == spark.read.parquet(path).schema
    scanned = {r["pred"]: (r["rows"], r["min_key"], r["max_key"]) for r in
               spark.read.parquet(path)
               .groupBy("pred")
               .agg(F.count(F.lit(1)).alias("rows"),
                    F.min("doc_id").alias("min_key"),
                    F.max("doc_id").alias("max_key")).collect()}
    assert {p["pred"]: (p["rows"], p["min_key"], p["max_key"])
            for p in manifest["partitions"]} == scanned


# --- resume fingerprints: a resume never returns another input's,
# dictionary's or code version's outputs ---------------------------------

class Killed(Exception):
    pass


def _written_triples(spark, out):
    return {tuple(r) for r in
            spark.read.parquet(os.path.join(out, "stage4_triples"))
            .select("subj", "pred", "obj", "doc_id").collect()}


@pytest.fixture(scope="module")
def two_inputs(spark, tmp_path_factory):
    """Two disjoint 30-doc inputs A and B, and B's triples from a fresh
    output directory."""
    import pyarrow.parquet as pq

    from recrun_spark.fixtures.generator import corpus_to_arrow, make_corpus
    from recrun_spark.pipeline import run_pipeline
    d = tmp_path_factory.mktemp("inputs")
    corpus = make_corpus(60)
    a, b = str(d / "a.parquet"), str(d / "b.parquet")
    pq.write_table(corpus_to_arrow(corpus[:30]), a)
    pq.write_table(corpus_to_arrow(corpus[30:]), b)
    run_pipeline(spark, b, str(d / "fresh_b"))
    return a, b, _written_triples(spark, str(d / "fresh_b"))


def test_resume_rebuilds_for_another_input(spark, two_inputs, tmp_path):
    from recrun_spark.pipeline import run_pipeline
    a, b, expect_b = two_inputs
    out = str(tmp_path / "out")
    run_pipeline(spark, a, out)
    summary = run_pipeline(spark, b, out)
    assert _written_triples(spark, out) == expect_b
    assert summary["triples"] == len(expect_b)


def test_changed_dictionary_rebuilds_or_raises(spark, two_inputs, tmp_path):
    """Batch: a changed dictionary keeps stage 1 and rebuilds stage 2 on.
    Incremental: earlier batches carry the old canonical ids, so a changed
    dictionary raises."""
    import shutil

    from recrun_spark.fixtures.aliases import head_alias, make_aliases
    from recrun_spark.pipeline import run_pipeline
    from recrun_spark.stage2 import load_aliases
    from recrun_spark.streaming.kg import run_kg_available_now
    a, b, expect_b = two_inputs
    changed = [r for r in make_aliases(42) if r[0] != head_alias()]
    fresh = str(tmp_path / "fresh")
    run_pipeline(spark, b, fresh, aliases_df=load_aliases(spark, changed))
    expect_changed = _written_triples(spark, fresh)
    assert expect_changed != expect_b

    out = str(tmp_path / "out")
    run_pipeline(spark, b, out)
    stage1_manifest = os.path.join(out, "stage1_extract", "_MANIFEST.json")
    before = os.stat(stage1_manifest).st_mtime_ns
    run_pipeline(spark, b, out, aliases_df=load_aliases(spark, changed))
    assert _written_triples(spark, out) == expect_changed
    assert os.stat(stage1_manifest).st_mtime_ns == before

    src = str(tmp_path / "landing")
    os.makedirs(src)
    shutil.copy(b, os.path.join(src, "part-0.parquet"))
    stream_out = str(tmp_path / "stream")
    run_kg_available_now(spark, src, stream_out)
    run_kg_available_now(spark, src, stream_out)  # same dictionary: fine
    with pytest.raises(ValueError, match="dictionary"):
        run_kg_available_now(spark, src, stream_out,
                             aliases_df=load_aliases(spark, changed))


def test_resume_after_kill_between_data_and_manifest(spark, two_inputs,
                                                     tmp_path, monkeypatch):
    """A kill after a stage's data is rewritten but before its manifest is
    leaves no manifest behind — not the previous run's — so the resume
    rebuilds that stage instead of trusting data of another input."""
    from recrun_spark import pipeline
    from recrun_spark.io.tableio import read_manifest
    a, b, expect_b = two_inputs
    out = str(tmp_path / "out")
    pipeline.run_pipeline(spark, a, out)

    real = pipeline.write_table

    def killed(df, path, stage="", **kw):
        if stage != "stage2_mentions":
            return real(df, path, stage=stage, **kw)
        df.write.mode("overwrite").parquet(path)
        raise Killed

    monkeypatch.setattr(pipeline, "write_table", killed)
    with pytest.raises(Killed):
        pipeline.run_pipeline(spark, b, out)
    monkeypatch.undo()
    assert read_manifest(os.path.join(out, "stage2_mentions")) is None
    pipeline.run_pipeline(spark, b, out)
    assert _written_triples(spark, out) == expect_b


def test_code_digest_reads_a_zipped_package(tmp_path):
    """``spark-submit --py-files`` ships the engine as a zip: the resume
    fingerprint must hash the zip's members, the same as the source tree."""
    import subprocess
    import sys
    import zipfile

    from recrun_spark import pipeline
    root = os.path.dirname(os.path.dirname(os.path.abspath(pipeline.__file__)))
    zpath = str(tmp_path / "recrun_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for d, _dirs, files in os.walk(os.path.join(root, "recrun_spark")):
            for fn in files:
                if fn.endswith(".py"):
                    p = os.path.join(d, fn)
                    z.write(p, os.path.relpath(p, root))
    code = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "from recrun_spark import pipeline as p; "
            "assert p.__file__.startswith(sys.argv[1]), p.__file__; "
            "print(p._code_digest())")
    out = subprocess.run([sys.executable, "-c", code, zpath], cwd=tmp_path,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == pipeline._code_digest()
