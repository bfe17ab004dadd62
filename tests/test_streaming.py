"""Structured Streaming ingestion: AvailableNow drain, incremental pickup
of new files, and parity of streaming vs batch extraction output."""

import os

import pyarrow.parquet as pq

import __spark_entry__ as _entry

from recrun_spark.fixtures.generator import corpus_to_arrow, make_corpus
from recrun_spark.streaming import run_available_now


def _write_batch(corpus, path):
    pq.write_table(corpus_to_arrow(corpus), path)


def test_streaming_incremental_extraction(spark, tmpdir_path):
    in_dir = os.path.join(tmpdir_path, "in")
    out_dir = os.path.join(tmpdir_path, "out")
    os.makedirs(in_dir)
    corpus = make_corpus(30)

    # first arrival window: 20 docs
    _write_batch(corpus[:20], os.path.join(in_dir, "b0.parquet"))
    run_available_now(spark, in_dir, out_dir)
    got = spark.read.parquet(os.path.join(out_dir, "extractions"))
    assert got.count() == 20

    # second window: 10 more docs — only the new file is processed
    _write_batch(corpus[20:], os.path.join(in_dir, "b1.parquet"))
    run_available_now(spark, in_dir, out_dir)
    got = spark.read.parquet(os.path.join(out_dir, "extractions"))
    assert got.count() == 30

    # streaming output == batch output (same fold, same results)
    from recrun_spark.stage1 import extract_documents
    batch = extract_documents(spark.read.parquet(in_dir))
    a = sorted((r["doc_id"], r["score"], r["text_length"])
               for r in got.collect())
    b = sorted((r["doc_id"], r["score"], r["text_length"])
               for r in batch.collect())
    assert a == b


def _with_session_ids(rows4):
    """Derive session_id = per-user rank over start_us (the reader-side
    rule the driver query uses), from (user_id, n_events, start_us, end_us)
    rows."""
    out, by_user = [], {}
    for r in sorted(rows4, key=lambda r: (r[0], r[2])):
        k = by_user.get(r[0], 0) + 1
        by_user[r[0]] = k
        out.append((r[0], k, r[1], r[2], r[3]))
    return sorted(out)


def test_stateful_sessionization_across_microbatches(spark, tmpdir_path):
    """applyInPandasWithState sessionizer: 3 time-ranged files -> 3
    micro-batches, per-user state carried across them; emitted sessions
    (successor-closed + timed-out trailing) must equal the SQL mirror of
    the pinned event-time-timeout semantics."""
    import duckdb

    from recrun_spark.streaming.sessions import (prepare_ranged_events,
                                                 run_sessionize_available_now)
    events = "/root/testdata/sf0.001/events.parquet"
    src = prepare_ranged_events(events, os.path.join(tmpdir_path, "in"), 3)
    assert len(os.listdir(src)) == 3
    schema = spark.read.parquet(events).schema
    out_dir = os.path.join(tmpdir_path, "out")
    sink = run_sessionize_available_now(spark, src, out_dir, schema)
    got = _with_session_ids([(r["user_id"], r["n_events"],
                              r["start_us"], r["end_us"])
                             for r in spark.read.parquet(sink).collect()])

    # state REALLY carried across micro-batches: one offset per data file
    # PLUS the extra no-data batch availableNow runs to evaluate pending
    # event-time timeouts at the final watermark (the oracle RELIES on that
    # extra batch — this assertion guards the assumption against upgrades)
    offsets = os.listdir(os.path.join(out_dir, "_checkpoint", "offsets"))
    assert len([f for f in offsets if not f.startswith(".")]) == 4

    sql = _entry.closed_sessions_sql(f"read_parquet('{events}')")
    oracle = sorted(map(tuple, duckdb.sql(sql).fetchall()))
    assert len(oracle) > 0 and got == oracle
    # the timeout actually fires: emitted count exceeds the old NoTimeout
    # rule (drop every user's last session == total sessions - users)
    n_sessions, n_users = duckdb.sql(f"""
        WITH g AS (
          SELECT user_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                           > 1800000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM read_parquet('{events}')
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT sum(new_sess), count(DISTINCT user_id) FROM g""").fetchone()
    assert len(got) > n_sessions - n_users


def test_stateful_sessionization_resumes_across_restarts(spark, tmpdir_path):
    """State must survive a query RESTART, not just micro-batches: drain 3
    time-ranged files, stop, land a 4th (later) file, drain again with the
    SAME checkpoint — the second run continues each user's open session
    (and watermark) from the state store, and the accumulated emissions
    equal the SQL mirror over ALL events at n_files=4."""
    import shutil

    import duckdb

    from recrun_spark.streaming.sessions import (prepare_ranged_events,
                                                 run_sessionize_available_now)
    events = "/root/testdata/sf0.001/events.parquet"
    staging = prepare_ranged_events(events,
                                    os.path.join(tmpdir_path, "staging"), 4)
    files = sorted(os.listdir(staging))
    src = os.path.join(tmpdir_path, "in")
    os.makedirs(src)
    for f in files[:3]:
        shutil.copy2(os.path.join(staging, f), os.path.join(src, f))
    schema = spark.read.parquet(events).schema
    out_dir = os.path.join(tmpdir_path, "out")

    sink = run_sessionize_available_now(spark, src, out_dir, schema)
    n_first = spark.read.parquet(sink).count()
    shutil.copy2(os.path.join(staging, files[3]), os.path.join(src, files[3]))
    sink = run_sessionize_available_now(spark, src, out_dir, schema)

    got = _with_session_ids([(r["user_id"], r["n_events"],
                              r["start_us"], r["end_us"])
                             for r in spark.read.parquet(sink).collect()])
    assert len(got) > n_first  # the restart emitted additional sessions

    oracle = sorted(map(tuple, duckdb.sql(
        _entry.closed_sessions_sql(f"read_parquet('{events}')")
    ).fetchall()))
    assert got == oracle


def test_sessionizer_event_time_timeout_semantics(spark, tmpdir_path):
    """Pins the EXACT timeout semantics the oracle mirrors (found
    empirically — tools/probe_timeout_semantics.py): timeouts fire against
    the EVICTION watermark (max event time INCLUDING the current batch,
    ms-floored, minus delay) with a STRICT < comparison; a key with data in
    the final batch never times out.  An idle user's trailing session is
    emitted WITHOUT any successor event, and their state is evicted.  If a
    Spark upgrade shifts any of this, this test fails before the driver
    correctness gate does."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from recrun_spark.streaming.sessions import run_sessionize_available_now

    base = 1_700_000_000

    def mkfile(rows, path, mtime):
        pdf = pd.DataFrame({
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime(
                [int(round((base + r[2]) * 1_000_000)) for r in rows],
                unit="us").astype("datetime64[us]"),
            "user_id": [r[1] for r in rows],
            "event_type": "x", "value": 1.0, "props": "{}"})
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        os.utime(path, (mtime, mtime))

    src = os.path.join(tmpdir_path, "in")
    os.makedirs(src)
    # gap=1800s, delay=10s.  wm(final) = 2810s - 10s = 2800s.
    #  u10 timeout_ts = 1000+1800 = 2800s == wm  -> NOT emitted (strict <)
    #  u11 timeout_ts = 2799.999s < wm           -> emitted (idle eviction)
    #  u12 timeout_ts = 2800.001s > wm           -> NOT emitted
    #  u99 has data in the final batch           -> NOT emitted
    mkfile([(1, 10, 1000.0), (2, 11, 999.999), (3, 12, 1000.001)],
           os.path.join(src, "part-000.parquet"), 1_000_000)
    mkfile([(4, 99, 2810.0)],
           os.path.join(src, "part-001.parquet"), 1_000_001)
    schema = spark.read.parquet(os.path.join(src, "part-000.parquet")).schema
    sink = run_sessionize_available_now(spark, src,
                                        os.path.join(tmpdir_path, "out"),
                                        schema, gap_s=1800, delay_ms=10_000)
    got = sorted((r["user_id"], r["n_events"], r["start_us"], r["end_us"])
                 for r in spark.read.parquet(sink).collect())
    us = base * 1_000_000
    assert got == [(11, 1, us + 999_999_000, us + 999_999_000)], got


def test_incremental_kg_late_out_of_order_arrival(spark, tmpdir_path):
    """VERDICT r02 item 5: a LATE, OUT-OF-ORDER arrival — the corpus's
    earliest documents land last, in a backfilled file with an mtime OLDER
    than everything already processed — is processed exactly once, the
    combined output equals the batch pipeline over all docs (no loss, no
    duplicates), and a re-run with nothing new adds no batches.  Documents
    carry no event time, so there is no watermark to violate (the
    late-data contract documented in streaming/kg.py)."""
    import pyarrow.parquet as pq

    from recrun_spark.fixtures.generator import corpus_to_arrow, make_corpus
    from recrun_spark.stage1 import extract_documents
    from recrun_spark.stage2 import detect_mentions, link_mentions, load_aliases
    from recrun_spark.stage3 import canonicalize
    from recrun_spark.stage4 import assemble_triples
    from recrun_spark.streaming.kg import run_kg_available_now

    corpus = make_corpus(60)
    src = os.path.join(tmpdir_path, "docs_in")
    os.makedirs(src)
    p0 = os.path.join(src, "arrival-00.parquet")
    p1 = os.path.join(src, "arrival-01.parquet")
    pq.write_table(corpus_to_arrow(corpus[20:40]), p0)
    pq.write_table(corpus_to_arrow(corpus[40:60]), p1)
    out_dir = os.path.join(tmpdir_path, "kg_stream")
    root = run_kg_available_now(spark, src, out_dir)
    assert len([d for d in os.listdir(root) if d.startswith("batch=")]) == 2

    # the backfill: EARLIEST docs, arriving LAST, mtime in the past
    p2 = os.path.join(src, "arrival-02-backfill.parquet")
    pq.write_table(corpus_to_arrow(corpus[0:20]), p2)
    os.utime(p2, (os.stat(p0).st_mtime - 100, os.stat(p0).st_mtime - 100))
    run_kg_available_now(spark, src, out_dir)
    batches = [d for d in os.listdir(root) if d.startswith("batch=")]
    assert len(batches) == 3

    got = [(r["subj"], r["pred"], r["obj"], r["doc_id"]) for r in
           spark.read.parquet(os.path.join(root, "batch=*")).collect()]
    assert len(got) == len(set(got))        # exactly-once: no duplicates

    docs_path = os.path.join(tmpdir_path, "all60.parquet")
    pq.write_table(corpus_to_arrow(corpus), docs_path)
    docs = spark.read.parquet(docs_path)
    dictionary = canonicalize(load_aliases(spark))
    ex = extract_documents(docs)
    linked = link_mentions(detect_mentions(ex, dictionary), dictionary)
    expect = {(r["subj"], r["pred"], r["obj"], r["doc_id"]) for r in
              assemble_triples(ex, linked, dictionary.canonical).collect()}
    assert set(got) == expect and len(expect) > 0

    # nothing new -> no new batches
    run_kg_available_now(spark, src, out_dir)
    assert len([d for d in os.listdir(root) if d.startswith("batch=")]) == 3


def test_incremental_kg_stream_equals_batch(spark, tmpdir_path):
    """Incremental KG over a document stream: 3 arrival files → 3
    foreachBatch micro-batches writing batch=<id>/ triples; their union
    must equal the batch pipeline over the same 60 docs EXACTLY (every
    triple rule is doc-scoped, each doc lands in one batch).  A 4th file
    landing later is processed alone (resume via checkpoint), and the
    combined output equals the 80-doc batch computation."""
    import pyarrow.parquet as pq

    from recrun_spark.fixtures.generator import corpus_to_arrow, make_corpus
    from recrun_spark.stage2 import detect_mentions, link_mentions, load_aliases
    from recrun_spark.stage3 import canonicalize
    from recrun_spark.stage4 import assemble_triples
    from recrun_spark.stage1 import extract_documents
    from recrun_spark.streaming.kg import run_kg_available_now

    corpus = make_corpus(80)
    src = os.path.join(tmpdir_path, "docs_in")
    os.makedirs(src)
    for i, sl in enumerate((corpus[0:20], corpus[20:40], corpus[40:60])):
        pq.write_table(corpus_to_arrow(sl),
                       os.path.join(src, f"arrival-{i:02d}.parquet"))

    out_dir = os.path.join(tmpdir_path, "kg_stream")
    root = run_kg_available_now(spark, src, out_dir)
    batches = sorted(d for d in os.listdir(root) if d.startswith("batch="))
    assert len(batches) == 3

    def triple_set(df):
        return {(r["subj"], r["pred"], r["obj"], r["doc_id"])
                for r in df.collect()}

    def batch_triples(n_docs):
        docs_path = os.path.join(tmpdir_path, f"all_{n_docs}.parquet")
        pq.write_table(corpus_to_arrow(corpus[:n_docs]), docs_path)
        docs = spark.read.parquet(docs_path)
        dictionary = canonicalize(load_aliases(spark))
        ex = extract_documents(docs)
        linked = link_mentions(detect_mentions(ex, dictionary), dictionary)
        return triple_set(assemble_triples(ex, linked, dictionary.canonical))

    got60 = triple_set(spark.read.parquet(os.path.join(root, "batch=*")))
    assert got60 == batch_triples(60) and len(got60) > 0

    # a late 4th arrival: only it is processed, union covers all 80 docs
    pq.write_table(corpus_to_arrow(corpus[60:80]),
                   os.path.join(src, "arrival-03.parquet"))
    run_kg_available_now(spark, src, out_dir)
    batches = sorted(d for d in os.listdir(root) if d.startswith("batch="))
    assert len(batches) == 4
    got80 = triple_set(spark.read.parquet(os.path.join(root, "batch=*")))
    assert got80 == batch_triples(80)


def test_incremental_kg_repeated_doc_id_in_one_file(spark, tmpdir_path):
    """Two documents under one doc_id, plus a third, in one file: the
    stream merges the repeated id within its task, as the batch pipeline
    groups by doc_id, so both write the same 52 triples, each once.  (A
    repeat across files is not merged by the stream: streaming/kg.py.)"""
    import pyarrow.parquet as pq

    from recrun_spark.fixtures.aliases import (all_surfaces, head_alias,
                                               make_aliases)
    from recrun_spark.fixtures.generator import corpus_to_arrow, make_doc
    from recrun_spark.pipeline import run_pipeline
    from recrun_spark.streaming.kg import run_kg_available_now

    surfaces, head = all_surfaces(make_aliases()), head_alias()
    docs = [(doc_id, make_doc(ix, 7, surfaces, head))
            for doc_id, ix in (("dup", 11), ("dup", 12), ("one", 13))]
    src = os.path.join(tmpdir_path, "docs_in")
    os.makedirs(src)
    pq.write_table(corpus_to_arrow(docs), os.path.join(src, "a.parquet"))
    root = run_kg_available_now(spark, src, os.path.join(tmpdir_path, "kg"))
    stream = spark.read.parquet(os.path.join(root, "batch=*")).select(
        "subj", "pred", "obj", "doc_id")
    assert stream.count() == stream.distinct().count() == 52
    run_pipeline(spark, src, os.path.join(tmpdir_path, "batch"))
    batch = spark.read.parquet(os.path.join(tmpdir_path, "batch",
                                            "stage4_triples"))
    assert ({tuple(r) for r in stream.collect()}
            == {tuple(r) for r in batch.select(*stream.columns).collect()})


def test_incremental_cms_stream_equals_batch(spark, tmpdir_path):
    """Streaming count-min sketch: 3 micro-batches of events sketched
    independently merge (cell-wise sum) into EXACTLY the batch sketch of
    all events; a late 4th file is sketched alone and the merge still
    equals the batch computation — the CMS merge property as an
    exactly-once streaming operator with no state store."""
    import shutil

    from recrun_spark.functions.sketch import count_min_sketch
    from recrun_spark.streaming.freq import (read_sketch,
                                             run_cms_available_now)
    from recrun_spark.streaming.sessions import prepare_ranged_events

    events = "/root/testdata/sf0.001/events.parquet"
    staging = prepare_ranged_events(events,
                                    os.path.join(tmpdir_path, "staging"), 4)
    files = sorted(os.listdir(staging))
    src = os.path.join(tmpdir_path, "in")
    os.makedirs(src)
    for f in files[:3]:
        shutil.copy2(os.path.join(staging, f), os.path.join(src, f))
    schema = spark.read.parquet(events).schema
    out_dir = os.path.join(tmpdir_path, "cms")

    def cells_of(df):
        return {(r["i"], r["bucket"]): r["cnt"] for r in df.collect()}

    root = run_cms_available_now(spark, src, out_dir, "user_id", schema)
    batches = [d for d in os.listdir(root) if d.startswith("batch=")]
    assert len(batches) == 3
    got3 = cells_of(read_sketch(spark, root))
    ev = spark.read.parquet(events)
    rn = spark.read.parquet(src)
    assert got3 == cells_of(count_min_sketch(rn, "user_id"))

    shutil.copy2(os.path.join(staging, files[3]), os.path.join(src, files[3]))
    run_cms_available_now(spark, src, out_dir, "user_id", schema)
    batches = [d for d in os.listdir(root) if d.startswith("batch=")]
    assert len(batches) == 4            # only the new file was sketched
    got4 = cells_of(read_sketch(spark, root))
    assert got4 == cells_of(count_min_sketch(ev, "user_id"))
    assert got4 != got3


def test_sessionizer_ltz_input_under_non_utc_session(spark, tmpdir_path):
    """Code-review r03 fix: TIMESTAMP_LTZ event input under a NON-UTC
    session must behave identically to the NTZ path — before the fix,
    pandas delivered session-local wall clocks, shifting every timeout by
    the tz offset against the (true-epoch) watermark.  Same scenario as
    the semantics-pin test: only u11's trailing session may be emitted."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from recrun_spark.streaming.sessions import run_sessionize_available_now

    base = 1_700_000_000

    def mkfile(rows, path, mtime):
        pdf = pd.DataFrame({
            "event_id": [r[0] for r in rows],
            # tz-aware UTC -> parquet isAdjustedToUTC=true -> Spark LTZ
            "ts": pd.to_datetime(
                [int(round((base + r[2]) * 1_000_000)) for r in rows],
                unit="us", utc=True).astype("datetime64[us, UTC]"),
            "user_id": [r[1] for r in rows],
            "event_type": "x", "value": 1.0, "props": "{}"})
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        os.utime(path, (mtime, mtime))

    src = os.path.join(tmpdir_path, "in")
    os.makedirs(src)
    mkfile([(1, 10, 1000.0), (2, 11, 999.999), (3, 12, 1000.001)],
           os.path.join(src, "part-000.parquet"), 1_000_000)
    mkfile([(4, 99, 2810.0)],
           os.path.join(src, "part-001.parquet"), 1_000_001)
    schema = spark.read.parquet(os.path.join(src, "part-000.parquet")).schema
    assert schema["ts"].dataType.typeName() == "timestamp"   # LTZ, not NTZ

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        sink = run_sessionize_available_now(
            spark, src, os.path.join(tmpdir_path, "out"), schema,
            gap_s=1800, delay_ms=10_000)
        got = sorted((r["user_id"], r["n_events"],
                      r["start_us"], r["end_us"])
                     for r in spark.read.parquet(sink).collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    us = base * 1_000_000
    assert got == [(11, 1, us + 999_999_000, us + 999_999_000)], got


def test_sessionizer_out_of_order_within_delay_across_batches(
        spark, tmpdir_path):
    """VERDICT r03 item 4: events arriving out of order ACROSS micro-batch
    boundaries but within the watermark delay must still sessionize
    correctly (the buffer-until-watermark fold orders them globally before
    folding).  The pre-r04 fold assumed per-key in-order arrival across
    batches: a later batch delivering an earlier event walked last_us
    BACKWARD and corrupted session boundaries (u1's session would start at
    100 s instead of 95 s).  Parity is against the same closed_sessions_sql
    oracle the driver uses — the oracle knows nothing about batching."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from recrun_spark.streaming.sessions import run_sessionize_available_now

    base = 1_700_000_000

    def mkfile(rows, path, mtime):
        pdf = pd.DataFrame({
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime(
                [int(round((base + r[2]) * 1_000_000)) for r in rows],
                unit="us").astype("datetime64[us]"),
            "user_id": [r[1] for r in rows],
            "event_type": "x", "value": 1.0, "props": "{}"})
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        os.utime(path, (mtime, mtime))

    src = os.path.join(tmpdir_path, "in")
    os.makedirs(src)
    # gap=30s, delay=10s.  File B lands AFTER file A but carries EARLIER
    # events — all within 10s of file A's max (100.0), so Spark's late-row
    # filter drops none of them; the operator must reorder across batches.
    mkfile([(1, 1, 100.0), (2, 2, 96.0), (3, 3, 94.0)],
           os.path.join(src, "part-000.parquet"), 1_000_000)
    mkfile([(4, 1, 95.0), (5, 2, 92.5), (6, 3, 91.0), (7, 1, 104.0)],
           os.path.join(src, "part-001.parquet"), 1_000_001)
    # file C pushes the final watermark far past every session's deadline
    mkfile([(8, 9, 2000.0)],
           os.path.join(src, "part-002.parquet"), 1_000_002)

    schema = spark.read.parquet(os.path.join(src, "part-000.parquet")).schema
    sink = run_sessionize_available_now(spark, src,
                                        os.path.join(tmpdir_path, "out"),
                                        schema, gap_s=30, delay_ms=10_000)
    got = sorted((r["user_id"], r["n_events"], r["start_us"], r["end_us"])
                 for r in spark.read.parquet(sink).collect())
    us = base * 1_000_000
    assert got == [
        (1, 3, us + 95_000_000, us + 104_000_000),   # 95,100,104 ONE session
        (2, 2, us + 92_500_000, us + 96_000_000),
        (3, 2, us + 91_000_000, us + 94_000_000),
    ], got                                           # u9: gap window > wm

    # and the SQL oracle agrees (it sessionizes the union in global order)
    sql = _entry.closed_sessions_sql(f"read_parquet('{src}/*.parquet')",
                                     gap_s=30, delay_ms=10_000)
    oracle = sorted((u, n, s, e) for u, _sid, n, s, e
                    in duckdb.sql(sql).fetchall())
    assert got == oracle


def test_incremental_hll_stream_equals_batch(spark, tmpdir_path):
    """Streaming HyperLogLog: 3 micro-batches' register tables merge
    (cell-wise MAX) into EXACTLY the batch register table of all events;
    a late 4th file is sketched alone and the merge still equals the
    batch computation — the HLL merge property as an exactly-once
    streaming distinct-counter with no state store."""
    import shutil

    from recrun_spark.functions.sketch import hll_registers
    from recrun_spark.streaming.freq import (read_hll,
                                             run_hll_available_now)
    from recrun_spark.streaming.sessions import prepare_ranged_events

    events = "/root/testdata/sf0.001/events.parquet"
    staging = prepare_ranged_events(events,
                                    os.path.join(tmpdir_path, "staging"), 4)
    files = sorted(os.listdir(staging))
    src = os.path.join(tmpdir_path, "in")
    os.makedirs(src)
    for f in files[:3]:
        shutil.copy2(os.path.join(staging, f), os.path.join(src, f))
    schema = spark.read.parquet(events).schema
    out_dir = os.path.join(tmpdir_path, "hll")

    def regs_of(df):
        return {r["reg"]: r["max_rho"] for r in df.collect()}

    root = run_hll_available_now(spark, src, out_dir, "user_id", schema)
    assert len([d for d in os.listdir(root)
                if d.startswith("batch=")]) == 3
    got3 = regs_of(read_hll(spark, root))
    assert got3 == regs_of(hll_registers(spark.read.parquet(src),
                                         "user_id"))

    shutil.copy2(os.path.join(staging, files[3]),
                 os.path.join(src, files[3]))
    run_hll_available_now(spark, src, out_dir, "user_id", schema)
    assert len([d for d in os.listdir(root)
                if d.startswith("batch=")]) == 4   # only the new file
    got4 = regs_of(read_hll(spark, root))
    assert got4 == regs_of(hll_registers(spark.read.parquet(events),
                                         "user_id"))


def test_sessionizer_out_of_order_survives_restart(spark, tmpdir_path):
    """The pending (not-yet-folded) event buffer must survive a query
    RESTART: drain out-of-order files, stop while events are still
    buffered above the watermark, land a later file, drain again with the
    SAME checkpoint — the resumed state folds the buffer correctly and
    the final emissions equal the single-drain result."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from recrun_spark.streaming.sessions import run_sessionize_available_now

    base = 1_700_000_000

    def mkfile(rows, path, mtime):
        pdf = pd.DataFrame({
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime(
                [int(round((base + r[2]) * 1_000_000)) for r in rows],
                unit="us").astype("datetime64[us]"),
            "user_id": [r[1] for r in rows],
            "event_type": "x", "value": 1.0, "props": "{}"})
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        os.utime(path, (mtime, mtime))

    src = os.path.join(tmpdir_path, "in")
    os.makedirs(src)
    mkfile([(1, 1, 100.0), (2, 2, 96.0), (3, 3, 94.0)],
           os.path.join(src, "part-000.parquet"), 1_000_000)
    mkfile([(4, 1, 95.0), (5, 2, 92.5), (6, 3, 91.0), (7, 1, 104.0)],
           os.path.join(src, "part-001.parquet"), 1_000_001)

    out = os.path.join(tmpdir_path, "out")
    sink = run_sessionize_available_now(spark, src, out, spark.read.parquet(
        os.path.join(src, "part-000.parquet")).schema,
        gap_s=30, delay_ms=10_000)
    # final wm of drain 1 = 104 - 10 = 94s: every session deadline is
    # still ahead, so NOTHING is emitted — events sit in the buffer/state
    assert spark.read.parquet(sink).count() == 0

    mkfile([(8, 9, 2000.0)], os.path.join(src, "part-002.parquet"),
           1_000_002)
    sink = run_sessionize_available_now(spark, src, out, spark.read.parquet(
        os.path.join(src, "part-000.parquet")).schema,
        gap_s=30, delay_ms=10_000)
    got = sorted((r["user_id"], r["n_events"], r["start_us"], r["end_us"])
                 for r in spark.read.parquet(sink).collect())
    us = base * 1_000_000
    assert got == [
        (1, 3, us + 95_000_000, us + 104_000_000),
        (2, 2, us + 92_500_000, us + 96_000_000),
        (3, 2, us + 91_000_000, us + 94_000_000),
    ], got


def test_streaming_dedup_first_seen_and_incremental(spark, tmpdir_path):
    """Streaming first-seen exact dedup (streaming/dedup.py): duplicates
    WITHIN a batch keep the min doc_id; duplicates ACROSS batches keep the
    first batch's winner even when a later doc_id is smaller (first-seen,
    not global-min, is the streaming contract); re-running after a new
    file lands processes ONLY the new file and appends only novel
    fingerprints."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from recrun_spark.streaming.dedup import run_dedup_available_now

    in_dir = os.path.join(tmpdir_path, "in")
    out_dir = os.path.join(tmpdir_path, "out")
    os.makedirs(in_dir)

    def write(path, rows):
        pq.write_table(pa.table({"doc_id": pa.array([r[0] for r in rows],
                                                    pa.int64()),
                                 "text": [r[1] for r in rows]}), path)

    # batch 1: "alpha" duplicated within the batch (ids 7, 3 -> keep 3)
    write(os.path.join(in_dir, "b1.parquet"),
          [(7, "alpha"), (3, "alpha"), (10, "beta")])
    # batch 2: "alpha" again with a SMALLER id (1) -> still batch-1's 3;
    # "gamma" is new
    write(os.path.join(in_dir, "b2.parquet"), [(1, "alpha"), (2, "gamma")])
    # the file source replays by mtime: same-second writes can TIE and
    # flip the batch order (prepare_ranged_docs sets mtimes for the real
    # path; the test must too or the cross-batch assertion is flaky)
    base = os.stat(os.path.join(in_dir, "b1.parquet")).st_mtime
    for i, f in enumerate(["b1.parquet", "b2.parquet"]):
        p = os.path.join(in_dir, f)
        os.utime(p, (os.stat(p).st_atime, base + i))
    schema = spark.read.parquet(os.path.join(in_dir, "b1.parquet")).schema
    sink = run_dedup_available_now(spark, in_dir, out_dir, schema)
    got = {r["fp"]: r["doc_id"]
           for r in spark.read.parquet(sink).collect()}
    from recrun_spark.functions.text import fingerprint_md5
    from pyspark.sql import functions as F
    fps = {r["t"]: r["fp"] for r in spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",)], ["t"])
        .select("t", fingerprint_md5(F.col("t")).alias("fp")).collect()}
    assert got == {fps["alpha"]: 3, fps["beta"]: 10, fps["gamma"]: 2}

    # incremental: a third file lands; only it is processed, only novel
    # fingerprints appended
    write(os.path.join(in_dir, "b3.parquet"), [(99, "beta"), (42, "delta")])
    p3 = os.path.join(in_dir, "b3.parquet")
    os.utime(p3, (os.stat(p3).st_atime, base + 2))
    fps["delta"] = spark.createDataFrame([("delta",)], ["t"]).select(
        fingerprint_md5(F.col("t")).alias("fp")).collect()[0]["fp"]
    run_dedup_available_now(spark, in_dir, out_dir, schema)
    got2 = {r["fp"]: r["doc_id"]
            for r in spark.read.parquet(sink).collect()}
    assert got2 == {**got, fps["delta"]: 42}


def test_windowed_counts_finalization_semantics(spark, tmpdir_path):
    """PIN the append-mode window-finalization rule the oracle encodes
    (same discipline as the sessionizer timeout pin): after an
    availableNow drain the watermark is the ms-floored GLOBAL max event
    time minus the delay, and a window is emitted iff window_end <= wm
    (INCLUSIVE at equality).  Crafted boundary: 10s windows, 5s delay,
    max ts 25s + 700us -> wm floors to exactly 20.000s, so window
    [10,20) sits EXACTLY on the watermark and distinguishes <= from <;
    [20,30) must be withheld.  A Spark upgrade that shifts any of this
    fails here first."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from recrun_spark.streaming.windows import (
        run_windowed_counts_available_now)

    def ts(sec, us=0):
        return datetime.datetime(2024, 1, 1, 0, 0, 0) + \
            datetime.timedelta(seconds=sec, microseconds=us)

    in_dir = os.path.join(tmpdir_path, "in")
    out_dir = os.path.join(tmpdir_path, "out")
    os.makedirs(in_dir)
    rows = {
        "b1.parquet": [(ts(1), "a"), (ts(2), "a"), (ts(3), "b")],
        "b2.parquet": [(ts(11), "a"), (ts(12), "b")],
        "b3.parquet": [(ts(25, 700), "a")],
    }
    schema = pa.schema([pa.field("ts", pa.timestamp("us")),
                        pa.field("event_type", pa.string())])
    base = None
    for i, (name, rs) in enumerate(rows.items()):
        p = os.path.join(in_dir, name)
        pq.write_table(pa.table(
            {"ts": [r[0] for r in rs],
             "event_type": [r[1] for r in rs]}, schema=schema), p)
        if base is None:
            base = os.stat(p).st_mtime
        os.utime(p, (base + i, base + i))
    sink = run_windowed_counts_available_now(
        spark, in_dir, out_dir,
        spark.read.parquet(os.path.join(in_dir, "b1.parquet")).schema,
        window="10 seconds", delay="5 seconds")
    got = sorted((r["window_start"].second, r["event_type"], r["n_events"])
                 for r in spark.read.parquet(sink).collect())
    # [0,10): a=2, b=1 (end 10 < wm 20).  [10,20): a=1, b=1 — end EQUALS
    # the 20.000s watermark and must be emitted (inclusive rule).
    # [20,30): holds the 25s event, end 30 > wm -> withheld.
    assert got == [(0, "a", 2), (0, "b", 1), (10, "a", 1), (10, "b", 1)]

    # a fourth file advances the watermark past [20,30) -> incremental
    # finalization emits it without reprocessing history
    p4 = os.path.join(in_dir, "b4.parquet")
    pq.write_table(pa.table(
        {"ts": [ts(40)], "event_type": ["b"]}, schema=schema), p4)
    os.utime(p4, (base + 3, base + 3))
    run_windowed_counts_available_now(
        spark, in_dir, out_dir,
        spark.read.parquet(p4).schema,
        window="10 seconds", delay="5 seconds")
    got2 = sorted((r["window_start"].second, r["event_type"], r["n_events"])
                  for r in spark.read.parquet(sink).collect())
    assert got2 == got + [(20, "a", 1)]


def test_interval_join_stream_equals_batch(spark, tmpdir_path):
    """PIN the stream-stream interval join contract (streaming/join.py):
    under ascending time-ranged replay the availableNow sink equals the
    BATCH interval join exactly — inner-join completeness with NO
    finalization predicate.  Crafted cases: within-batch match,
    cross-batch match (right row buffered in state across micro-batches),
    INCLUSIVE boundaries at lag == max_lag and lag == 0 (lag_us exact µs), beyond-lag
    non-match, wrong-order non-match, key non-match.  A second run with a
    new left file must emit ONLY the new match (checkpoint resume against
    retained right-side state)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from recrun_spark.streaming.join import (interval_join,
                                             run_interval_join_available_now)

    def ts(sec):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=sec)

    schema = pa.schema([pa.field("ts", pa.timestamp("us")),
                        pa.field("user_id", pa.int64()),
                        pa.field("event_id", pa.int64())])
    # (ts, user, id): clicks = right side, purchases = left side
    clicks = [(1, 1, 101), (2, 2, 102), (5, 3, 103), (40, 4, 104),
              (1, 5, 105), (55, 6, 106), (30, 7, 107)]
    purchases = [(10, 1, 201), (30, 2, 202), (35, 3, 203), (40, 4, 204),
                 (45, 5, 205), (50, 6, 206), (31, 8, 208)]

    def write_side(rows, d, n_files=3):
        os.makedirs(d, exist_ok=True)
        rows = sorted(rows)
        cuts = [0, len(rows) // 3, (2 * len(rows)) // 3, len(rows)]
        base = None
        for i in range(n_files):
            part = rows[cuts[i]:cuts[i + 1]]
            p = os.path.join(d, f"part-{i:03d}.parquet")
            pq.write_table(pa.table(
                {"ts": [ts(r[0]) for r in part],
                 "user_id": [r[1] for r in part],
                 "event_id": [r[2] for r in part]}, schema=schema), p)
            base = base or os.stat(p).st_mtime
            os.utime(p, (base + i, base + i))
        return d

    ldir = write_side(purchases, os.path.join(tmpdir_path, "purchases"))
    rdir = write_side(clicks, os.path.join(tmpdir_path, "clicks"))
    out = os.path.join(tmpdir_path, "out")
    sschema = spark.read.parquet(ldir).schema
    sink = run_interval_join_available_now(
        spark, ldir, rdir, out, sschema, key_col="user_id", ts_col="ts",
        max_lag="30 seconds", delay="5 seconds")
    got = sorted((r["user_id"], r["l_event_id"], r["r_event_id"], r["lag_us"])
                 for r in spark.read.parquet(sink).collect())
    # u1: lag 9 in-batch; u2: lag 28 cross-batch; u3: lag EXACTLY 30
    # (inclusive upper); u4: lag 0 (inclusive lower); u5 lag 44 > 30,
    # u6 wrong order, u7/u8 key-unmatched -> all absent
    assert got == [(1, 201, 101, 9_000_000), (2, 202, 102, 28_000_000),
                   (3, 203, 103, 30_000_000), (4, 204, 104, 0)]

    # batch parity: the same function over batch reads is the oracle shape
    batch = sorted((r["user_id"], r["l_event_id"], r["r_event_id"],
                    r["lag_us"])
                   for r in interval_join(
                       spark.read.parquet(ldir), spark.read.parquet(rdir),
                       key_col="user_id", ts_col="ts",
                       max_lag="30 seconds", delay="5 seconds").collect())
    assert batch == got

    # incremental: one NEW purchase file -> only the new match appends
    # (u4's click t=40 must still be buffered: wm=45 < 40+30)
    p = os.path.join(ldir, "part-zzz.parquet")
    pq.write_table(pa.table({"ts": [ts(58)], "user_id": [4],
                             "event_id": [209]}, schema=schema), p)
    run_interval_join_available_now(
        spark, ldir, rdir, out, sschema, key_col="user_id", ts_col="ts",
        max_lag="30 seconds", delay="5 seconds")
    got2 = sorted((r["user_id"], r["l_event_id"], r["r_event_id"],
                   r["lag_us"])
                  for r in spark.read.parquet(sink).collect())
    assert got2 == got + [(4, 209, 104, 18_000_000)]


def test_incremental_hdr_stream_equals_batch(spark, tmpdir_path):
    """Streaming HDR quantile histogram: 3 micro-batches' cell tables
    merge (cnt sum) into EXACTLY the batch histogram of all events; a
    late 4th file is sketched alone and the merge still equals the batch
    computation — streaming quantiles with bounded state and no state
    store (the cnt-sum merge property, same recipe as the CMS/HLL
    streams)."""
    import shutil

    from recrun_spark.functions.sketch import hdr_histogram
    from recrun_spark.streaming.freq import (read_hdr,
                                             run_hdr_available_now)
    from recrun_spark.streaming.sessions import prepare_ranged_events

    events = "/root/testdata/sf0.001/events.parquet"
    staging = prepare_ranged_events(events,
                                    os.path.join(tmpdir_path, "staging"), 4)
    files = sorted(os.listdir(staging))
    src = os.path.join(tmpdir_path, "in")
    os.makedirs(src)
    for f in files[:3]:
        shutil.copy2(os.path.join(staging, f), os.path.join(src, f))
    schema = spark.read.parquet(events).schema
    out_dir = os.path.join(tmpdir_path, "hdr")

    def cells_of(df):
        return sorted(map(tuple, df.collect()))

    root = run_hdr_available_now(spark, src, out_dir, "value", schema,
                                 group_cols=["event_type"])
    assert len([d for d in os.listdir(root)
                if d.startswith("batch=")]) == 3
    got3 = cells_of(read_hdr(spark, root, group_cols=["event_type"]))
    assert got3 == cells_of(hdr_histogram(spark.read.parquet(src), "value",
                                          group_cols=["event_type"]))

    shutil.copy2(os.path.join(staging, files[3]),
                 os.path.join(src, files[3]))
    run_hdr_available_now(spark, src, out_dir, "value", schema,
                          group_cols=["event_type"])
    assert len([d for d in os.listdir(root)
                if d.startswith("batch=")]) == 4   # only the new file
    got4 = cells_of(read_hdr(spark, root, group_cols=["event_type"]))
    assert got4 == cells_of(hdr_histogram(spark.read.parquet(events),
                                          "value",
                                          group_cols=["event_type"]))


def test_incremental_bursts_stream_equals_batch(spark, tmpdir_path):
    """Streaming burst detection: 3 micro-batches of events produce
    per-batch (type, hour) count cells that merge (cell-wise sum) into
    EXACTLY the batch hourly_bursts output over the same files — and a
    late 4th file restores equality with the full corpus.  Shared
    window code (bursts_from_hour_counts) makes drift impossible; the
    count-cell state is bounded at |types|x|hours| per batch with no
    state store and no watermark."""
    import shutil

    from recrun_spark.functions.events import hourly_bursts
    from recrun_spark.streaming.freq import (read_bursts,
                                             run_hour_counts_available_now)
    from recrun_spark.streaming.sessions import prepare_ranged_events

    events = "/root/testdata/sf0.001/events.parquet"
    staging = prepare_ranged_events(events,
                                    os.path.join(tmpdir_path, "staging"), 4)
    files = sorted(os.listdir(staging))
    src = os.path.join(tmpdir_path, "in")
    os.makedirs(src)
    for f in files[:3]:
        shutil.copy2(os.path.join(staging, f), os.path.join(src, f))
    schema = spark.read.parquet(events).schema
    out_dir = os.path.join(tmpdir_path, "bursts")

    def rows_of(df):
        return {(r["event_type"], r["hour_id"]):
                (r["n"], r["trail_n"], r["burst_bp"], r["is_burst"])
                for r in df.collect()}

    root = run_hour_counts_available_now(spark, src, out_dir, schema)
    assert len([d for d in os.listdir(root)
                if d.startswith("batch=")]) == 3
    got3 = rows_of(read_bursts(spark, root))
    assert got3 == rows_of(hourly_bursts(spark.read.parquet(src)))
    assert any(v[3] for v in got3.values())        # bursts really fire

    shutil.copy2(os.path.join(staging, files[3]),
                 os.path.join(src, files[3]))
    run_hour_counts_available_now(spark, src, out_dir, schema)
    got4 = rows_of(read_bursts(spark, root))
    assert got4 == rows_of(hourly_bursts(spark.read.parquet(events)))
    assert got4 != got3


def test_event_time_rule_under_non_utc_sessions(spark):
    """windowed_counts, enriched_windowed_counts and interval_join give the
    UTC-session output under America/New_York and Asia/Kolkata, on NTZ and
    on LTZ event times (batch frames, no streaming query).  The times
    straddle New York's 2024-03-10 DST jump and Kolkata's half-hour
    offset, so a cast anywhere in the event-time rule shows as shifted or
    split windows, or as a wrong lag."""
    import datetime

    from recrun_spark.streaming.join import interval_join
    from recrun_spark.streaming.windows import (enriched_windowed_counts,
                                                windowed_counts)

    def at(h, m):
        return datetime.datetime(2024, 3, 10, h, m)

    events = [(at(1, 30), 1, "a"), (at(1, 50), 2, "b"), (at(3, 30), 1, "b"),
              (at(5, 10), 2, "a"), (at(5, 50), 2, "a"), (at(7, 0), 3, "b")]
    purchases = [(at(3, 30), 1, "p1"), (at(5, 50), 2, "p2"),
                 (at(7, 0), 3, "p3")]
    clicks = [(at(1, 30), 1, "c1"), (at(3, 0), 1, "c2"),
              (at(5, 10), 2, "c3"), (at(6, 45), 3, "c4")]
    dim = spark.createDataFrame([("a", "A"), ("b", "B")],
                                "dim_key string, label string")

    def frame(rows, ltz):
        if ltz:
            utc = datetime.timezone.utc
            rows = [(t.replace(tzinfo=utc), u, k) for t, u, k in rows]
        kind = "timestamp" if ltz else "timestamp_ntz"
        return spark.createDataFrame(
            rows, f"ts {kind}, user_id bigint, dim_key string")

    def outputs(ltz):
        # built under the current session timezone: the analyzer pins it
        ev = frame(events, ltz)
        win = sorted(tuple(r) for r in windowed_counts(
            ev, key_col="dim_key").collect())
        enr = sorted(tuple(r) for r in enriched_windowed_counts(
            ev, dim).collect())
        joined = sorted((r["user_id"], r["l_dim_key"], r["r_dim_key"],
                         r["lag_us"]) for r in interval_join(
            frame(purchases, ltz), frame(clicks, ltz),
            max_lag="90 minutes").collect())
        return win, enr, joined

    conf = "spark.sql.session.timeZone"
    prev_tz = spark.conf.get(conf)
    try:
        want = {}
        for ltz in (False, True):
            spark.conf.set(conf, "UTC")
            want[ltz] = outputs(ltz)
            for tz in ("America/New_York", "Asia/Kolkata"):
                spark.conf.set(conf, tz)
                assert outputs(ltz) == want[ltz], (tz, ltz)
    finally:
        spark.conf.set(conf, prev_tz)

    assert want[True] == want[False]    # the outputs hold no LTZ column
    win, enr, joined = want[False]
    hour = datetime.timedelta(hours=1)
    assert win == [(at(1, 0), at(1, 0) + hour, "a", 1),
                   (at(1, 0), at(1, 0) + hour, "b", 1),
                   (at(3, 0), at(3, 0) + hour, "b", 1),
                   (at(5, 0), at(5, 0) + hour, "a", 2),
                   (at(7, 0), at(7, 0) + hour, "b", 1)]
    assert enr == [(s, e, k.upper(), n) for s, e, k, n in win]
    # c1 is 2 h before p1: outside the 90-minute lag
    assert joined == [(1, "p1", "c2", 1_800_000_000),
                      (2, "p2", "c3", 2_400_000_000),
                      (3, "p3", "c4", 900_000_000)]
