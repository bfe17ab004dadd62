"""Invariant and quality tests for the training-data operators (beyond the
per-query DuckDB value oracles in test_entry_queries.py): signature
invariants, dedup/ANN recall vs exact baselines, multimodal determinism,
and the stage-2 link rule under a skewed head alias."""

import pytest
from pyspark.sql import functions as F


def test_simhash_invariants(spark):
    docs = spark.createDataFrame(
        [("a", "the quick brown fox jumps over the lazy dog"),
         ("b", "the quick brown fox jumps over the lazy dog"),
         ("c", "the quick brown fox jumps over the lazy cat"),
         ("d", "completely different vocabulary entirely unrelated words")],
        ["doc_id", "text"])
    from recrun_spark.functions.dedup import simhash
    sig = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sig["a"] == sig["b"]  # identical text -> identical signature

    def hamming(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    assert hamming(sig["a"], sig["c"]) < hamming(sig["a"], sig["d"])


def test_minhash_signature_shape_and_determinism(spark):
    from recrun_spark.functions.dedup import MH_K, minhash_signatures
    docs = spark.createDataFrame(
        [("a", "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"])
    s1 = minhash_signatures(docs).collect()[0]["sig"]
    s2 = minhash_signatures(docs).collect()[0]["sig"]
    assert len(s1) == MH_K and s1 == s2
    assert all(0 <= v < (1 << 31) for v in s1)


def test_multimodal_features_deterministic(spark):
    from recrun_spark.functions.multimodal import (extract_features,
                                                   frame_sample_plan,
                                                   synth_media)
    media = synth_media(spark, n=24)
    # use_real=False: the synthetic payloads are seeded bytes, not real
    # images — on a PIL-equipped box the auto-probe would route image rows
    # to the real kernel, which (correctly) cannot decode them
    f1 = sorted((r["media_id"], r["sha1"], tuple(r["feature"]))
                for r in extract_features(media, use_real=False).collect())
    f2 = sorted((r["media_id"], r["sha1"], tuple(r["feature"]))
                for r in extract_features(media, use_real=False).collect())
    assert f1 == f2
    assert all(len(t[2]) == 8 for t in f1)
    plan = frame_sample_plan(media, every_ms=1000)
    rows = plan.groupBy("media_id").count().collect()
    # every video contributes >= 1 frame timestamp; non-videos contribute 0
    vids = media.where(F.col("modality") == "video").count()
    assert len(rows) == vids
    assert all(r["count"] >= 1 for r in rows)


def test_near_dups_bucketed_recall_vs_exact(spark):
    """The bucketed (IVF multi-probe) near-dup path must be a subset of the
    exact all-pairs result (verification is exact cosine) and recover every
    exact pair at sf0.01 with 16 hash-sampled centroids / 8 probes (the
    driver-query shape) — the boundary-pair coverage multi-probe exists
    for.  (nprobe=6 leaves exactly one boundary pair with disjoint probe
    sets on this corpus — measured, which is why the pinned shape is 8.)"""
    from recrun_spark.functions.similarity import embedding_near_dups
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {(r["id_a"], r["id_b"]) for r in
             embedding_near_dups(emb, threshold=0.45,
                                 method="exact").collect()}
    # n_centroids pinned: the derived default would give ceil(500/1024)=1
    # bucket here, which recalls trivially
    bucketed = {(r["id_a"], r["id_b"]) for r in
                embedding_near_dups(emb, threshold=0.45,
                                    n_centroids=16, nprobe=8).collect()}
    assert bucketed <= exact            # exact verify => no false positives
    assert len(exact) > 0
    recall = len(bucketed) / len(exact)
    assert recall == 1.0, f"recall {recall:.3f}: missed {exact - bucketed}"


def test_stage2_salted_path_equivalence(spark, corpus_parquet):
    """Linking is a rule, not a physical choice: every detected mention is
    linked exactly once, to the single-node best row of its surface
    (``linking.build_link_map``: max prior, ties -> min entity_id) and
    that row's prior.  The salted join the name refers to had to match
    this rule; the broadcast join is now the only path."""
    from recrun_spark.fixtures.aliases import make_aliases
    from recrun_spark.linking import build_link_map
    from recrun_spark.stage1 import extract_documents
    from recrun_spark.stage2 import detect_mentions, link_mentions, load_aliases
    from recrun_spark.stage3 import canonicalize
    docs = spark.read.parquet(corpus_parquet).limit(50)
    rows = make_aliases(42)
    d = canonicalize(load_aliases(spark, rows))
    best = {a: (e, max(float(p) for b, f, p in rows if (b, f) == (a, e)))
            for a, e in build_link_map(rows).items()}
    ex = extract_documents(docs).persist()
    mentions = detect_mentions(ex, d)
    keys = ["doc_id", "surface", "span_offset", "start"]
    linked = link_mentions(mentions, d).select(
        *keys, "entity_id", "prior").collect()
    assert sorted(tuple(r[:4]) for r in linked) == sorted(
        map(tuple, mentions.select(*keys).collect()))
    assert linked and all((r["entity_id"], r["prior"]) == best[r["surface"]]
                          for r in linked)
    ex.unpersist()


def test_head_alias_skew_share(spark, corpus_parquet):
    """FIXTURES.md §2 invariant: the head alias accounts for >30% of all
    mentions — the hot key the broadcast link join never shuffles."""
    from pyspark.sql import functions as F

    from recrun_spark.fixtures.aliases import head_alias
    from recrun_spark.stage1 import extract_documents
    from recrun_spark.stage2 import detect_mentions, load_aliases
    from recrun_spark.stage3 import canonicalize
    docs = spark.read.parquet(corpus_parquet)
    mentions = detect_mentions(extract_documents(docs),
                               canonicalize(load_aliases(spark)))
    head = head_alias()
    # exact equality: startswith would also count 'orion dynamics' etc. —
    # distinct join keys — overstating the single hot key's share
    counts = {r["is_head"]: r["count"] for r in mentions.groupBy(
        (F.col("surface") == head).alias("is_head")).count().collect()}
    total = sum(counts.values())
    share = counts.get(True, 0) / total
    assert share > 0.30, f"head share {share:.2f}"


def _blob_corpus(spark, n_blobs=8, per_blob=50, dim=16, seed=11):
    """Clustered synthetic embeddings with ids SORTED BY BLOB — the
    adversarial id order for first-K centroid selection (a real corpus
    ingested crawl-by-crawl looks exactly like this)."""
    import numpy as np
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 10.0, size=(n_blobs, dim))
    rows = []
    for b in range(n_blobs):
        pts = centers[b] + rng.normal(0, 0.5, size=(per_blob, dim))
        for j in range(per_blob):
            rows.append((b * per_blob + j, [float(x) for x in pts[j]]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_skew_corpus_profile():
    """The skew stress corpus (generator skew=True) holds its invariants:
    the head alias carries >50% of all mentions and document lengths are
    power-law (p99 length ≥ 5x the median) — the profile the skew plan
    audit (stage2_link_mentions_skew) relies on.
    Pure Python (no Spark): the same make_doc the Spark generators call."""
    from recrun_spark.fixtures.aliases import head_alias, make_aliases
    from recrun_spark.fixtures.generator import make_corpus
    from recrun_spark.linking import build_alias_pattern, find_mentions
    surfaces = sorted({r[0] for r in make_aliases(42)})
    pat = build_alias_pattern(surfaces)
    head = head_alias()
    n_head = n_all = 0
    lens = []
    for _doc_id, spans in make_corpus(300, skew=True):
        text = " ".join(t for k, t, _m, _o in spans if k == "text")
        lens.append(len(text))
        for s, _start in find_mentions(text, pat):
            n_all += 1
            n_head += (s == head)
    assert n_head / n_all > 0.5, n_head / n_all
    lens.sort()
    assert lens[int(len(lens) * 0.99)] >= 5 * lens[len(lens) // 2], (
        lens[len(lens) // 2], lens[int(len(lens) * 0.99)])


def test_ivf_centroids_hash_sample_beats_first_k_on_clustered_corpus(spark):
    """VERDICT r02 item 3: first-K-by-id centroids all land in blob 0 on a
    blob-ordered corpus, so queries in other blobs lose recall; the
    hash-stratified sample stays representative.  Queries span all blobs."""
    from recrun_spark.functions.similarity import cosine_topk, ivf_topk
    emb = _blob_corpus(spark)
    qids = [b * 50 + 7 for b in range(8)]      # one query per blob

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topk_sets(cosine_topk(emb, qids, k=10))

    def mean_recall(strategy):
        approx = topk_sets(ivf_topk(emb, qids, k=10, n_centroids=8,
                                    nprobe=2, centroid_strategy=strategy))
        return sum(len(exact[q] & approx.get(q, set())) / len(exact[q])
                   for q in exact) / len(exact)

    r_hash, r_first = mean_recall("hash_sample"), mean_recall("first_k")
    assert r_hash >= 0.9, (r_hash, r_first)
    assert r_hash > r_first, (r_hash, r_first)


def test_near_dups_derived_centroids_and_bucket_bound(spark):
    """VERDICT r02 item 4: with n_centroids=None the bucketed near-dup path
    derives K = ceil(n/target_bucket_size) — no silent toy bucket count —
    and hash-sampled buckets stay within a small multiple of the target."""
    from recrun_spark.functions.similarity import (assign_buckets,
                                                   embedding_near_dups)
    emb = _blob_corpus(spark)                     # n = 400
    out = embedding_near_dups(emb, threshold=0.95, target_bucket_size=50)
    # derived K = ceil(400/50) = 8; verify via the bucket assignment the
    # same derivation produces
    sizes = [r["n"] for r in assign_buckets(emb, n_centroids=8)
             .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()]
    assert len(sizes) >= 2, sizes            # buckets actually split
    assert max(sizes) <= 4 * 50, sizes       # no degenerate mega-bucket
    # recall vs exact at this SECOND corpus scale/shape (ADVICE r03: the
    # sf0.01 oracle mirrors the approximation by construction, so recall
    # must be asserted against the exact method, at more than one corpus):
    # blob near-dups are intra-cluster, derived buckets keep clusters
    # together, so the bucketed result must recover every exact pair
    got = {(r["id_a"], r["id_b"], r["sim"]) for r in out.collect()}
    exact = {(r["id_a"], r["id_b"], r["sim"]) for r in
             embedding_near_dups(emb, threshold=0.95,
                                 method="exact").collect()}
    assert len(exact) > 5000 and got == exact
    from recrun_spark.operators import release_caches
    release_caches(out)


def test_matcher_cache_bounded_by_bytes(monkeypatch):
    """VERDICT r02 item 8: the per-worker matcher cache holds one matcher
    — a 100k-surface trie caches alone, and a newcomer evicts it instead
    of accumulating."""
    from recrun_spark import stage2
    monkeypatch.setattr(stage2, "_MATCHER", (None, None))
    big = tuple(sorted(f"syn{i:05d}entity" for i in range(100_000)))
    small = ("alpha", "beta")
    m_big = stage2._cached_pattern(b"big", big)
    assert stage2._cached_pattern(b"big", big) is m_big  # cache hit
    assert stage2._MATCHER[0] == b"big"                  # one entry held
    stage2._cached_pattern(b"small", small)
    assert stage2._MATCHER[0] == b"small"                # big one evicted
    assert stage2._MATCHER[1] is not m_big
    m_big2 = stage2._cached_pattern(b"big", big)         # rebuilt, not stale
    assert m_big2 is not m_big


def test_ivf_topk_recall_quality(spark):
    """IVF recall@10 vs brute force on the (largely unclustered) testdata
    corpus: monotonically improving with more probes, and ≥0.55 mean at
    nprobe=6/16.  Calibration note: the r02 version asserted ≥0.75 at
    nprobe=4 — inflated, because the legacy first-K centroids WERE vec_ids
    0..15, i.e. the query set itself, so every query owned a bucket
    centered on itself.  Honest hash-sampled centroids on 64-dim
    near-uniform data are the IVF worst case (little cluster structure to
    exploit); the realistic clustered case asserts ≥0.9 in
    test_ivf_centroids_hash_sample_beats_first_k_on_clustered_corpus."""
    from recrun_spark.functions.similarity import cosine_topk, ivf_topk
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qids = list(range(20))

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topk_sets(cosine_topk(emb, qids, k=10))
    mean_recall = {}
    for nprobe in (2, 4, 6):
        approx = topk_sets(ivf_topk(emb, qids, k=10, n_centroids=16,
                                    nprobe=nprobe))
        rs = [len(exact[q] & approx.get(q, set())) / len(exact[q])
              for q in exact]
        mean_recall[nprobe] = sum(rs) / len(rs)
    assert mean_recall[6] >= 0.55, mean_recall
    assert mean_recall[2] < mean_recall[6], mean_recall


def test_asof_join_semantics(spark):
    """Backward-inclusive as-of join: latest right row at-or-before each
    left timestamp per key; equality matches; unmatched keys keep nulls;
    overlapping non-key columns are rejected."""
    import datetime as dt

    import pytest

    from recrun_spark.operators import asof_join

    def t(s):
        return dt.datetime.fromisoformat(s)

    left = spark.createDataFrame(
        [(1, t("2024-01-01 10:00"), "e1"),
         (1, t("2024-01-01 12:00"), "e2"),
         (1, t("2024-01-01 09:00"), "e0"),   # before any right row
         (2, t("2024-01-02 00:00"), "e3")],  # key with no right rows
        "k bigint, lts timestamp, ev string")
    right = spark.createDataFrame(
        [(1, t("2024-01-01 10:00"), 100),    # equality -> matches e1
         (1, t("2024-01-01 11:30"), 200)],
        "k bigint, rts timestamp, val int")
    got = {r["ev"]: (r["val"], r["rts"])
           for r in asof_join(left, right, "k", "lts", "rts").collect()}
    assert got["e0"] == (None, None)
    assert got["e1"] == (100, t("2024-01-01 10:00"))   # inclusive at ==
    assert got["e2"] == (200, t("2024-01-01 11:30"))   # latest <=, not first
    assert got["e3"] == (None, None)

    with pytest.raises(ValueError, match="overlapping"):
        asof_join(left, right.withColumnRenamed("val", "ev"),
                  "k", "lts", "rts")
    with pytest.raises(ValueError, match="backward"):
        asof_join(left, right, "k", "lts", "rts", how="forward")


def test_simhash_near_dups_exactness(spark):
    """The banded simhash pair generator is EXACT (pigeonhole): equals the
    brute-force Hamming filter, identical docs pair at distance 0."""
    from itertools import combinations

    from recrun_spark.functions.dedup import simhash, simhash_near_dups
    docs = spark.createDataFrame(
        [("a", "the quick brown fox jumps over the lazy dog"),
         ("b", "the quick brown fox jumps over the lazy dog"),
         ("c", "the quick brown fox jumps over the lazy cat"),
         ("d", "completely different vocabulary entirely unrelated words"),
         ("e", "the quick brown fox leaps over the lazy dog")],
        ["doc_id", "text"])
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    brute = {(x, y, bin(sigs[x] ^ sigs[y]).count("1"))
             for x, y in combinations(sorted(sigs), 2)
             if bin(sigs[x] ^ sigs[y]).count("1") <= 8}
    got = {(r["doc_a"], r["doc_b"], r["hamming"])
           for r in simhash_near_dups(docs, max_hamming=8).collect()}
    assert got == brute
    assert ("a", "b", 0) in got


def test_count_min_sketch_properties(spark):
    """CMS invariants: every point estimate is >= the true count (one-sided
    error), exact-frequency keys with no collisions read back exactly, each
    hash row's cells sum to the total weight, and two sketches merge
    cell-wise into the sketch of the union."""
    from recrun_spark.functions.sketch import (CMS_DEPTH, CMS_WIDTH,
                                               cms_estimate,
                                               count_min_sketch)
    rows = [(k,) for k in range(30) for _ in range(k + 1)]   # key k -> k+1
    df = spark.createDataFrame(rows, "user_id bigint")
    cells = [(r["i"], r["bucket"], r["cnt"])
             for r in count_min_sketch(df, "user_id").collect()]
    assert len({i for i, _, _ in cells}) == CMS_DEPTH
    total = sum(k + 1 for k in range(30))
    for i in range(CMS_DEPTH):
        assert sum(c for ri, _, c in cells if ri == i) == total
    est = cms_estimate(cells, [str(k) for k in range(30)])
    for k in range(30):
        assert est[str(k)] >= k + 1          # one-sided
    # with 30 keys in 256 buckets most keys are collision-free -> exact
    exact = sum(est[str(k)] == k + 1 for k in range(30))
    assert exact >= 25, exact

    # merge property: sketch(A) + sketch(B) == sketch(A union B), cell-wise
    df_a, df_b = df.where(F.col("user_id") < 15), \
        df.where(F.col("user_id") >= 15)
    merged = {}
    for part in (df_a, df_b):
        for r in count_min_sketch(part, "user_id").collect():
            key = (r["i"], r["bucket"])
            merged[key] = merged.get(key, 0) + r["cnt"]
    assert merged == {(i, b): c for i, b, c in cells}
    del CMS_WIDTH


def test_asof_join_differential_vs_pandas(spark):
    """asof_join vs pandas.merge_asof(direction='backward') — an
    independent implementation of the same semantics — on seeded random
    interleavings (unique (key, right_ts) per the operator contract)."""
    import datetime as dt
    import random

    import pandas as pd

    rng = random.Random(4242)
    base = dt.datetime(2024, 1, 1)
    for trial in range(4):
        lrows = [(rng.randrange(8),
                  base + dt.timedelta(seconds=rng.randrange(100000)), i)
                 for i in range(120)]
        seen = set()
        rrows = []
        for j in range(60):
            k = rng.randrange(8)
            ts = base + dt.timedelta(seconds=rng.randrange(100000))
            if (k, ts) in seen:
                continue
            seen.add((k, ts))
            rrows.append((k, ts, 1000 + j))
        left = spark.createDataFrame(lrows, "k bigint, lts timestamp, eid bigint")
        right = spark.createDataFrame(rrows, "k bigint, rts timestamp, val bigint")
        from recrun_spark.operators import asof_join
        got = {r["eid"]: (r["val"], r["rts"])
               for r in asof_join(left, right, "k", "lts", "rts").collect()}

        lp = pd.DataFrame(lrows, columns=["k", "lts", "eid"]) \
            .sort_values("lts", kind="mergesort")
        rp = pd.DataFrame(rrows, columns=["k", "rts", "val"]) \
            .sort_values("rts", kind="mergesort")
        ref = pd.merge_asof(lp, rp, left_on="lts", right_on="rts",
                            by="k", direction="backward")
        for _, row in ref.iterrows():
            val = None if pd.isna(row["val"]) else int(row["val"])
            rts = None if pd.isna(row["rts"]) else \
                row["rts"].to_pydatetime()
            assert got[row["eid"]] == (val, rts), (trial, row["eid"])
        assert len(got) == len(lrows)


def test_asof_join_null_right_values_not_resurrected(spark):
    """Code-review r03 fix: a NULL in the matched right row must come
    through as NULL — not be back-filled from an older right row (the
    per-column carry bug would emit a frankenrow no as-of implementation
    produces)."""
    import datetime as dt

    from recrun_spark.operators import asof_join

    def t(s):
        return dt.datetime.fromisoformat(s)

    left = spark.createDataFrame([(1, t("2024-01-01 12:00"), "e")],
                                 "k bigint, lts timestamp, ev string")
    right = spark.createDataFrame(
        [(1, t("2024-01-01 10:00"), 5, "x"),
         (1, t("2024-01-01 11:00"), None, "y")],
        "k bigint, rts timestamp, val int, note string")
    row = asof_join(left, right, "k", "lts", "rts").collect()[0]
    assert (row["val"], row["note"], row["rts"]) == \
        (None, "y", t("2024-01-01 11:00"))


def test_count_min_sketch_ignores_null_keys(spark):
    """Code-review r03 fix: NULL keys are excluded (concat-based hashing
    would conflate them into a phantom key and diverge from SQL mirrors)."""
    from recrun_spark.functions.sketch import count_min_sketch
    with_nulls = spark.createDataFrame(
        [(1,), (1,), (None,), (2,), (None,)], "user_id bigint")
    without = spark.createDataFrame([(1,), (1,), (2,)], "user_id bigint")

    def cells(df):
        return {(r["i"], r["bucket"]): r["cnt"]
                for r in count_min_sketch(df, "user_id").collect()}

    assert cells(with_nulls) == cells(without)


def test_asof_join_null_timestamps(spark):
    """ADVICE r03 fix: NULL timestamps follow native ASOF semantics —
    a right row with NULL right_ts is never matched (it used to sort
    first and be carried into every unmatched left row), and a left row
    with NULL left_ts matches nothing."""
    import datetime as dt

    from recrun_spark.operators import asof_join

    def t(s):
        return dt.datetime.fromisoformat(s)

    left = spark.createDataFrame(
        [(1, t("2024-01-01 09:00"), "early"),   # before every real right ts
         (1, t("2024-01-01 12:00"), "late"),
         (1, None, "nullts")],
        "k bigint, lts timestamp, ev string")
    right = spark.createDataFrame(
        [(1, None, 666),                        # must never match anything
         (1, t("2024-01-01 10:00"), 100)],
        "k bigint, rts timestamp, val int")
    got = {r["ev"]: (r["val"], r["rts"])
           for r in asof_join(left, right, "k", "lts", "rts").collect()}
    assert got["early"] == (None, None)         # not the NULL-ts row
    assert got["late"] == (100, t("2024-01-01 10:00"))
    assert got["nullts"] == (None, None)
    assert len(got) == 3                        # all left rows preserved


def test_stage2_surface_digest_injective():
    """The worker matcher-cache key and the resume fingerprint must be
    injective over dictionaries — a NUL inside a surface used to collide
    ('a\\x00b',) with ('a', 'b') and silently return the wrong matcher.
    The row digest covers every component: alias, entity_id and prior."""
    import pyarrow as pa

    from recrun_spark.stage3 import _row_digest

    def d(*rows):
        return _row_digest(pa.table(list(zip(*rows)),
                                    names=["alias", "entity_id", "prior"]))

    # alias
    assert d(("a\x00b", "Q1", 0.9)) != d(("a", "b\x00Q1", 0.9))
    assert d(("ab", "c", 0.9)) != d(("a", "bc", 0.9))
    # entity_id
    assert d(("a", "Q1", 0.9)) != d(("a", "Q2", 0.9))
    assert d(("a", "Q1\x00", 0.9)) != d(("a", "Q1", 0.9))
    # prior
    assert d(("a", "Q1", 0.9)) != d(("a", "Q1", 0.95))
    # row boundaries
    assert d(("a", "Q1", 0.5), ("b", "Q2", 0.5)) != d(("a", "Q1", 0.5))
    assert d(("x", "Q1", 0.9)) == d(("x", "Q1", 0.9))
    # a function of the rows, not of the Arrow chunk layout
    t = pa.table([["a", "b", "c"], ["Q1", "Q2", "Q3"], [0.5, 0.6, 0.7]],
                 names=["alias", "entity_id", "prior"])
    assert _row_digest(pa.concat_tables([t.slice(0, 1), t.slice(1)])) \
        == _row_digest(t)


def test_minhash_lsh_materialize_flag(spark):
    """materialize=False builds the same result lazily (no eager candidate
    job at construction) — the plan-only path explain_audit uses."""
    from recrun_spark.functions.dedup import minhash_lsh_pairs
    from recrun_spark.operators import release_caches
    docs = spark.createDataFrame(
        [("a", "alpha beta gamma delta epsilon zeta"),
         ("b", "alpha beta gamma delta epsilon eta"),
         ("c", "one two three four five six seven")],
        ["doc_id", "text"])
    eager = minhash_lsh_pairs(docs, threshold=0.5)
    lazy = minhash_lsh_pairs(docs, threshold=0.5, materialize=False)
    want = {(r["doc_a"], r["doc_b"]) for r in eager.collect()}
    got = {(r["doc_a"], r["doc_b"]) for r in lazy.collect()}
    assert got == want and ("a", "b") in got
    release_caches(eager)
    release_caches(lazy)


def test_multimodal_probe_and_real_av_kernels(monkeypatch):
    """The decoder probe reports per-modality availability, and the PyAV
    audio/video kernels produce deterministic 8-dim features when an `av`
    module is importable (faked here with the exact API surface the kernel
    uses — the sandbox has no ffmpeg)."""
    import sys
    import types

    import numpy as np

    from recrun_spark.functions import multimodal

    probe = multimodal._probe_real_decoders()
    assert set(probe) == {"image", "audio", "video"}

    class _Frame:
        def __init__(self, arr):
            self._arr = arr

        def to_ndarray(self, format=None):
            return self._arr

    class _Container:
        def __init__(self, payload):
            self._seed = (payload[0] if payload else 0) + 1

        def decode(self, audio=None, video=None):
            rng = np.random.RandomState(self._seed)
            if audio is not None:
                for _ in range(3):
                    yield _Frame(rng.uniform(-1, 1, (1, 64))
                                 .astype(np.float32))
            else:
                for _ in range(4):
                    yield _Frame(rng.randint(0, 256, (4, 4, 3))
                                 .astype(np.uint8))

    fake_av = types.ModuleType("av")
    fake_av.open = lambda f: _Container(f.read())
    monkeypatch.setitem(sys.modules, "av", fake_av)

    assert multimodal._probe_real_decoders()["audio"] is True
    a1 = multimodal.decode_real(b"\x03payload", "audio")
    a2 = multimodal.decode_real(b"\x03payload", "audio")
    v1 = multimodal.decode_real(b"\x07payload", "video")
    assert a1.shape == (8,) and v1.shape == (8,)
    assert np.array_equal(a1, a2)               # deterministic
    assert np.isfinite(a1).all() and np.isfinite(v1).all()
    assert not np.array_equal(a1, multimodal.decode_real(b"\x09x", "audio"))


def test_multimodal_real_audio_raises_without_av(monkeypatch):
    """Without PyAV the audio/video kernels raise loudly (honest boundary),
    and they say how to get the stub instead."""
    import builtins
    import sys

    import pytest

    from recrun_spark.functions import multimodal

    monkeypatch.delitem(sys.modules, "av", raising=False)
    real_import = builtins.__import__

    def no_av(name, *a, **kw):
        if name == "av":
            raise ImportError("no ffmpeg binding")
        return real_import(name, *a, **kw)

    monkeypatch.setattr(builtins, "__import__", no_av)
    with pytest.raises(NotImplementedError, match="PyAV"):
        multimodal.decode_real(b"x", "audio")
    assert multimodal._probe_real_decoders()["video"] is False


def test_simhash_derived_blocks_tighten_with_corpus_size():
    """VERDICT r03 item 3: the banding block count is derived from the
    corpus count — small corpora keep the classic k+1 single-block keys,
    large corpora automatically take wider keys (more blocks) so random
    band-bucket collision volume stays ~linear in n."""
    import math

    from recrun_spark.functions.dedup import (SIMHASH_BITS,
                                              derive_simhash_blocks)
    k = 3
    assert derive_simhash_blocks(500, k) == k + 1          # sf0.01 regime
    ms = [derive_simhash_blocks(n, k)
          for n in (10**3, 10**5, 10**6, 10**7, 10**8)]
    assert ms == sorted(ms), ms                            # monotone
    assert ms[-1] > k + 1, ms                              # actually widens
    # at 10^7 docs the derived scheme's expected collisions are bounded
    # linear-in-n, unlike the classic scheme's n^2/2^15
    m = derive_simhash_blocks(10**7, k)
    width = (m - k) * (SIMHASH_BITS // m)
    assert math.comb(m, m - k) * (10**7) ** 2 / 2**width <= 8 * 10**7
    # table count stays bounded no matter how huge n gets
    assert math.comb(*(lambda mm: (mm, mm - k))(
        derive_simhash_blocks(10**12, k))) <= 64


def test_simhash_near_dups_exact_at_any_block_count(spark):
    """Pigeonhole exactness holds for EVERY m > k, not just the classic
    k+1: wider-key bandings produce the identical pair set as brute
    force."""
    from itertools import combinations

    from recrun_spark.functions.dedup import simhash, simhash_near_dups
    docs = spark.createDataFrame(
        [("a", "the quick brown fox jumps over the lazy dog"),
         ("b", "the quick brown fox jumps over the lazy dog"),
         ("c", "the quick brown fox jumps over the lazy cat"),
         ("d", "completely different vocabulary entirely unrelated words"),
         ("e", "the quick brown fox leaps over the lazy dog"),
         ("f", "pack my box with five dozen liquor jugs today")],
        ["doc_id", "text"])
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}

    for k, blocks in ((3, 5), (3, 6), (8, 10), (2, 4)):
        brute = {(x, y, bin(sigs[x] ^ sigs[y]).count("1"))
                 for x, y in combinations(sorted(sigs), 2)
                 if bin(sigs[x] ^ sigs[y]).count("1") <= k}
        got = {(r["doc_a"], r["doc_b"], r["hamming"])
               for r in simhash_near_dups(docs, max_hamming=k,
                                          n_blocks=blocks).collect()}
        assert got == brute, (k, blocks)


def test_two_level_assignment_equals_flat_when_probing_all_cells(spark):
    """The two-level coarse→fine quantizer with coarse_nprobe >= #cells
    sees every fine centroid, so it must reproduce the flat assignment
    EXACTLY (same deterministic ranks); with fewer probes it stays a
    subset-restricted ranking that still agrees on most vectors of a
    clustered corpus."""
    from recrun_spark.functions.similarity import assign_buckets
    emb = _blob_corpus(spark)                      # n = 400, 8 blobs
    flat = {r["vec_id"]: r["bucket"]
            for r in assign_buckets(emb, n_centroids=8,
                                    assignment="flat").collect()}
    # isqrt(8) = 2 coarse cells; probing both == seeing all fine centroids
    full = {r["vec_id"]: r["bucket"]
            for r in assign_buckets(emb, n_centroids=8,
                                    assignment="two_level",
                                    coarse_nprobe=2).collect()}
    assert full == flat
    # restrictive probing (1 of 2 cells): still a valid assignment for
    # every vector, mostly agreeing on tight blobs
    one = {r["vec_id"]: r["bucket"]
           for r in assign_buckets(emb, n_centroids=8,
                                   assignment="two_level",
                                   coarse_nprobe=1).collect()}
    assert set(one) == set(flat)                   # every vector assigned
    agree = sum(one[v] == flat[v] for v in flat) / len(flat)
    assert agree >= 0.6, agree


def test_fine_centroid_shuffle_join_past_broadcast_ceiling(spark):
    """VERDICT r04 #4: past ``fine_broadcast_max_centroids`` the probed-cell
    join must stop broadcasting the K-row fine-centroid table (K·dim
    doubles to EVERY executor — ~1 GB at K=1M, dim=128) and take a
    cell-keyed shuffle hash join instead.  Same deterministic ranking both
    ways — assignments must be IDENTICAL — and the forced-shuffle plan
    must carry a ShuffledHashJoin keyed on the cell column (the √K-row
    coarse-cell broadcasts stay broadcast by design; the ceiling governs
    only the K-row fine table)."""
    import contextlib
    import io

    from recrun_spark.functions.similarity import assign_buckets
    emb = _blob_corpus(spark)                      # n = 400, 8 blobs
    kw = dict(n_centroids=8, assignment="two_level", coarse_nprobe=2)
    bcast = {r["vec_id"]: r["bucket"]
             for r in assign_buckets(emb, **kw).collect()}
    shuf_df = assign_buckets(emb, fine_broadcast_max_centroids=0, **kw)
    shuf = {r["vec_id"]: r["bucket"] for r in shuf_df.collect()}
    assert shuf == bcast and len(shuf) == 400

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        shuf_df.explain("formatted")
    plan = buf.getvalue()
    assert "ShuffledHashJoin" in plan, plan
    # the detail section of the (sole) ShuffledHashJoin must be keyed on
    # the cell column — i.e. the shuffle join IS the fine-centroid join
    idx = plan.rindex("ShuffledHashJoin")
    assert "cell#" in plan[idx:idx + 400], plan[idx:idx + 400]


def test_two_level_assignment_cost_sublinear_in_k(spark):
    """VERDICT r03 item 2: with K derived from corpus size, flat
    assignment is O(n·K) — the step that dies first at 10^8 vectors.  The
    two-level path's comparison volume must be ~n·√K·(1+p): measured on a
    100k-vector corpus at K=1024 it stays far below n·K, and quadrupling
    K must grow it by ~2x (sqrt), not 4x (linear)."""
    from pyspark.sql import functions as F

    from recrun_spark.functions.similarity import _bucket_ranks
    n = 100_000
    dim = 4
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.conv(F.substring(F.md5(F.concat_ws("_", F.col("id"),
                                                  F.lit(d))), 1, 4),
                    16, 10).cast("double") / 32768.0 - 1.0)
            for d in range(dim)]).alias("embedding"))

    def comparisons(k):
        cand = _bucket_ranks(emb, k, "vec_id", "embedding",
                             assignment="two_level",
                             coarse_nprobe=2).count()
        return cand + n * max(1, int(k ** 0.5))    # + the coarse stage

    c1024 = comparisons(1024)
    assert c1024 < n * 1024 / 4, c1024             # far below flat's n*K
    c4096 = comparisons(4096)
    assert c4096 / c1024 < 3.0, (c1024, c4096)     # sqrt-ish, not linear


def test_near_dups_auto_two_level_with_derived_centroids(spark):
    """When n_centroids is DERIVED from corpus size and crosses
    TWO_LEVEL_MIN_CENTROIDS, embedding_near_dups auto-routes assignment
    through the two-level quantizer — and still recovers every exact pair
    on the clustered blob corpus (near-dups are intra-blob; probed cells
    keep blobs together)."""
    from recrun_spark.functions.similarity import (TWO_LEVEL_MIN_CENTROIDS,
                                                   embedding_near_dups)
    from recrun_spark.operators import release_caches
    emb = _blob_corpus(spark)                     # n = 400
    # target 5/bucket -> derived K = 80 >= 64: the auto two_level regime
    assert 400 / 5 >= TWO_LEVEL_MIN_CENTROIDS
    out = embedding_near_dups(emb, threshold=0.95, target_bucket_size=5,
                              nprobe=8, coarse_nprobe=4)
    got = {(r["id_a"], r["id_b"], r["sim"]) for r in out.collect()}
    release_caches(out)
    exact = {(r["id_a"], r["id_b"], r["sim"]) for r in
             embedding_near_dups(emb, threshold=0.95,
                                 method="exact").collect()}
    assert len(exact) > 5000
    recall = len(got & exact) / len(exact)
    assert recall >= 0.95, recall
    assert got <= exact                           # verify stage: no false positives


def test_hll_registers_properties(spark):
    """HyperLogLog invariants: the estimate lands within the ~4.6%
    standard-error band of the true distinct count (we allow 3 sigma),
    register tables of two halves MERGE by cell-wise max into exactly the
    union's table, duplicates change nothing, and NULL keys are
    excluded."""
    from recrun_spark.functions.sketch import (HLL_M, hll_estimate,
                                               hll_registers)
    n = 10_000
    df = spark.range(n).select(
        F.concat(F.lit("user"), F.col("id")).alias("k"))
    cells = [(r["reg"], r["max_rho"])
             for r in hll_registers(df, "k").collect()]
    est = hll_estimate(cells)
    assert abs(est - n) / n < 3 * 1.04 / (HLL_M ** 0.5), est

    # duplicates are invisible to a distinct sketch
    dup = df.union(df).union(df)
    cells_dup = sorted((r["reg"], r["max_rho"])
                       for r in hll_registers(dup, "k").collect())
    assert cells_dup == sorted(cells)

    # merge = cell-wise max
    a = df.where(F.col("k") < "user5")
    b = df.where(F.col("k") >= "user5")
    merged: dict = {}
    for part in (a, b):
        for r in hll_registers(part, "k").collect():
            merged[r["reg"]] = max(merged.get(r["reg"], 0), r["max_rho"])
    assert sorted(merged.items()) == sorted(cells)

    # NULL keys excluded
    with_null = spark.createDataFrame([("x",), (None,), ("y",)],
                                      "k string")
    without = spark.createDataFrame([("x",), ("y",)], "k string")
    c1 = sorted((r["reg"], r["max_rho"])
                for r in hll_registers(with_null, "k").collect())
    c2 = sorted((r["reg"], r["max_rho"])
                for r in hll_registers(without, "k").collect())
    assert c1 == c2


def test_hash_sampling_and_split_determinism(spark):
    """Content-keyed sampling invariants: a doc's split label is a pure
    function of its id (stable when the corpus GROWS — the property
    rand() splits lack), proportions track the weights, hash_sample is a
    subset consistent with the split ranges, and bad inputs raise."""
    import pytest

    from recrun_spark.functions.sampling import hash_sample, hash_split
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    small = spark.range(2000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"))
    big = spark.range(6000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"))

    lab_small = {r["doc_id"]: r["split"]
                 for r in hash_split(small, w).collect()}
    lab_big = {r["doc_id"]: r["split"] for r in hash_split(big, w).collect()}
    assert all(lab_big[d] == s for d, s in lab_small.items())  # growth-stable

    n = len(lab_big)
    frac_train = sum(s == "train" for s in lab_big.values()) / n
    frac_val = sum(s == "val" for s in lab_big.values()) / n
    assert abs(frac_train - 0.8) < 0.03 and abs(frac_val - 0.1) < 0.02, \
        (frac_train, frac_val)

    # hash_sample(0.8) keeps exactly the 'train' range
    sampled = {r["doc_id"] for r in hash_sample(big, 0.8).collect()}
    assert sampled == {d for d, s in lab_big.items() if s == "train"}
    assert {r["doc_id"] for r in hash_sample(big, 1.0).collect()} == set(
        lab_big)
    assert hash_sample(big, 0.0).count() == 0

    with pytest.raises(ValueError):
        hash_sample(big, 1.5)
    with pytest.raises(ValueError):
        hash_split(big, {"a": -1.0, "b": 2.0})


def test_pack_blocks_invariants(spark):
    """Sequence packing: every token lands in exactly one block slot,
    no block exceeds its budget, blocks tile contiguously, and the
    distributed prefix-sum gives IDENTICAL output for any bucketing
    (bucket_prefix_len is a pure parallelism knob, not a semantics one).
    """
    from recrun_spark.functions.pack import pack_blocks
    import pytest
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range((i * 37) % 90 + 1)))
         for i in range(200)] + [(999, "   ")],      # blank doc: excluded
        ["doc_id", "text"])
    B = 64
    rows = pack_blocks(docs, block_tokens=B).collect()

    # conservation: per doc, the spanned slots sum to its token count
    per_doc: dict = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert 999 not in per_doc
    assert len(per_doc) == 200
    for doc, rr in per_doc.items():
        assert sum(x["tokens_in_block"] for x in rr) == rr[0]["n_tok"]
        ids = sorted(x["block_id"] for x in rr)
        assert ids == list(range(ids[0], ids[-1] + 1))   # contiguous span

    # budget + tiling: every block except the last is exactly full
    per_block: dict = {}
    for r in rows:
        per_block[r["block_id"]] = per_block.get(r["block_id"], 0) \
            + r["tokens_in_block"]
    last = max(per_block)
    assert set(per_block) == set(range(last + 1))
    for b, tot in per_block.items():
        assert tot == B or (b == last and 0 < tot <= B), (b, tot)

    # decomposition-independence: different bucketings, identical result
    key = lambda r: (r["doc_id"], r["block_id"], r["block_offset"],
                     r["tokens_in_block"])
    base = sorted(map(key, rows))
    for plen in (1, 2, 8):
        alt = sorted(map(key, pack_blocks(docs, block_tokens=B,
                                          bucket_prefix_len=plen).collect()))
        assert alt == base, plen

    with pytest.raises(ValueError):
        pack_blocks(docs, block_tokens=0)
    # fully-empty corpus -> empty frame with the right schema
    empty = pack_blocks(docs.where(F.col("doc_id") == 999), block_tokens=B)
    assert empty.count() == 0


def test_chunk_windows_semantics(spark):
    """Sliding-window chunking: starts every stride while inside the doc,
    window-sized slices with short tails, content preserved verbatim
    (case/punct), inter-token whitespace canonicalized to single spaces,
    whitespace-only docs excluded, non-overlapping default."""
    from recrun_spark.functions.text import chunk_windows
    import pytest
    docs = spark.createDataFrame(
        [(1, "A b C d E f G"),           # 7 tokens
         (2, "one  two\tthree"),         # messy whitespace, 3 tokens
         (3, "   "),                     # excluded
         (None, "x y z")],               # excluded
        ["doc_id", "text"])
    rows = sorted((r["doc_id"], r["chunk_id"], r["start_tok"], r["n_tok"],
                   r["chunk_text"])
                  for r in chunk_windows(docs, window_tokens=4,
                                         stride=2).collect())
    assert rows == [
        (1, 0, 0, 4, "A b C d"),
        (1, 1, 2, 4, "C d E f"),
        (1, 2, 4, 3, "E f G"),
        (1, 3, 6, 1, "G"),
        (2, 0, 0, 3, "one two three"),
        (2, 1, 2, 1, "three"),
    ]
    # non-overlapping default: stride == window
    nn = sorted((r["doc_id"], r["start_tok"], r["chunk_text"])
                for r in chunk_windows(docs, window_tokens=4).collect())
    assert nn == [(1, 0, "A b C d"), (1, 4, "E f G"),
                  (2, 0, "one two three")]
    with pytest.raises(ValueError):
        chunk_windows(docs, window_tokens=0)


def test_pagerank_integer_semantics(spark):
    """Integer-arithmetic PageRank: a directed cycle preserves every
    node's full starting mass exactly (each node has one in-neighbor of
    out-degree 1, so rank' = 0.15·S + 0.85·rank = S at the fixed point —
    integer div is exact here); a star concentrates rank in the center;
    a dangling node leaks its damped mass (documented variant) but still
    holds at least the base rank; results are bit-identical across
    repartitionings (the property float PageRank lacks)."""
    from recrun_spark.operators import pagerank, release_caches
    S = 10 ** 12
    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(cycle).collect()}
    assert got == {"a": S, "b": S, "c": S}

    star = spark.createDataFrame(
        [("s1", "hub"), ("s2", "hub"), ("s3", "hub"),
         ("hub", "s1"), ("hub", "s2"), ("hub", "s3")], ["src", "dst"])
    ranks = {r["node"]: r["rank"] for r in pagerank(star).collect()}
    assert ranks["hub"] > ranks["s1"] > 0
    assert ranks["s1"] == ranks["s2"] == ranks["s3"]

    dangle = spark.createDataFrame([("a", "b")], ["src", "dst"])
    dr = {r["node"]: r["rank"] for r in pagerank(dangle).collect()}
    base = (S * 15) // 100
    assert dr["a"] == base                       # no in-edges after iter 1
    assert dr["b"] == base + (85 * base) // 100  # a's mass, damped once

    # bit-exact under repartitioning — same integers, any partitioning
    out = pagerank(star.repartition(7))
    again = {r["node"]: r["rank"] for r in out.collect()}
    assert again == ranks
    release_caches(out)


def test_personalized_pagerank_semantics(spark):
    """PPR pins: teleport mass lands ONLY on seeds (non-seed nodes with
    no path from a seed rank 0); ranks decay with distance from the seed
    along a path; a symmetric two-seed graph ranks both seeds equally;
    empty seeds raise; bit-exact under repartitioning."""
    import pytest

    from recrun_spark.operators import personalized_pagerank, release_caches
    S = 10 ** 12
    base = (S * 15) // 100
    # path a→b→c→d plus an island x→y unreachable from the seed
    path = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], ["src", "dst"])
    # 6 rounds: enough for the initial seed pulse to wash off the 3-hop
    # path (node at distance k stabilizes at round k+1; after only 3
    # rounds the pulse itself still sits on d and decay does NOT hold)
    got = {r["node"]: r["rank"]
           for r in personalized_pagerank(path, ["a"], iterations=6)
           .collect()}
    assert got["x"] == 0 and got["y"] == 0          # teleport is seed-only
    assert got["a"] == base                         # no in-edges: base only
    assert got["a"] > got["b"] > got["c"] > got["d"] > 0
    # exact steady state on the path (out_deg 1 everywhere): each hop
    # damps the previous node's stable rank by 85%
    b = (85 * base) // 100
    c = (85 * b) // 100
    assert got["b"] == b and got["c"] == c and got["d"] == (85 * c) // 100
    # symmetric two-seed square: a↔b, both seeded → equal ranks
    square = spark.createDataFrame(
        [("a", "b"), ("b", "a")], ["src", "dst"])
    two = {r["node"]: r["rank"]
           for r in personalized_pagerank(square, ["a", "b"],
                                          iterations=4).collect()}
    assert two["a"] == two["b"] == S                # cycle fixed point
    with pytest.raises(ValueError):
        personalized_pagerank(path, [])
    out = personalized_pagerank(path.repartition(5), ["a"], iterations=6)
    again = {r["node"]: r["rank"] for r in out.collect()}
    assert again == got
    release_caches(out)


def _py_edge_support(edges):
    """Reference per-edge triangle support: common-neighbor counting."""
    from collections import defaultdict
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    return {(u, v): len(adj[u] & adj[v]) for u, v in edges}


def _py_ktruss(edges, k):
    """Reference k-truss peel: drop edges with support < k-2 to fixpoint."""
    e = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    while True:
        sup = _py_edge_support(e)
        keep = {uv for uv in e if sup[uv] >= k - 2}
        if keep == e:
            return {(u, v, sup[(u, v)]) for u, v in keep}
        e = keep


def test_ktruss_semantics(spark):
    """k-truss pins: a 5-clique with a pendant triangle and a tail at k=4
    keeps exactly the clique (support 3 per edge); a triangle strip at
    k=4 cascades to EMPTY (boundary edges peel, interiors follow) but is
    its own 3-truss; brute-force differential on a hash-random graph;
    k<3 raises; bit-exact under repartitioning."""
    import hashlib

    import pytest

    from recrun_spark.operators import ktruss
    clique = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    graph = clique + [(1, 6), (6, 7), (1, 7), (7, 8)]
    got = {(r["src"], r["dst"], r["support"])
           for r in ktruss(spark.createDataFrame(graph, ["src", "dst"]),
                           k=4).collect()}
    assert got == {(u, v, 3) for u, v in clique}
    strip = ([(i, i + 1) for i in range(1, 8)]
             + [(i, i + 2) for i in range(1, 7)])
    sdf = spark.createDataFrame(strip, ["src", "dst"])
    assert ktruss(sdf, k=4).count() == 0          # full peel cascade
    t3 = {(r["src"], r["dst"]) for r in ktruss(sdf, k=3).collect()}
    assert t3 == set(strip)                       # every edge in a triangle
    # hash-random 15-node graph, keep ~40% of pairs, differential vs the
    # Python peel at k=4 and k=5
    rnd = [(a, b) for a in range(15) for b in range(a + 1, 15)
           if int(hashlib.md5(f"kt{a}|{b}".encode()).hexdigest(), 16)
           % 10 < 4]
    rdf = spark.createDataFrame(rnd, ["src", "dst"])
    for k in (4, 5):
        got = {(r["src"], r["dst"], r["support"])
               for r in ktruss(rdf, k=k).collect()}
        assert got == _py_ktruss(rnd, k)
    with pytest.raises(ValueError):
        ktruss(rdf, k=2)
    again = {(r["src"], r["dst"], r["support"])
             for r in ktruss(rdf.repartition(7), k=4).collect()}
    assert again == _py_ktruss(rnd, 4)


def _py_matching(edges, rounds=None):
    """Reference replay of the Israeli-Itai rounds with md5 priorities."""
    import hashlib

    def pri(u, v):
        h = int(hashlib.md5(f"{u}|{v}".encode()).hexdigest()[:15], 16)
        return f"{h:019d}|{u}|{v}"

    live = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    out, r = set(), 0
    while live and (rounds is None or r < rounds):
        r += 1
        mp = {}
        for u, v in live:
            p = pri(u, v)
            for n in (u, v):
                mp[n] = min(mp.get(n, p), p)
        sel = {(u, v) for u, v in live
               if pri(u, v) == mp[u] and pri(u, v) == mp[v]}
        out |= {(u, v, r) for u, v in sel}
        cov = {n for uv in sel for n in uv}
        live = {(u, v) for u, v in live if u not in cov and v not in cov}
    return out


def test_maximal_matching_semantics(spark):
    """Matching pins: no endpoint repeats (validity); at the fixpoint
    every original edge touches a matched node (maximality); the
    trajectory — including round numbers — equals the Python replay of
    the same md5-priority rounds; rounds=N stops at the same prefix;
    bit-exact under repartitioning."""
    import hashlib

    from recrun_spark.operators import maximal_matching
    rnd = [(f"n{a}", f"n{b}") for a in range(20) for b in range(a + 1, 20)
           if int(hashlib.md5(f"mm{a}|{b}".encode()).hexdigest(), 16)
           % 10 < 3]
    df = spark.createDataFrame(rnd, ["src", "dst"])
    got = {(r["src"], r["dst"], r["matched_round"])
           for r in maximal_matching(df).collect()}
    assert got == _py_matching(rnd)
    nodes = [n for u, v, _ in got for n in (u, v)]
    assert len(nodes) == len(set(nodes))          # validity
    matched_nodes = set(nodes)
    for u, v in rnd:                               # maximality
        assert u in matched_nodes or v in matched_nodes
    one = {(r["src"], r["dst"], r["matched_round"])
           for r in maximal_matching(df, rounds=1).collect()}
    assert one == _py_matching(rnd, rounds=1) and one <= got
    again = {(r["src"], r["dst"], r["matched_round"])
             for r in maximal_matching(df.repartition(9)).collect()}
    assert again == got


def test_hourly_bursts_semantics(spark):
    """Burst pins: the trailing window is CALENDAR hours (a silent hour
    shrinks the trailing mass — it is not skipped); hours with no
    trailing history are absent; the ratio is exact integer basis
    points; the 2× threshold is inclusive; trail_hours<1 raises."""
    import datetime as dt

    import pytest

    from recrun_spark.functions.events import hourly_bursts
    h = lambda k, n: [(f"e{k}{i}",
                       dt.datetime(2024, 1, 1, k, 0, 5)) for i in range(n)]
    # type A: hours 0,1,2 have 2,2,2 then hour 3 has 12 (burst 6x),
    # hour 5 has 4 — hour 4 SILENT, so trail(5) = n(3)+n(4)+n(2)=12+0+2
    rows = [(t, ts, "A") for k, n in [(0, 2), (1, 2), (2, 2), (3, 12),
                                      (5, 4)]
            for t, ts in h(k, n)]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type"])
    got = {r["hour_id"] % 24: (r["n"], r["trail_n"], r["burst_bp"],
                               r["is_burst"])
           for r in hourly_bursts(df).collect()}
    # hour 0 has no trailing history -> absent; keys are hours 1,2,3,5
    assert set(got) == {1, 2, 3, 5}
    # trail(1) = n(0) = 2 only -> bp = 10000*3*2 // 2 = 30000: sparse
    # history INFLATES the ratio by design (mass model, documented)
    assert got[1] == (2, 2, 30000, True)
    assert got[2] == (2, 4, 15000, False)         # 2 vs trailing 2+2
    assert got[3] == (12, 6, 60000, True)         # 12 vs 2+2+2
    assert got[5] == (4, 14, 8571, False)         # silent hour 4 counted
    with pytest.raises(ValueError):
        hourly_bursts(df, trail_hours=0)


def test_containment_pairs_semantics(spark):
    """Containment pins: a doc verbatim inside a larger host scores
    10000 one-way (and the host scores low the other way — asymmetry);
    the threshold is the exact cross-multiplied rational; disjoint docs
    never pair; brute-force differential over the kept-shingle sets."""
    from recrun_spark.functions.dedup import (_kept_shingles,
                                              containment_pairs)
    from recrun_spark.operators import release_caches
    quote = "alpha beta gamma delta epsilon zeta"
    host = quote + " eta theta iota kappa " + "lam mu nu xi omicron pi"
    other = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, quote), (2, host), (3, other)], ["doc_id", "text"])
    out = containment_pairs(docs, min_containment_bp=5000)
    got = {(r["doc_a"], r["doc_b"]): (r["n_common"], r["size_a"],
                                      r["containment_bp"])
           for r in out.collect()}
    # brute force over the same kept-shingle universe
    sh = {}
    for r in _kept_shingles(docs, 3, "text", "doc_id", 1000).collect():
        sh.setdefault(r["doc_id"], set()).add(r["shingle"])
    want = {}
    for a in sh:
        for b in sh:
            if a == b:
                continue
            c = len(sh[a] & sh[b])
            if c >= 2 and 10000 * c >= 5000 * len(sh[a]):
                want[(a, b)] = (c, len(sh[a]), 10000 * c // len(sh[a]))
    assert got == want
    assert got[(1, 2)][2] == 10000                # quote fully contained
    assert (2, 1) not in got                      # host is NOT contained
    assert not any(3 in k for k in got)           # disjoint never pairs
    release_caches(out)


def test_hyperball_semantics(spark):
    """HyperBall pin: after r rounds, node v's register table is EXACTLY
    the HLL table of its r-ball (max-merge over paths = max over
    members) — checked by Python BFS + md5 register replay for every
    node at r=1 and r=2 on a hash-random graph; estimates from the
    collected tables land near the true ball sizes; p out of range
    raises; bit-exact under repartitioning."""
    import hashlib

    import pytest

    from recrun_spark.functions.sketch import hll_estimate
    from recrun_spark.operators import hyperball
    P, WB = 4, 56

    def regcell(x):
        h = int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16)
        w = h >> P
        return h & 15, (WB + 1) if w == 0 else (WB + 1 - w.bit_length())

    rnd = [(a, b) for a in range(30) for b in range(a + 1, 30)
           if int(hashlib.md5(f"hb{a}|{b}".encode()).hexdigest(), 16)
           % 100 < 8]
    adj = {}
    for a, b in rnd:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def ball(v, r):
        cur, seen = {v}, {v}
        for _ in range(r):
            cur = {w for u in cur for w in adj.get(u, ())} - seen
            seen |= cur
        return seen

    df = spark.createDataFrame(rnd, ["src", "dst"])
    for r in (1, 2):
        got = {}
        for row in hyperball(df, rounds=r, p=P).collect():
            got.setdefault(row["node"], {})[row["reg"]] = row["max_rho"]
        want = {}
        for v in adj:
            regs = {}
            for m in ball(v, r):
                reg, rho = regcell(m)
                regs[reg] = max(regs.get(reg, 0), rho)
            want[v] = regs
        assert got == want
    # estimates: mean relative error over all 2-balls well inside the
    # p=4 error regime (1.04/sqrt(16) ~ 26% std err per node)
    errs = [abs(hll_estimate(got[v].items(), p=P) - len(ball(v, 2)))
            / len(ball(v, 2)) for v in adj]
    assert sum(errs) / len(errs) < 0.35
    with pytest.raises(ValueError):
        hyperball(df, p=0)
    again = {(r["node"], r["reg"], r["max_rho"])
             for r in hyperball(df.repartition(7), rounds=2, p=P).collect()}
    assert again == {(v, g, m) for v, regs in got.items()
                     for g, m in regs.items()}


def test_phonetic_key_semantics(spark):
    """Soundex pins: the classic reference vectors (including the h/w
    transparency and first-code-collapse cases), sound-alikes landing in
    one block, no-letter tokens coding NULL, and block sizes counted
    over the distinct vocabulary."""
    from recrun_spark.functions.text import phonetic_blocks, phonetic_key
    vectors = {"robert": "R163", "rupert": "R163", "ashcraft": "A261",
               "ashcroft": "A261", "tymczak": "T522", "pfister": "P236",
               "honeyman": "H555", "hugo": "H200", "a": "A000",
               "jackson": "J250", "smith": "S530", "smyth": "S530"}
    df = spark.createDataFrame([(w,) for w in vectors], ["w"])
    got = {r["w"]: r["code"]
           for r in df.select("w", phonetic_key(F.col("w"))
                              .alias("code")).collect()}
    assert got == vectors
    assert df.select(phonetic_key(F.lit("123"))
                     .alias("c")).first()["c"] is None
    docs = spark.createDataFrame(
        [(1, "Smith and Smyth met Robert"), (2, "rupert 42 smith!")],
        ["doc_id", "text"])
    blocks = {(r["word"], r["code"]): r["block_n"]
              for r in phonetic_blocks(docs).collect()}
    # vocabulary: and/met + the names; 42 strips to nothing; "smith!"
    # strips to smith (already present)
    assert blocks[("smith", "S530")] == 2 and blocks[("smyth", "S530")] == 2
    assert blocks[("robert", "R163")] == 2 and blocks[("rupert", "R163")] == 2
    assert ("", None) not in blocks and not any(w == "42" for w, _ in blocks)


def test_equidepth_bins_property(spark):
    """Equi-depth pins: 16 bins whose counts differ by at most 1, counts
    sum to the corpus, and bin bounds are non-overlapping and ordered."""
    import os
    sf = os.environ.get("RECRUN_TEST_SF_DIR", "/root/testdata/sf0.01")
    import __spark_entry__ as entry
    rows = sorted(entry.queries()["events_equidepth_bins"](spark, sf)
                  .collect(), key=lambda r: r["bin"])
    assert [r["bin"] for r in rows] == list(range(16))
    counts = [r["n"] for r in rows]
    assert max(counts) - min(counts) <= 1
    assert sum(counts) == 10000
    for a, b in zip(rows, rows[1:]):
        assert a["lo_cents"] <= a["hi_cents"] <= b["lo_cents"]


def _py_kruskal(edges):
    """Reference MST under the (weight, src, dst) total order: Kruskal
    with union-find over canonical deduped min-weight edges."""
    best = {}
    for a, b, w in edges:
        if a == b:
            continue
        u, v = min(a, b), max(a, b)
        best[(u, v)] = min(best.get((u, v), w), w)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = set()
    for (u, v), w in sorted(best.items(),
                            key=lambda kv: (kv[1], str(kv[0][0]),
                                            str(kv[0][1]))):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            out.add((u, v, w))
    return out


def test_boruvka_mst_semantics(spark):
    """MST pins: Kruskal differential on a hash-random weighted graph
    (with deliberate weight ties and parallel edges — the (weight, src,
    dst) total order makes the forest unique); a ring drops exactly its
    max edge; a disconnected graph yields a spanning FOREST; negative
    weights raise; bit-exact under repartitioning."""
    import hashlib

    import pytest

    from recrun_spark.operators import boruvka_mst

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest(), 16)

    rnd = [(a, b, h(f"w{a}|{b}") % 40)          # dense tie space
           for a in range(22) for b in range(a + 1, 22)
           if h(f"mst{a}|{b}") % 10 < 3]
    rnd += [(b, a, w + 7) for a, b, w in rnd[:5]]   # parallel, heavier
    df = spark.createDataFrame(rnd, ["src", "dst", "weight"])
    got = {(r["src"], r["dst"], r["weight"])
           for r in boruvka_mst(df).collect()}
    assert got == _py_kruskal(rnd)
    ring = [(i, (i + 1) % 10, 100 + i) for i in range(10)]
    rmst = {(r["src"], r["dst"], r["weight"])
            for r in boruvka_mst(spark.createDataFrame(
                ring, ["src", "dst", "weight"])).collect()}
    assert rmst == _py_kruskal(ring) and len(rmst) == 9
    assert not any(w == 109 for _, _, w in rmst)   # max ring edge dropped
    two = rnd + [(100, 101, 1), (101, 102, 2), (100, 102, 3)]
    forest = {(r["src"], r["dst"], r["weight"])
              for r in boruvka_mst(spark.createDataFrame(
                  two, ["src", "dst", "weight"])).collect()}
    assert forest == _py_kruskal(two)              # spanning forest
    with pytest.raises(ValueError):
        boruvka_mst(spark.createDataFrame([(1, 2, -5)],
                                          ["src", "dst", "weight"]))
    again = {(r["src"], r["dst"], r["weight"])
             for r in boruvka_mst(df.repartition(9)).collect()}
    assert again == got


def test_partition_plan_properties(spark):
    """Vertex-cut grid pins: per-partition edge loads sum to the edge
    count; every vertex's replication is bounded by R+C−1 = 7 (the 2D
    grid guarantee — a hub under 1D hashing would hit all 16); the
    replication factor Σ n_vertices / |V| is derivable and ≥ 1."""
    import os

    import __spark_entry__ as entry
    sf = os.environ.get("RECRUN_TEST_SF_DIR", "/root/testdata/sf0.01")
    rows = entry.queries()["kg_partition_plan"](spark, sf).collect()
    ments = entry._mentions_df(spark, sf).select("doc_id",
                                                 "entity").distinct()
    n_edges = ments.count()
    n_verts = (ments.select(F.concat(F.lit("d"), F.col("doc_id")
                                     .cast("string")).alias("v"))
               .union(ments.select(F.col("entity").alias("v")))
               .distinct().count())
    assert sum(r["n_edges"] for r in rows) == n_edges
    total_rep = sum(r["n_vertices"] for r in rows)
    assert total_rep >= n_verts                    # replication >= 1
    # per-vertex bound: recompute placements and check max spread
    from recrun_spark.functions.dedup import _hash60
    de = ments.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src"),
        F.col("entity").alias("dst"))
    pid = (F.pmod(_hash60(F.col("src")), F.lit(4)) * 4
           + F.pmod(_hash60(F.col("dst")), F.lit(4))).cast("int")
    e = de.select("src", "dst", pid.alias("pid"))
    spread = (e.select("pid", F.col("src").alias("v"))
              .union(e.select("pid", F.col("dst").alias("v")))
              .distinct().groupBy("v").count()
              .agg(F.max("count")).first()[0])
    assert spread <= 7


def test_active_time_islands_semantics(spark):
    """Gaps-and-islands pins: overlapping intervals merge; TOUCHING
    intervals (next start == running max end) merge; a gap strictly
    past the max end opens a new island; out-of-order events with an
    early long interval swallowing later ones count as ONE island."""
    import datetime as dt

    from __spark_entry__ import events_user_active_time
    import __spark_entry__ as entry
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(uid, mins):
        return (uid * 1000 + int(mins * 10), t0
                + dt.timedelta(minutes=mins), uid, "view", 1.0, "{}")

    rows = [ev(1, 0), ev(1, 3), ev(1, 5 + 3),      # overlap then touch
            ev(1, 30),                              # gap -> new island
            ev(2, 0), ev(2, 1), ev(2, 2),           # nested inside first
            ev(3, 0)]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value",
               "props"])
    import os
    import tempfile
    d = tempfile.mkdtemp(prefix="recrun_active_")
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = {r["user_id"]: (r["active_us"], r["n_islands"], r["n_events"])
           for r in events_user_active_time(spark, d).collect()}
    m = 60_000_000
    # user 1: [0,5)∪[3,8)∪[8,13) = 13 min, then [30,35) -> 2 islands
    assert got[1] == (18 * m, 2, 4)
    # user 2: [0,5)∪[1,6)∪[2,7) = 7 min, 1 island
    assert got[2] == (7 * m, 1, 3)
    assert got[3] == (5 * m, 1, 1)


def test_weighted_pagerank_semantics(spark):
    """Weighted-pagerank pins: with UNIFORM weights the trajectory
    equals plain pagerank at the same scale (w/sw = 1/out_deg exactly);
    unequal weights shift mass proportionally (the heavy target of a
    2-edge source outranks the light one by exactly the per-edge
    division); non-positive weights are dropped; parallel edges combine
    by weight sum; bit-exact under repartitioning."""
    from recrun_spark.operators import (pagerank, release_caches,
                                        weighted_pagerank)
    S = 10 ** 9
    g = [("a", "b", 1), ("b", "c", 1), ("c", "a", 1), ("a", "c", 1)]
    df = spark.createDataFrame(g, ["src", "dst", "weight"])
    wpr = {r["node"]: r["rank"]
           for r in weighted_pagerank(df, iterations=4).collect()}
    plain = {r["node"]: r["rank"]
             for r in pagerank(
                 spark.createDataFrame([(s, d) for s, d, _ in g],
                                       ["src", "dst"]),
                 iterations=4, scale=S).collect()}
    assert wpr == plain                            # uniform == unweighted
    skew = spark.createDataFrame(
        [("a", "b", 9), ("a", "c", 1)], ["src", "dst", "weight"])
    got = {r["node"]: r["rank"]
           for r in weighted_pagerank(skew, iterations=1).collect()}
    base = (S * 15) // 100
    assert got["b"] == base + (85 * ((S * 9) // 10)) // 100
    assert got["c"] == base + (85 * ((S * 1) // 10)) // 100
    dropped = spark.createDataFrame(
        [("a", "b", 0), ("a", "c", 2), ("a", "c", 3)],
        ["src", "dst", "weight"])
    out = weighted_pagerank(dropped, iterations=1)
    got2 = {r["node"]: r["rank"] for r in out.collect()}
    assert "b" not in got2                         # zero weight dropped
    assert got2["c"] == base + (85 * S) // 100     # 5/5 of a's mass
    again = {r["node"]: r["rank"]
             for r in weighted_pagerank(df.repartition(7),
                                        iterations=4).collect()}
    assert again == wpr
    release_caches(out)


def test_cap_per_group_exact_and_prefilter_agree(spark):
    """Domain caps: at most ``cap`` rows per group, chosen as the hash-
    smallest keys — deterministic across runs.  The opt-in mega-domain
    hash prefilter must give the IDENTICAL kept set (it drops only rows
    that sort after the cap-th hash with overwhelming probability, and
    the test corpus makes that certain), groups at or under the cap pass
    through whole, and NULL group/key rows are excluded."""
    from recrun_spark.functions.sampling import cap_per_group
    import pytest
    rows = ([(i, "mega") for i in range(400)]          # far over cap
            + [(1000 + i, "mid") for i in range(7)]    # exactly cap
            + [(2000 + i, "tiny") for i in range(3)]   # under cap
            + [(3000, None), (None, "mega")])          # excluded
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = cap_per_group(df, cap=7, group_col="source").collect()
    by_grp: dict = {}
    for r in kept:
        by_grp.setdefault(r["source"], set()).add(r["doc_id"])
    assert set(by_grp) == {"mega", "mid", "tiny"}
    assert len(by_grp["mega"]) == 7
    assert by_grp["mid"] == {1000 + i for i in range(7)}
    assert by_grp["tiny"] == {2000 + i for i in range(3)}
    # deterministic: the mega survivors are the 7 hash-smallest ids
    import hashlib
    want = sorted(range(400),
                  key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(),
                                 i))[:7]
    assert by_grp["mega"] == set(want)
    # prefilter path: identical kept set
    pre = cap_per_group(df, cap=7, group_col="source",
                        prefilter_slack=8).collect()
    assert {(r["doc_id"], r["source"]) for r in pre} \
        == {(r["doc_id"], r["source"]) for r in kept}
    with pytest.raises(ValueError):
        cap_per_group(df, cap=0)
    with pytest.raises(ValueError):
        cap_per_group(df, cap=5, prefilter_slack=1)


def test_decontaminate_ngram_overlap(spark):
    """Benchmark decontamination: a doc sharing any word 3-gram with the
    held-out set is flagged with the DISTINCT shared-shingle count; clean
    docs come back with n_hits=0 (every corpus doc present); short docs
    fall back to whole-text matching; normalization (case, punctuation)
    is the dedup operators' rule."""
    from recrun_spark.functions.dedup import decontaminate
    bench = spark.createDataFrame(
        [(900, "The quick brown fox jumps over the lazy dog"),
         (901, "tiny doc")],                           # < 3 tokens
        ["doc_id", "text"])
    docs = spark.createDataFrame(
        [(1, "QUICK, brown FOX jumps high today"),     # shares 2 shingles
         (2, "a completely different document body here"),
         (3, "tiny doc"),                              # whole-text match
         (4, "the quick brown fox jumps over the lazy dog exactly")],
        ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_hits"], r["contaminated"])
           for r in decontaminate(docs, bench).collect()}
    assert set(got) == {1, 2, 3, 4}
    # doc 1: "quick brown fox" + "brown fox jumps" (normalized)
    assert got[1] == (2, True)
    assert got[2] == (0, False)
    assert got[3] == (1, True)
    assert got[4][0] >= 6 and got[4][1]
    # shuffle-join path (broadcast off) agrees
    got2 = {r["doc_id"]: (r["n_hits"], r["contaminated"])
            for r in decontaminate(docs, bench,
                                   broadcast_benchmark=False).collect()}
    assert got2 == got


def test_pack_blocks_numeric_key_order(spark):
    """VERDICT r04 wrong-#5: the lexicographic default packs numeric ids
    as "1","10","100","2"…; ``pad_numeric_key=True`` zero-pads to the
    corpus-max key width so packing follows NUMERIC id order, with every
    invariant (conservation, bucketing-independence) intact.  ``order_col``
    packs by a different column under the same contract."""
    from recrun_spark.functions.pack import pack_blocks
    docs = spark.createDataFrame(
        [(i, i % 7, "w " * ((i * 13) % 9 + 1)) for i in range(1, 25)],
        ["doc_id", "grp_key", "text"])

    def starts(rows):
        # reconstruct each doc's global start offset from its first block
        s = {}
        for r in rows:
            pos = r["block_id"] * 8 + r["block_offset"]
            s[r["doc_id"]] = min(s.get(r["doc_id"], pos), pos)
        return s

    lex = starts(pack_blocks(docs, block_tokens=8).collect())
    num = starts(pack_blocks(docs, block_tokens=8,
                             pad_numeric_key=True).collect())
    # lexicographic: doc 10 packs before doc 2; numeric: after
    assert lex[10] < lex[2] and num[10] > num[2]
    # numeric order: start offsets strictly increase with doc_id
    order = [d for d, _ in sorted(num.items(), key=lambda kv: kv[1])]
    assert order == sorted(num)
    # bucketing stays a pure parallelism knob on the padded key too
    for plen in (1, 3):
        alt = starts(pack_blocks(docs, block_tokens=8, pad_numeric_key=True,
                                 bucket_prefix_len=plen).collect())
        assert alt == num, plen
    # order_col: duplicate grp_key values are NOT a valid sort key, but a
    # unique derived column is — pack by descending-id proxy (-doc_id,
    # padded won't apply: negative) via a string key
    from pyspark.sql import functions as FF
    docs2 = docs.withColumn("rk", FF.format_string("%03d", 25 - FF.col("doc_id")))
    rev = starts(pack_blocks(docs2, block_tokens=8, order_col="rk").collect())
    order_rev = [d for d, _ in sorted(rev.items(), key=lambda kv: kv[1])]
    assert order_rev == sorted(rev, reverse=True)


def test_pii_scrub_semantics(spark):
    """PII redaction: emails/IPv4s/phones replaced with typed tokens, IPs
    scrubbed before phones (a dotted phone-alike inside an IP never
    survives as a phone), non-PII digit runs untouched."""
    from recrun_spark.functions.text import pii_count, pii_scrub
    rows = spark.createDataFrame(
        [("a", "mail bob.smith+x@corp.example.org now"),
         ("b", "call 555-123-4567 or 555.987.6543 today"),
         ("c", "host 192.168.254.1 port 8080 build 12345"),
         ("d", "no pii here just words 99 and 2024")],
        ["id", "t"]).select(
        "id", pii_scrub(F.col("t")).alias("s"),
        pii_count(F.col("t"), "email").alias("ne"),
        pii_count(F.col("t"), "ip").alias("ni"),
        pii_count(F.col("t"), "phone").alias("np"))
    got = {r["id"]: (r["s"], r["ne"], r["ni"], r["np"])
           for r in rows.collect()}
    assert got["a"] == ("mail <EMAIL> now", 1, 0, 0)
    assert got["b"] == ("call <PHONE> or <PHONE> today", 0, 0, 2)
    assert got["c"] == ("host <IP> port 8080 build 12345", 0, 1, 0)
    assert got["d"] == ("no pii here just words 99 and 2024", 0, 0, 0)


def test_repetition_stats_flags_boilerplate(spark):
    """Repetition signals: a doc that repeats one phrase has a high
    top-2gram share and low distinct share; diverse text is the
    opposite; short/empty docs report zeros."""
    from recrun_spark.functions.text import repetition_stats
    docs = spark.createDataFrame(
        [("spam", "buy now " * 50),
         ("prose", "the quick brown fox jumps over one lazy dog today"),
         ("tiny", "word"),
         ("empty", "")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert got["spam"]["top_ngram_frac"] > 0.4          # 'buy now' dominates
    assert got["spam"]["uniq_ngram_frac"] < 0.1
    assert got["prose"]["top_ngram_frac"] < 0.2
    assert got["prose"]["uniq_ngram_frac"] == 1.0
    for d in ("tiny", "empty"):
        assert (got[d]["n_ngrams"], got[d]["top_ngram_frac"],
                got[d]["uniq_ngram_frac"]) == (0, 0.0, 0.0)


def test_stratified_sampling_rebalance(spark):
    """Per-stratum sampling: fractions apply per stratum, kept sets are
    NESTED across fractions (a row kept at 0.2 is kept at 0.5), and the
    default covers unlisted strata."""
    from recrun_spark.functions.sampling import hash_sample_stratified
    df = spark.range(3000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.element_at(F.array(F.lit("en"), F.lit("en"), F.lit("en"),
                             F.lit("de"), F.lit("fr")),
                     (F.col("id") % 5 + 1).cast("int")).alias("lang"))
    kept = hash_sample_stratified(df, {"de": 1.0, "en": 0.5}, "lang",
                                  default=0.2).collect()
    by_lang: dict = {}
    for r in kept:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    n = {"en": 1800, "de": 600, "fr": 600}
    assert len(by_lang["de"]) == n["de"]                    # 1.0: all kept
    assert abs(len(by_lang["en"]) / n["en"] - 0.5) < 0.05
    assert abs(len(by_lang["fr"]) / n["fr"] - 0.2) < 0.07   # default
    # nesting: the en-sample at 0.2 is a subset of the en-sample at 0.5
    kept02 = {r["doc_id"]
              for r in hash_sample_stratified(df, {"en": 0.2}, "lang")
              .collect()}
    assert kept02 <= by_lang["en"]


def test_pack_and_split_null_key_edges(spark):
    """Self-review r4 fixes: pack_blocks excludes NULL-keyed rows (and
    keeps the input id TYPE on the all-empty path), hash_split labels a
    NULL key with the LAST split (matching the oracle's ELSE), and
    hash_sample drops NULL keys."""
    from pyspark.sql.types import LongType

    from recrun_spark.functions.pack import pack_blocks
    from recrun_spark.functions.sampling import hash_sample, hash_split
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (None, "words here too"), (2, "")],
        "doc_id bigint, text string")
    rows = pack_blocks(docs, block_tokens=8).collect()
    assert {r["doc_id"] for r in rows} == {1}          # NULL + empty gone
    empty = pack_blocks(docs.where(F.col("doc_id") == 99), block_tokens=8)
    assert empty.count() == 0
    assert isinstance(empty.schema["doc_id"].dataType, LongType)
    assert [f.name for f in empty.schema.fields] == \
        ["doc_id", "n_tok", "block_id", "block_offset", "tokens_in_block"]

    labs = {r["doc_id"]: r["split"]
            for r in hash_split(docs, {"train": 0.5, "test": 0.5}).collect()}
    assert labs[None] == "test"                        # last split, not NULL
    assert all(v in ("train", "test") for v in labs.values())
    kept = {r["doc_id"] for r in hash_sample(docs, 1.0).collect()}
    assert None not in kept and kept == {1, 2}


def test_bloom_filter_properties(spark):
    """Bloom invariants: no false negatives for inserted keys, absent
    keys mostly rejected (false positives bounded), merge = position-set
    union, NULL keys excluded."""
    from recrun_spark.functions.sketch import (bloom_bits,
                                               bloom_might_contain)
    keys = [f"user{i}" for i in range(300)]
    df = spark.createDataFrame([(x,) for x in keys] + [(None,)],
                               "k string")
    pos = {r["pos"] for r in bloom_bits(df, "k").collect()}
    assert all(bloom_might_contain(pos, x) for x in keys)  # no false negs
    absent = [f"other{i}" for i in range(1000)]
    fp = sum(bloom_might_contain(pos, x) for x in absent) / len(absent)
    assert fp < 0.05, fp        # ~(1-e^{-6*300/16384})^6 ≈ 1e-6 expected

    a = df.where(F.col("k") < "user2")
    b = df.where(F.col("k") >= "user2")
    merged = {r["pos"] for r in
              bloom_bits(a, "k").union(bloom_bits(b, "k"))
              .distinct().collect()}
    assert merged == pos

    no_null = spark.createDataFrame([(x,) for x in keys], "k string")
    assert {r["pos"] for r in bloom_bits(no_null, "k").collect()} == pos


def test_bfs_distances_semantics(spark):
    """Frontier BFS: exact hop distances on a path, directed edges
    honored, multi-source takes the nearest seed, unreachable nodes
    absent, max_hops truncates, and the frontier drain short-circuits
    without changing the result."""
    from recrun_spark.operators import bfs_distances, release_caches
    import pytest
    path = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")]
    e = spark.createDataFrame(path, ["src", "dst"])
    sym = e.union(e.selectExpr("dst as src", "src as dst"))
    seeds = spark.createDataFrame([("a",)], ["node"])

    got = {r["node"]: r["dist"]
           for r in bfs_distances(sym, seeds, max_hops=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}  # e beyond 3; x,y apart

    # directed: no way back up the chain from c
    fwd = {r["node"]: r["dist"]
           for r in bfs_distances(
               e, spark.createDataFrame([("c",)], ["node"]),
               max_hops=4).collect()}
    assert fwd == {"c": 0, "d": 1, "e": 2}

    # multi-source min; max_hops far beyond the diameter terminates early
    two = spark.createDataFrame([("a",), ("e",)], ["node"])
    out = bfs_distances(sym, two, max_hops=50)
    got2 = {r["node"]: r["dist"] for r in out.collect()}
    assert got2 == {"a": 0, "e": 0, "b": 1, "d": 1, "c": 2}
    release_caches(out)

    # isolated seed still reported at dist 0
    lone = spark.createDataFrame([("zz",)], ["node"])
    assert ({r["node"]: r["dist"]
             for r in bfs_distances(sym, lone, max_hops=2).collect()}
            == {"zz": 0})
    with pytest.raises(ValueError):
        bfs_distances(sym, seeds, max_hops=-1)


def test_triangle_counts_semantics(spark):
    """Degree-oriented triangle counting: hand-checked shapes plus a
    brute-force cross-check on a ring-with-chords graph (every triangle
    counted once per incident node, zeros included, input direction and
    duplicate edges irrelevant)."""
    from itertools import combinations
    from recrun_spark.operators import release_caches, triangle_counts

    tri_plus_pendant = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
         ("b", "a")],  # reversed duplicate must not change anything
        ["src", "dst"])
    got = {r["node"]: r["n_triangles"]
           for r in triangle_counts(tri_plus_pendant).collect()}
    assert got == {"a": 1, "b": 1, "c": 1, "d": 0}

    k4 = spark.createDataFrame(
        [(u, v) for u, v in combinations("abcd", 2)], ["src", "dst"])
    assert ({r["node"]: r["n_triangles"]
             for r in triangle_counts(k4).collect()}
            == {c: 3 for c in "abcd"})

    # ring with chords 1..12, deltas {1,2,3} — brute-force parity
    edges = [(u, u + d) for u in range(1, 13) for d in (1, 2, 3)
             if u + d <= 12]
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want = {n: sum(1 for v, w in combinations(sorted(adj[n]), 2)
                   if w in adj.get(v, ()))
            for n in adj}
    out = triangle_counts(
        spark.createDataFrame(edges, ["src", "dst"]))
    got = {r["node"]: r["n_triangles"] for r in out.collect()}
    assert got == want
    release_caches(out)


def test_neighborhood_jaccard_semantics(spark):
    """Inverted-index neighborhood Jaccard: integer (common, union,
    scaled quotient) match a brute-force python computation; pairs below
    min_intersection are absent; node_a < node_b."""
    from itertools import combinations
    from recrun_spark.operators import neighborhood_jaccard, release_caches
    edges = [("d1", "A"), ("d1", "B"), ("d1", "C"),
             ("d2", "A"), ("d2", "B"),
             ("d3", "B"), ("d3", "C"),
             ("d4", "Z")]
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want = {}
    for a, b in combinations(sorted(adj), 2):
        inter = len(adj[a] & adj[b])
        if inter >= 1:
            uni = len(adj[a] | adj[b])
            want[(a, b)] = (inter, uni, 10 ** 6 * inter // uni)
    out = neighborhood_jaccard(
        spark.createDataFrame(edges, ["src", "dst"]), min_intersection=1)
    got = {(r["node_a"], r["node_b"]):
           (r["n_common"], r["n_union"], r["jaccard_scaled"])
           for r in out.collect()}
    assert got == want
    release_caches(out)

    strict = neighborhood_jaccard(
        spark.createDataFrame(edges, ["src", "dst"]), min_intersection=2)
    got2 = {(r["node_a"], r["node_b"]) for r in strict.collect()}
    assert got2 == {p for p, (i, _, _) in want.items() if i >= 2}
    release_caches(strict)


def test_tfidf_top_terms_semantics(spark):
    """Integer-surrogate TF-IDF: scores match a brute-force python
    computation, ties break (score desc, term asc), whitespace-only docs
    neither rank nor count toward N, k is validated."""
    import pytest
    from recrun_spark.functions.text import tfidf_top_terms
    corpus = {1: "apple banana apple", 2: "banana cherry",
              3: "apple cherry date date", 4: "   "}
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    toks = {d: t.split() for d, t in corpus.items() if t.split()}
    n = len(toks)
    df_ = {}
    for t in {w for ws in toks.values() for w in ws}:
        df_[t] = sum(1 for ws in toks.values() if t in ws)
    want = {}
    for d, ws in toks.items():
        scored = sorted(
            ((ws.count(t) * ((10 ** 6 * n) // df_[t]), t)
             for t in set(ws)),
            key=lambda st: (-st[0], st[1]))[:2]
        want[d] = [(t, s) for s, t in scored]
    out = tfidf_top_terms(docs, k=2)
    got = {}
    for r in sorted(out.collect(), key=lambda r: (r["doc_id"], r["rank"])):
        got.setdefault(r["doc_id"], []).append((r["term"], r["score"]))
        assert r["df"] == df_[r["term"]]
    assert got == want
    with pytest.raises(ValueError):
        tfidf_top_terms(docs, k=0)


def test_duplicated_spans_semantics(spark):
    """ExactSubstr profile: shared n-token runs count window-for-window
    (brute-force parity), within-doc self-repetition alone does NOT mark
    a span duplicated, short docs report 0/0, NULL ids drop."""
    import pytest
    from recrun_spark.functions.dedup import duplicated_spans
    shared = "w1 w2 w3 w4"
    corpus = {1: f"a b {shared} c d",
              2: f"x {shared} y z",
              3: "p q r s t u v w",           # no overlap
              4: "rep rep rep rep rep rep",    # self-repetition only
              5: "too short"}                  # < n tokens
    docs = spark.createDataFrame(
        list(corpus.items()) + [(None, shared)], ["doc_id", "text"])
    n = 4
    wins = {d: [" ".join(t.split()[i:i + n])
                for i in range(len(t.split()) - n + 1)]
            for d, t in corpus.items() if len(t.split()) >= n}
    span_docs: dict = {}
    for d, ws in wins.items():
        for w in ws:
            span_docs.setdefault(w, set()).add(d)
    dup = {w for w, ds in span_docs.items() if len(ds) >= 2}
    want = {d: (len(wins.get(d, [])),
                sum(1 for w in wins.get(d, []) if w in dup))
            for d in corpus}
    got = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
           for r in duplicated_spans(docs, n=n, min_docs=2).collect()}
    assert got == want
    assert want[1][1] == 1 and want[2][1] == 1   # exactly the shared run
    assert want[4] == (3, 0)                     # self-repeat not flagged
    assert want[5] == (0, 0)
    with pytest.raises(ValueError):
        duplicated_spans(docs, n=0)
    with pytest.raises(ValueError):
        duplicated_spans(docs, min_docs=1)


def test_ngram_counts_semantics(spark):
    """Pruned LM counts: multiplicity-counted n-grams match brute force,
    min_count prunes, short/whitespace docs contribute nothing."""
    import pytest
    from collections import Counter
    from recrun_spark.functions.text import ngram_counts
    corpus = ["the cat sat on the mat",
              "the cat sat quietly",
              "THE CAT sat on a log",
              "  ", "one two"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], ["doc_id", "text"])
    n = 2
    cnt = Counter()
    for t in corpus:
        ws = t.lower().split()
        if len(ws) >= n:
            cnt.update(" ".join(ws[i:i + n])
                       for i in range(len(ws) - n + 1))
    for mc in (1, 2, 3):
        want = {g: c for g, c in cnt.items() if c >= mc}
        got = {r["ngram"]: r["n_occurrences"]
               for r in ngram_counts(docs, n=n, min_count=mc).collect()}
        assert got == want, mc
    assert cnt["the cat"] == 3 and cnt["cat sat"] == 3  # fixture sanity
    with pytest.raises(ValueError):
        ngram_counts(docs, n=0)


def test_kcore_semantics(spark):
    """Iterative peeling: a K5 with a pendant chain keeps exactly the
    clique at k=4 with core degrees 4; a deep cascade (path graph at
    k=2) peels from both ends to emptiness over many rounds; results
    match a brute-force python peeler on a mixed graph; k validation."""
    from itertools import combinations
    import pytest
    from recrun_spark.operators import kcore

    k5 = [(f"c{i}", f"c{j}") for i, j in combinations(range(5), 2)]
    chain = [("c0", "p1"), ("p1", "p2"), ("p2", "p3")]
    got = {r["node"]: r["core_deg"]
           for r in kcore(spark.createDataFrame(k5 + chain,
                                                ["src", "dst"]),
                          k=4).collect()}
    assert got == {f"c{i}": 4 for i in range(5)}

    # path: every node has deg <= 2; k=2 interior survives round 1 but
    # the cascade unzips from both ends — empty fixpoint, many rounds
    path = [(i, i + 1) for i in range(20)]
    assert kcore(spark.createDataFrame(path, ["src", "dst"]),
                 k=2).count() == 0
    # ...while a cycle IS its own 2-core
    cycle = path + [(20, 0)]
    got = {r["node"]: r["core_deg"]
           for r in kcore(spark.createDataFrame(cycle,
                                                ["src", "dst"]),
                          k=2).collect()}
    assert got == {i: 2 for i in range(21)}

    def brute(edges, k):
        adj = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        while True:
            drop = {n for n, ns in adj.items() if len(ns) < k}
            if not drop:
                return {n: len(ns) for n, ns in adj.items()}
            adj = {n: ns - drop for n, ns in adj.items() if n not in drop}

    mixed = (k5 + chain + [("p3", "c1"), ("x", "y"), ("y", "z"),
                           ("z", "x"), ("z", "c0")])
    for k in (2, 3, 4, 5):
        got = {r["node"]: r["core_deg"]
               for r in kcore(spark.createDataFrame(
                   mixed, ["src", "dst"]), k=k).collect()}
        assert got == brute(mixed, k), k
    with pytest.raises(ValueError):
        kcore(spark.createDataFrame(k5, ["src", "dst"]), k=0)


def test_jaccard_pairs_prefix_complete_and_equal(spark):
    """Prefix filtering loses NOTHING: pairs equal both a brute-force
    python Jaccard over the shingle sets and jaccard_pairs with the
    df-cut disabled, across thresholds (including ones where t·|x| lands
    exactly on an integer — the float-ceil trap the integer prefix
    arithmetic exists for)."""
    from itertools import combinations
    from recrun_spark.functions.dedup import (jaccard_pairs,
                                              jaccard_pairs_prefix)
    from recrun_spark.operators import release_caches
    base = "the quick brown fox jumps over the lazy dog near the red barn"
    corpus = {
        1: base,
        2: base + " tonight",                        # near-dup of 1
        3: "the quick brown fox sleeps under the old oak tree all day",
        4: "completely different text about spark shuffles and joins ok",
        5: base,                                      # exact dup of 1
        6: "one two",                                 # < n tokens
        7: "one two",                                 # whole-doc shingle dup
    }
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])

    def sh_set(t):
        ws = t.lower().split()
        return (set(" ".join(ws[i:i + 3]) for i in range(len(ws) - 2))
                if len(ws) >= 3 else {" ".join(ws)})

    for t in (0.25, 0.30, 0.5, 1.0):
        want = {}
        for a, b in combinations(sorted(corpus), 2):
            sa, sb = sh_set(corpus[a]), sh_set(corpus[b])
            j = len(sa & sb) / len(sa | sb)
            if round(j, 6) >= t:
                want[(a, b)] = round(j, 6)
        out = jaccard_pairs_prefix(docs, threshold=t)
        got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
               for r in out.collect()}
        release_caches(out)
        assert got == want, t
        ref = jaccard_pairs(docs, threshold=t,
                            max_shingle_freq=10 ** 9)
        got_ref = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                   for r in ref.collect()}
        release_caches(ref)
        assert got == got_ref, t


def test_lm_coverage_semantics(spark):
    """lm_coverage == a brute-force python pruned-head coverage: head =
    corpus trigrams with total multiplicity >= min_count (a doc's own
    repeats count toward the threshold, as in a corpus-trained pruned
    LM); coverage in floor basis points; short/empty docs 0/0/NULL;
    NULL doc_id excluded."""
    from recrun_spark.functions.text import lm_coverage

    rows = [(1, "a b c a b c a b c"),
            (2, "a b c x y z"),
            (3, "q"),
            (4, "   "),
            (None, "a b c a b c")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def grams(text, n=3):
        t = text.lower().split()
        return [" ".join(t[i:i + n]) for i in range(len(t) - n + 1)]

    for mc in (2, 3, 5):
        from collections import Counter
        corpus = Counter(g for d, tx in rows if d is not None
                         for g in grams(tx))
        head = {g for g, c in corpus.items() if c >= mc}
        want = {}
        for d, tx in rows:
            if d is None:
                continue
            gs = grams(tx)
            hits = sum(1 for g in gs if g in head)
            want[d] = (len(gs), hits,
                       (10000 * hits) // len(gs) if gs else None)
        got = {r["doc_id"]: (r["n_ngrams"], r["n_in_head"],
                             r["coverage_bp"])
               for r in lm_coverage(df, n=3, min_count=mc).collect()}
        assert got == want, (mc, got, want)


def test_scd2_merge_semantics(spark):
    """scd2_merge branch table: changed attrs -> close + reopen; identical
    attrs (incl. NULL == NULL, null-safe) -> pass through unversioned;
    unseen key -> new open version; no update -> pass through; history
    rows untouched; attr_cols validation."""
    import datetime

    import pytest
    from recrun_spark.operators import scd2_merge

    def ts(d):
        return datetime.datetime(2024, 1, d)

    dim = spark.createDataFrame(
        [(1, "a0", ts(1), ts(5), False),      # history: untouched
         (1, "a", ts(5), None, True),         # open, update changes it
         (2, "b", ts(1), None, True),         # open, identical update
         (3, None, ts(1), None, True),        # open NULL attr, NULL update
         (4, "d", ts(1), None, True)],        # open, no update
        "key int, attr string, valid_from timestamp, "
        "valid_to timestamp, is_current boolean")
    upd = spark.createDataFrame(
        [(1, "a2", ts(9)), (2, "b", ts(9)), (3, None, ts(9)),
         (5, "e", ts(9))],
        "key int, attr string, as_of timestamp")
    got = sorted((r["key"], r["attr"], r["valid_from"], r["valid_to"],
                  r["is_current"])
                 for r in scd2_merge(dim, upd, "key", ["attr"]).collect())
    assert got == sorted([
        (1, "a0", ts(1), ts(5), False),
        (1, "a", ts(5), ts(9), False),        # closed at as_of
        (1, "a2", ts(9), None, True),         # reopened
        (2, "b", ts(1), None, True),          # no spurious version
        (3, None, ts(1), None, True),         # NULL == NULL passes through
        (4, "d", ts(1), None, True),
        (5, "e", ts(9), None, True)])         # new key

    with pytest.raises(ValueError):
        scd2_merge(dim, upd, "key", [])


def test_temperature_rebalance_semantics(spark):
    """temperature_rebalance == a brute-force python mirror (math.isqrt,
    md5 hash, exact rational keep rule) on a skewed corpus; the tail
    group keeps everything, the head is downsampled toward its sqrt
    share; NULL key/group rows excluded; isqrt correction is exact on
    perfect squares and their neighbors."""
    import hashlib
    import math

    from recrun_spark.functions.sampling import temperature_rebalance

    rows = ([(i, "en") for i in range(1000)]
            + [(1000 + i, "fr") for i in range(100)]
            + [(1100 + i, "is") for i in range(4)]
            + [(2000, None), (None, "en")])
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    T = 300
    counts = {"en": 1000, "fr": 100, "is": 4}
    s = {g: math.isqrt(c) for g, c in counts.items()}
    S = sum(s.values())
    tgt = {g: min(counts[g], (T * s[g]) // S) for g in counts}

    def h60(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    want = sorted(
        (i, g, counts[g], tgt[g]) for i, g in rows
        if i is not None and g is not None
        and (h60(i) >> 30) * counts[g] < tgt[g] * (1 << 30))
    got = sorted(tuple(r) for r in
                 temperature_rebalance(df, T, group_col="lang",
                                       key_col="doc_id").collect())
    assert got == want
    kept = {g: sum(1 for r in got if r[1] == g) for g in counts}
    assert kept["is"] == 4              # tail keeps everything
    assert kept["en"] < 300             # head well under its raw count


def test_funnel_strict_order_semantics(spark):
    """Funnel qualification is row-strict: a stage-k event counts only if a
    QUALIFYING stage-(k-1) event precedes it in (ts, event_id) order.
    Pins the three edge cases a naive min-ts-per-stage gets wrong:
    out-of-order chains, same-ts tiebreaks, and purchase-before-click."""
    from recrun_spark.functions.events import funnel_stages

    rows = [
        # u1: clean view -> click -> purchase
        (1, 1, "view"), (1, 2, "click"), (1, 3, "purchase"),
        # u2: purchase BEFORE click -> reaches click only
        (2, 1, "view"), (2, 2, "purchase"), (2, 3, "click"),
        # u3: click before any view -> reaches view only
        (3, 1, "click"), (3, 2, "view"),
        # u4: same ts, event_id tiebreak makes view precede click
        (4, 1, "view"), (4, 1, "click"),  # event_id 8 < 9 below
        # u5: never views
        (5, 1, "signup"),
    ]
    import datetime
    base = datetime.datetime(2024, 1, 1)
    data = [(uid, base + datetime.timedelta(minutes=t), eid, et)
            for eid, (uid, t, et) in enumerate(rows)]
    df = spark.createDataFrame(
        data, ["user_id", "ts", "event_id", "event_type"])
    out = {(r.stage_idx, r.stage): r.n_users
           for r in funnel_stages(df, ["view", "click", "purchase"])
           .collect()}
    # view: u1 u2 u3 u4; click-after-view: u1 u2 u4; purchase-after: u1
    assert out == {(0, "view"): 4, (1, "click"): 3, (2, "purchase"): 1}


def test_retention_cohorts_semantics(spark):
    """Cohort day = day of first event; offsets are calendar-day diffs;
    multiple events on one day count the user once."""
    from recrun_spark.functions.events import retention_cohorts
    import datetime

    def ts(d, h=0):
        return datetime.datetime(2024, 1, d, h)

    data = [
        (1, ts(1)), (1, ts(1, 23)), (1, ts(3)),      # cohort 1/1: off 0,2
        (2, ts(1, 5)), (2, ts(2)),                   # cohort 1/1: off 0,1
        (3, ts(2)),                                  # cohort 1/2: off 0
    ]
    df = spark.createDataFrame(data, ["user_id", "ts"])
    got = {(str(r.cohort_day), r.day_offset): r.n_users
           for r in retention_cohorts(df).collect()}
    assert got == {
        ("2024-01-01", 0): 2, ("2024-01-01", 1): 1, ("2024-01-01", 2): 1,
        ("2024-01-02", 0): 1,
    }


def test_hdr_histogram_properties(spark):
    """HDR quantile sketch invariants: cell-exact merge (hist(A) ⊎
    hist(B) == hist(A∪B)), count conservation, exact small-value region
    (lo == hi == v below 2^k), the <= 2^-k relative bucket width, the
    quantile bracket guarantee (q_lo <= exact r-th value <= q_hi for
    every group and percent), and NULL/negative exclusion."""
    import math
    from recrun_spark.functions.sketch import (HDR_SUB_BITS, hdr_histogram,
                                               hdr_quantiles)
    import random
    rng = random.Random(20260817)
    rows = [("g1", rng.lognormvariate(3, 1.5)) for _ in range(4000)] \
        + [("g2", rng.uniform(0.0, 0.2)) for _ in range(500)] \
        + [("g2", None), ("g2", -5.0)]
    df = spark.createDataFrame(rows, "grp string, value double")
    hist = hdr_histogram(df, "value", group_cols=["grp"]).collect()
    k = HDR_SUB_BITS

    # conservation: every non-null, non-negative row lands in one bucket
    assert sum(r["cnt"] for r in hist) == 4000 + 500

    # bucket geometry: exact region + bounded relative width
    for r in hist:
        if r["bucket"] < (1 << k):
            assert r["lo"] == r["hi"] == r["bucket"]
        else:
            assert r["hi"] - r["lo"] <= r["lo"] / (1 << k)
            assert r["lo"] <= r["hi"]

    # merge: per-partition sketches sum cell-for-cell to the full sketch
    a = df.limit(2000)
    b = df.subtract(a)
    merged = (hdr_histogram(a, "value", group_cols=["grp"])
              .unionByName(hdr_histogram(b, "value", group_cols=["grp"]))
              .groupBy("grp", "bucket")
              .agg(F.min("lo").alias("lo"), F.min("hi").alias("hi"),
                   F.sum("cnt").alias("cnt")))
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, hist))

    # quantile bracket: the exact r-th smallest scaled value lies in
    # [q_lo, q_hi] for every group and percent
    hist_df = hdr_histogram(df, "value", group_cols=["grp"])
    q = hdr_quantiles(hist_df, [10, 50, 90, 99], group_cols=["grp"])
    by_grp = {}
    for grp, v in rows:
        if v is not None and math.floor(v * 100) >= 0:
            by_grp.setdefault(grp, []).append(math.floor(v * 100))
    for g in by_grp:
        by_grp[g].sort()
    for r in q.collect():
        vals = by_grp[r["grp"]]
        rank = -(-r["p"] * len(vals) // 100)          # ceil
        exact = vals[rank - 1]
        assert r["q_lo"] <= exact <= r["q_hi"], \
            (r["grp"], r["p"], r["q_lo"], exact, r["q_hi"])


def test_hdr_histogram_validation(spark):
    from recrun_spark.functions.sketch import hdr_histogram, hdr_quantiles
    import pytest
    df = spark.createDataFrame([(1.0,)], "value double")
    with pytest.raises(ValueError):
        hdr_histogram(df, "value", sub_bits=0)
    with pytest.raises(ValueError):
        hdr_quantiles(hdr_histogram(df, "value"), [0])
    with pytest.raises(ValueError):
        hdr_quantiles(hdr_histogram(df, "value"), [50.5])  # non-integer


def test_zorder_key_properties(spark):
    """Morton-key invariants: exact bijectivity on random in-range pairs
    (decode(key) == inputs), monotonicity in each coordinate with the
    other fixed, interleave positions (bit i of col j at i*N+j), and the
    validation guards."""
    import random
    import pytest
    from recrun_spark.functions.layout import (zorder_decode, zorder_key,
                                               zorder_layout)
    rng = random.Random(7)
    mask = (1 << 21) - 1
    pairs = [(rng.randrange(0, mask + 1), rng.randrange(0, mask + 1))
             for _ in range(500)] + [(0, 0), (mask, mask), (0, mask)]
    df = spark.createDataFrame(pairs, "x bigint, y bigint")
    keyed = df.withColumn("zkey", zorder_key(["x", "y"]))
    rx, ry = zorder_decode("zkey", 2)
    out = keyed.select("x", "y", "zkey", rx.alias("rx"), ry.alias("ry")) \
        .collect()
    for r in out:
        assert (r["rx"], r["ry"]) == (r["x"], r["y"])
        # reference interleave in python
        ref = sum((((r["x"] >> i) & 1) << (2 * i))
                  + (((r["y"] >> i) & 1) << (2 * i + 1)) for i in range(21))
        assert r["zkey"] == ref

    # monotone in each coordinate (other fixed)
    fixed = [(x, 12345) for x in range(0, 2000, 7)]
    ks = [r["zkey"] for r in
          spark.createDataFrame(fixed, "x bigint, y bigint")
          .withColumn("zkey", zorder_key(["x", "y"]))
          .orderBy("x").collect()]
    assert ks == sorted(ks) and len(set(ks)) == len(ks)

    with pytest.raises(ValueError):
        zorder_key([])
    with pytest.raises(ValueError):
        zorder_key(["a", "b", "c", "d"], bits=16)   # 64 bits > 63

    # layout: range-partitioned on the key -> partitions carry DISJOINT
    # z-ranges (the property min/max pruning relies on)
    laid = zorder_layout(df, ["x", "y"], num_partitions=8)
    spans = (laid.groupBy(F.spark_partition_id().alias("pid"))
             .agg(F.min("_zkey").alias("lo"), F.max("_zkey").alias("hi"))
             .orderBy("lo").collect())
    for a, b in zip(spans, spans[1:]):
        assert a["hi"] <= b["lo"]


def test_label_propagation_semantics(spark):
    """Synchronous LPA: two disjoint triangles each converge to their
    min-label community; ties break to the SMALLEST label (a node seeing
    one 'a' and one 'z' neighbor takes 'a'); a source-only node (no
    in-edges) keeps its own label; results are bit-identical across
    repartitionings."""
    from recrun_spark.operators import label_propagation, release_caches

    def sym(pairs):
        return pairs + [(b, a) for a, b in pairs]

    tri2 = spark.createDataFrame(
        sym([("a", "b"), ("b", "c"), ("c", "a"),
             ("x", "y"), ("y", "z"), ("z", "x")]), ["src", "dst"])
    got = {r["node"]: r["label"]
           for r in label_propagation(tri2, iterations=5).collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "x": "x", "y": "x", "z": "x"}

    # tie-break: d's in-neighbors are a and z (one vote each) -> 'a'
    tie = spark.createDataFrame(
        sym([("a", "d"), ("z", "d")]), ["src", "dst"])
    tied = {r["node"]: r["label"]
            for r in label_propagation(tie, iterations=1).collect()}
    assert tied["d"] == "a"

    # a node with no in-edges keeps its own label every round
    src_only = spark.createDataFrame([("solo", "b")], ["src", "dst"])
    so = {r["node"]: r["label"]
          for r in label_propagation(src_only, iterations=3).collect()}
    assert so["solo"] == "solo"

    out = label_propagation(tri2.repartition(7), iterations=5)
    assert {r["node"]: r["label"] for r in out.collect()} == got
    release_caches(out)

    with pytest.raises(ValueError):
        label_propagation(tri2, iterations=0)


def test_skyline2d_vs_bruteforce(spark):
    """skyline2d == the O(n²) dominance definition on a corpus that hits
    every edge: duplicate frontier points (both survive), same-x ties
    (only the min-y rows), a bucket boundary, and a dominated run."""
    import itertools

    from recrun_spark.operators import release_caches, skyline2d
    pts = [(1, 10, 5.0), (2, 10, 5.0), (3, 10, 7.0),   # dup frontier + tie
           (4, 12, 4.0), (5, 12, 9.0),
           (6, 300, 3.5), (7, 300, 3.5),               # next bucket (w=256)
           (8, 310, 3.5),                              # dominated by x=300
           (9, 320, 1.0), (10, 330, 2.0)]              # 10 dominated by 9
    df = spark.createDataFrame(pts, ["id", "x", "y"])

    def dominated(q):
        return any(p[1] <= q[1] and p[2] <= q[2]
                   and (p[1] < q[1] or p[2] < q[2]) for p in pts if p != q)

    # exact duplicates: dominated() treats the twin as "other" but strict-
    # somewhere fails, so both survive — mirror that
    expect = {p[0] for p in pts if not dominated(p)}
    out = skyline2d(df, "x", "y", bucket_width=256)
    got = {r["id"] for r in out.collect()}
    assert got == expect == {1, 2, 4, 6, 7, 9}
    release_caches(out)

    # randomized cross-check, bucket width forcing many buckets
    import random
    rng = random.Random(4242)
    pts = [(i, rng.randrange(0, 50), float(rng.randrange(0, 20)))
           for i in range(200)]
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    expect = {p[0] for p in pts if not dominated(p)}
    out = skyline2d(df, "x", "y", bucket_width=8)
    assert {r["id"] for r in out.collect()} == expect
    release_caches(out)

    with pytest.raises(ValueError):
        skyline2d(df, "x", "y", bucket_width=0)


def test_bm25_topk_semantics(spark):
    """Integer BM25: a doc with more query-term hits outranks one with
    fewer (equal lengths); a rarer term contributes a larger idf than a
    common one; longer documents are penalized at equal tf; ranks are
    1..k with deterministic ties."""
    from recrun_spark.functions.text import bm25_topk
    docs = spark.createDataFrame(
        [(1, "spark spark filler words here"),
         (2, "spark filler words here pad"),
         (3, "filler words only here pad"),
         (4, "spark " + "pad " * 20)],
        ["doc_id", "text"])
    out = bm25_topk(docs, ["spark"], k=10).collect()
    ranks = {r["doc_id"]: r["rank"] for r in out}
    scores = {r["doc_id"]: r["score"] for r in out}
    assert 3 not in ranks                      # no hit, no row
    assert ranks[1] == 1                       # tf=2 beats tf=1
    assert scores[2] > scores[4]               # same tf, shorter doc wins

    # rarer term -> larger idf -> larger single-hit contribution
    docs2 = spark.createDataFrame(
        [(1, "common rare"), (2, "common x"), (3, "common y")],
        ["doc_id", "text"])
    both = {r["doc_id"]: r["score"]
            for r in bm25_topk(docs2, ["common", "rare"], k=10).collect()}
    only_common = {r["doc_id"]: r["score"]
                   for r in bm25_topk(docs2, ["common"], k=10).collect()}
    assert both[1] - only_common[1] > only_common[1]  # rare >> common idf

    with pytest.raises(ValueError):
        bm25_topk(docs, [], k=10)
    with pytest.raises(ValueError):
        bm25_topk(docs, ["spark"], k=0)


def test_fuzzy_token_match_vs_bruteforce(spark):
    """SymSpell deletion-join == brute-force levenshtein<=1, including the
    distance-2 shared-deletion false candidate ('ab'/'ba') the verify
    must reject, plus substitution/insert/delete hits and length gates."""
    from recrun_spark.functions.text import fuzzy_token_match
    docs = spark.createDataFrame(
        [(1, "spark sprak spak sparkk stream steam dream ab "
             "x abcdefghijklmnopqrstuvwxyz hash cash hashh")],
        ["doc_id", "text"])
    aliases = spark.createDataFrame(
        [("spark", "E"), ("stream", "E2"), ("hash", "E3"), ("ba", "E4")],
        ["alias", "entity"])
    got = {(r["token"], r["alias"]): r["dist"]
           for r in fuzzy_token_match(docs, aliases).collect()}

    def lev(a, b):
        import functools
        @functools.lru_cache(None)
        def d(i, j):
            if not i or not j:
                return i or j
            return min(d(i - 1, j) + 1, d(i, j - 1) + 1,
                       d(i - 1, j - 1) + (a[i - 1] != b[j - 1]))
        return d(len(a), len(b))

    toks = [t for t in ("spark sprak spak sparkk stream steam dream ab x "
                        "abcdefghijklmnopqrstuvwxyz hash cash hashh"
                        ).split() if 2 <= len(t) <= 20]
    expect = {(t, a): lev(t, a)
              for t in set(toks) for a in ("spark", "stream", "hash", "ba")
              if lev(t, a) <= 1}
    assert got == expect
    assert ("ab", "ba") not in got       # dist-2 false candidate rejected
    assert ("sprak", "spark") not in got  # transposition = unit-cost 2
    assert got[("spak", "spark")] == 1    # deletion
    assert got[("sparkk", "spark")] == 1  # insertion
    assert got[("cash", "hash")] == 1     # substitution
    assert got[("spark", "spark")] == 0   # exact hit carried
    assert ("x", "spark") not in got      # below min length


def test_sssp_semantics(spark):
    """Bellman-Ford rounds: exact min path costs on a weighted diamond,
    parallel edges reduce to min, round-k horizon = <=k-edge paths,
    repartition bit-equality, guards."""
    from recrun_spark.operators import release_caches, sssp
    edges = spark.createDataFrame(
        [("a", "b", 1), ("a", "c", 10), ("b", "c", 1),
         ("c", "d", 1), ("a", "b", 5),          # parallel a->b keeps 1
         ("e", "a", 2)],                        # e unreachable FROM a
        ["src", "dst", "w"])
    got = {r["node"]: r["dist"] for r in sssp(edges, ["a"], rounds=4).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}

    # horizon: after 1 round only <=1-edge paths exist
    one = {r["node"]: r["dist"] for r in sssp(edges, ["a"], rounds=1).collect()}
    assert one == {"a": 0, "b": 1, "c": 10}

    # multi-source: min over sources
    multi = {r["node"]: r["dist"]
             for r in sssp(edges, ["a", "e"], rounds=4).collect()}
    assert multi["a"] == 0 and multi["e"] == 0 and multi["b"] == 1

    out = sssp(edges.repartition(7), ["a"], rounds=4)
    assert {r["node"]: r["dist"] for r in out.collect()} == got
    release_caches(out)

    with pytest.raises(ValueError):
        sssp(edges, ["a"], rounds=0)
    with pytest.raises(ValueError):
        sssp(edges, [], rounds=2)


def test_resample_ffill_semantics(spark):
    """Grid completeness over gaps, forward fill carries the LAST event
    of a bucket ((ts, event_id) order), filled flags, span guard."""
    import datetime as dt

    from recrun_spark.functions.events import resample_ffill
    H = 3_600_000_000
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(h, m=0):
        return t0 + dt.timedelta(hours=h, minutes=m)

    ev = spark.createDataFrame(
        [(1, ts(0, 10), 7, 1.5), (2, ts(0, 50), 7, 2.5),   # same bucket:
         (3, ts(0, 50), 7, 3.5),                            # ties on ts ->
                                                            # event_id 3 wins
         (4, ts(3, 0), 7, 9.0),                             # gap hours 1-2
         (5, ts(1, 0), 8, 4.0)],                            # second user
        ["event_id", "ts", "user_id", "value"])
    base = 1704067200 * 1_000_000
    rows = {(r["user_id"], r["bucket_start_us"]):
            (r["value"], r["filled"])
            for r in resample_ffill(ev).collect()}
    assert rows[(7, base + 0 * H)] == (3.5, False)   # last event in bucket
    assert rows[(7, base + 1 * H)] == (3.5, True)    # carried
    assert rows[(7, base + 2 * H)] == (3.5, True)
    assert rows[(7, base + 3 * H)] == (9.0, False)
    assert rows[(8, base + 1 * H)] == (4.0, False)
    assert len(rows) == 5

    # span guard raises loudly instead of exploding a huge grid
    wide = spark.createDataFrame(
        [(1, ts(0), 9, 1.0), (2, ts(10), 9, 2.0)],
        ["event_id", "ts", "user_id", "value"])
    with pytest.raises(Exception, match="max_steps"):
        resample_ffill(wide, max_steps=5).collect()
    with pytest.raises(ValueError):
        resample_ffill(ev, step_us=0)


def test_global_rank_vs_sort(spark):
    """Two-phase global rank == a driver-side full sort, across bucket
    prefixes of different granularity; NULL keys excluded; empty input."""
    import random

    from recrun_spark.operators import global_rank, release_caches
    rng = random.Random(99)
    keys = [f"{rng.randrange(16):x}{rng.randrange(10 ** 6):06d}"
            for _ in range(300)]
    keys = list(dict.fromkeys(keys))        # unique (contract)
    df = spark.createDataFrame([(k, i) for i, k in enumerate(keys)],
                               ["k", "payload"])
    expect = {k: r for r, k in enumerate(sorted(keys))}
    for plen in (1, 2, 5):
        out = global_rank(df, "k", bucket_prefix_len=plen)
        got = {r["k"]: r["rank"] for r in out.collect()}
        assert got == expect
        release_caches(out)

    withnull = df.unionByName(
        spark.createDataFrame([(None, -1)], df.schema))
    out = global_rank(withnull, "k")
    assert {r["k"]: r["rank"] for r in out.collect()} == expect
    release_caches(out)

    assert global_rank(df.where(F.lit(False)), "k").count() == 0
    with pytest.raises(ValueError):
        global_rank(df, "k", bucket_prefix_len=0)


def test_ancestor_closure_semantics(spark):
    """Pointer doubling == the naive transitive walk on a 3-level forest;
    exact depths; log-round convergence (height 8 closes in <= 4
    compositions = max_rounds 5 suffices, 2 does not for height 8);
    cycle detection raises."""
    from recrun_spark.operators import ancestor_closure

    edges = spark.createDataFrame(
        [(c, c // 10) for c in [1, 5, 12, 19, 123, 125, 57, 999]],
        ["child", "parent"])
    got = {(r["node"], r["anc"]): r["dist"]
           for r in ancestor_closure(edges).collect()}
    parent = {c: c // 10 for c in [1, 5, 12, 19, 123, 125, 57, 999]}
    expect = {}
    for c in parent:
        node, d = c, 0
        while node in parent:
            node, d = parent[node], d + 1
            expect[(c, node)] = d
            # intermediate nodes also close over THEIR ancestors iff they
            # are children in the edge set — handled by the loop over all c
    assert got == expect

    # a height-8 chain needs ceil(log2 8)=3 doubling rounds + 1 to detect
    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(8)], ["child", "parent"])
    full = {(r["node"], r["anc"]): r["dist"]
            for r in ancestor_closure(chain, max_rounds=5).collect()}
    assert full[(8, 0)] == 8
    assert len(full) == sum(range(1, 9))  # node k has k ancestors: 36

    with pytest.raises(ValueError, match="converge"):
        cyc = spark.createDataFrame([(1, 2), (2, 1)], ["child", "parent"])
        ancestor_closure(cyc, max_rounds=3)


def test_quantize_and_fingerprint_entries(spark, tmp_path):
    """embeddings_quantize_int8: codes bounded, extreme element hits
    ±127, zero vector quantizes to zeros, scale = max |x|.
    documents_fingerprint: partition/order invariant, content sensitive,
    duplicate rows cancel in the xor but not in the count."""
    import __spark_entry__ as entrymod

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25], 0), (2, [0.0, 0.0], 0), (3, None, 0)],
        "vec_id long, embedding array<float>, label int") \
        .write.parquet(f"{sf}/embeddings.parquet")
    rows = {r["vec_id"]: r for r in
            entrymod.queries()["embeddings_quantize_int8"](spark, sf)
            .collect()}
    assert rows[1]["scale"] == 1.0
    assert rows[1]["q8"] == [63, -127, 31]     # floor(0.5*127), -127, floor(31.75)
    assert rows[2]["q8"] == [0, 0] and rows[2]["scale"] == 0.0
    assert 3 not in rows                        # NULL embedding excluded
    assert all(-127 <= v <= 127 for r in rows.values() for v in r["q8"])

    docs = spark.createDataFrame(
        [(1, "aaa", "en", "s", 3), (2, "bbb", "en", "s", 3),
         (3, "ccc", "de", "s", 3), (4, None, None, None, None)],
        "doc_id long, text string, lang string, source string, n_chars long")
    docs.write.parquet(f"{sf}/documents.parquet")
    fp = entrymod.queries()["documents_fingerprint"]
    base = {r["lang"]: (r["checksum"], r["n_rows"])
            for r in fp(spark, sf).collect()}
    assert set(base) == {"en", "de", "?"}

    sf2 = str(tmp_path / "repart")
    docs.repartition(7).write.parquet(f"{sf2}/documents.parquet")
    again = {r["lang"]: (r["checksum"], r["n_rows"])
             for r in fp(spark, sf2).collect()}
    assert again == base                        # order/partition invariant

    sf3 = str(tmp_path / "mut")
    docs.withColumn("text", F.when(F.col("doc_id") == 1, "aaA")
                    .otherwise(F.col("text"))) \
        .write.parquet(f"{sf3}/documents.parquet")
    mut = {r["lang"]: (r["checksum"], r["n_rows"])
           for r in fp(spark, sf3).collect()}
    assert mut["en"] != base["en"] and mut["de"] == base["de"]

    one = docs.where(F.col("doc_id") == 1)
    sf4 = str(tmp_path / "dup1")
    docs.unionByName(one).write.parquet(f"{sf4}/documents.parquet")
    dup1 = {r["lang"]: (r["checksum"], r["n_rows"])
            for r in fp(spark, sf4).collect()}
    assert dup1["en"][0] != base["en"][0]       # ONE extra copy flips xor
    sf5 = str(tmp_path / "dup2")
    docs.unionByName(one).unionByName(one) \
        .write.parquet(f"{sf5}/documents.parquet")
    dup2 = {r["lang"]: (r["checksum"], r["n_rows"])
            for r in fp(spark, sf5).collect()}
    assert dup2["en"][0] == base["en"][0]       # an EVEN count cancels...
    assert dup2["en"][1] == base["en"][1] + 2   # ...the row count catches it


def test_cms_join_size_one_sided(spark):
    """CMS inner-product estimate >= exact join size always (one-sided),
    equals it exactly when no cross-key bucket collisions exist (single
    shared key), and never exceeds the trivial N_A*N_B bound."""
    from recrun_spark.functions.sketch import cms_join_size, count_min_sketch

    a = spark.createDataFrame([("x",)] * 3, ["k"])
    b = spark.createDataFrame([("x",)] * 2, ["k"])
    est = cms_join_size(count_min_sketch(a, "k"),
                        count_min_sketch(b, "k")).collect()[0]["estimate"]
    assert est == 6                      # one key, no collisions possible

    import random
    rng = random.Random(7)
    ka = [f"k{rng.randrange(40)}" for _ in range(200)]
    kb = [f"k{rng.randrange(40)}" for _ in range(150)]
    a = spark.createDataFrame([(k,) for k in ka], ["k"])
    b = spark.createDataFrame([(k,) for k in kb], ["k"])
    from collections import Counter
    ca, cb = Counter(ka), Counter(kb)
    exact = sum(ca[k] * cb[k] for k in ca)
    est = cms_join_size(count_min_sketch(a, "k"),
                        count_min_sketch(b, "k")).collect()[0]["estimate"]
    assert exact <= est <= len(ka) * len(kb)


def test_bloom_prefilter_matches_might_contain(spark):
    """The expression-side prefilter agrees row-for-row with the
    driver-side bloom_might_contain probe (same md5 positions, same
    all-k rule): no false negatives ever, and with 50 members in a
    16384-bit/6-hash filter the 950 non-members are mostly dropped."""
    from recrun_spark.functions.sketch import (bloom_bits, bloom_might_contain,
                                               bloom_prefilter)

    members = [f"m{i}" for i in range(50)]
    small = spark.createDataFrame([(m,) for m in members], ["k"])
    positions = {r["pos"] for r in bloom_bits(small, "k").collect()}

    probe_keys = members + [f"x{i}" for i in range(950)] + [None]
    big = spark.createDataFrame([(k,) for k in probe_keys], ["k"])
    kept = {r["k"] for r in bloom_prefilter(big, "k", positions).collect()}

    expected = {k for k in probe_keys
                if k is not None and bloom_might_contain(positions, k)}
    assert kept == expected                      # differential, row-exact
    assert set(members) <= kept                  # no false negatives
    assert len(kept) - len(members) < 95         # <10% FP on non-members


def test_kmv_overlap_exact_and_estimate_modes(spark):
    """KMV/theta overlap: below k the sketch IS the set (estimates equal
    exact counts, intersection included); above k every output matches a
    pure-Python reference computing the identical estimator (row-exact
    differential — same md5 hashes, same integral division), and the
    estimate lands within 3 standard errors of the truth."""
    import hashlib

    from recrun_spark.functions.sketch import KMV_K, kmv_overlap, kmv_sketch

    def h60(key):
        return int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16)

    def py_overlap(keys_a, keys_b, k=KMV_K):
        T = 1 << 60
        sa = sorted({h60(x) for x in keys_a})[:k]
        sb = sorted({h60(x) for x in keys_b})[:k]
        tha = T if len(sa) < k else sa[-1]
        thb = T if len(sb) < k else sb[-1]
        theta = min(tha, thb)
        nc = len({v for v in sa if v < theta} & set(sb))
        ea = len(sa) if len(sa) < k else (k - 1) * T // tha
        eb = len(sb) if len(sb) < k else (k - 1) * T // thb
        return (ea, eb, nc * T // theta)

    def spark_overlap(keys_a, keys_b):
        a = spark.createDataFrame([(x,) for x in keys_a], ["k"])
        b = spark.createDataFrame([(x,) for x in keys_b], ["k"])
        r = kmv_overlap(kmv_sketch(a, "k"), kmv_sketch(b, "k")).collect()[0]
        return (r["est_a"], r["est_b"], r["est_common"])

    # exact mode: 20 and 30 keys sharing 10
    ka = [f"u{i}" for i in range(20)]
    kb = [f"u{i}" for i in range(10, 40)]
    assert spark_overlap(ka, kb) == (20, 30, 10) == py_overlap(ka, kb)

    # estimate mode: 800 / 600 keys sharing 300
    ka = [f"a{i}" for i in range(500)] + [f"s{i}" for i in range(300)]
    kb = [f"b{i}" for i in range(300)] + [f"s{i}" for i in range(300)]
    got = spark_overlap(ka, kb)
    assert got == py_overlap(ka, kb)             # row-exact differential
    se = 1.0 / (KMV_K - 2) ** 0.5
    assert abs(got[0] - 800) <= 3 * se * 800
    assert abs(got[1] - 600) <= 3 * se * 600
    assert abs(got[2] - 300) <= 4 * se * 300     # intersection: wider band


def test_pps_sample_weighted_keep(spark):
    """PPS Poisson sampling: row-exact vs a pure-Python mirror of the
    integer keep rule; certainty units (w >= sum_w/T) always kept;
    realized size within a binomial band of the target; zero weights
    and NULL keys excluded."""
    import hashlib

    from recrun_spark.functions.sampling import pps_sample

    rows = [(i, (i % 7) * 100 + 10) for i in range(2000)]
    rows += [(9999, 10_000_000), (None, 50), (5555, 0)]   # whale/null/zero
    df = spark.createDataFrame(rows, ["doc_id", "w"])

    T = 100
    got = {r["doc_id"] for r in
           pps_sample(df, "w", T, key_col="doc_id").collect()}

    def h60(key):
        return int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16)

    valid = [(k, w) for k, w in rows if k is not None and w > 0]
    tw = sum(w for _, w in valid)
    expect = {k for k, w in valid if h60(k) * tw < w * T * (1 << 60)}
    assert got == expect                          # row-exact differential
    assert 9999 in got                            # certainty unit
    assert None not in got and 5555 not in got
    exp_size = sum(min(1.0, T * w / tw) for _, w in valid)
    assert abs(len(got) - exp_size) <= 4 * exp_size ** 0.5


def test_heavy_hitters_dyadic_exact(spark):
    """The dyadic CMS drill-down returns EXACTLY the true heavy-hitter
    set (the sketch bounds work, not the answer): skewed corpus with
    known heavies, empty result when the threshold exceeds every count,
    and a loud raise on keys outside the dyadic domain."""
    import pytest as _pytest

    from recrun_spark.functions.sketch import heavy_hitters_dyadic

    rows = ([(7,)] * 500 + [(13,)] * 120 + [(99,)] * 100
            + [(k,) for k in range(1000, 1800) for _ in range(3)]
            + [(None,)] * 5)
    df = spark.createDataFrame(rows, ["k"]).repartition(8)

    got = {(r["k"], r["cnt"])
           for r in heavy_hitters_dyadic(df, "k", threshold=100,
                                         levels=12).collect()}
    assert got == {(7, 500), (13, 120), (99, 100)}

    assert heavy_hitters_dyadic(df, "k", threshold=501,
                                levels=12).count() == 0

    bad = spark.createDataFrame([(1,), (5000,)], ["k"])
    with _pytest.raises(Exception, match="out of"):
        heavy_hitters_dyadic(bad, "k", threshold=1, levels=12)


def test_xxh64_long_mirrors_spark(spark):
    """The driver drill-down's pure-Python XXH64 mirror is bit-for-bit
    Spark's xxhash64 over chained long columns — a Spark upgrade that
    shifts the hash fails HERE first, not as silently-empty heavy
    hitters."""
    from recrun_spark.functions.sketch import _xxh64_long

    pairs = [(0, 0), (3, 17), (21, 123456789), (5, -2),
             (1, 1 << 62), (20, (1 << 21) - 1)]
    df = spark.createDataFrame(pairs, ["l", "p"])
    got = [r["h"] & ((1 << 64) - 1) for r in
           df.select(F.xxhash64(F.col("l").cast("long"),
                                F.col("p").cast("long")).alias("h"))
           .collect()]
    assert got == [_xxh64_long(p, _xxh64_long(l, 42)) for l, p in pairs]


def test_interleave_mix_schedule_properties(spark):
    """Weighted round-robin interleave: mix_pos is a dense permutation;
    every prefix of the schedule realizes the target mixture within
    ±|groups| items per group; and growing one corpus never reorders
    another group's items relative to each other (slots depend only on
    own r and the weights)."""
    from recrun_spark.functions.sampling import interleave_mix

    rows = ([(f"a{i}", "A") for i in range(60)]
            + [(f"b{i}", "B") for i in range(25)]
            + [(f"c{i}", "C") for i in range(15)])
    df = spark.createDataFrame(rows, ["doc_id", "g"])
    weights = {"A": 3, "B": 2, "C": 1}
    out = interleave_mix(df, "g", weights).collect()

    seq = [r["g"] for r in sorted(out, key=lambda r: r["mix_pos"])]
    assert sorted(r["mix_pos"] for r in out) == list(range(len(rows)))

    total = sum(weights.values())
    n_by_g = {g: sum(1 for x in seq if x == g) for g in weights}
    run = {g: 0 for g in weights}
    for p, x in enumerate(seq, start=1):
        run[x] += 1
        if any(run[g] >= n_by_g[g] for g in weights):
            break   # a group exhausted: WRR proportions no longer apply
        for g, a in weights.items():
            want = p * a / total
            assert abs(run[g] - want) <= len(weights), (p, g)

    # growth stability: add 40 more A docs — B's internal order unchanged
    bigger = spark.createDataFrame(
        rows + [(f"a{i}", "A") for i in range(60, 100)], ["doc_id", "g"])
    out2 = interleave_mix(bigger, "g", weights).collect()
    b1 = [r["doc_id"] for r in sorted(out, key=lambda r: r["mix_pos"])
          if r["g"] == "B"]
    b2 = [r["doc_id"] for r in sorted(out2, key=lambda r: r["mix_pos"])
          if r["g"] == "B"]
    assert b1 == b2


def test_srp_lsh_recall_on_clustered_corpus_and_bit_monotonicity(spark):
    """SRP (hyperplane) LSH: on a clustered corpus, intra-blob neighbors
    have near-zero hyperplane angle, so bucket collision probability
    (1-θ/π)^bits stays near 1 and recall vs exact cosine top-k must be
    ≥0.9.  Widening the codes (more bits per table) can only REFINE
    buckets — the candidate set shrinks monotonically — and results are
    identical across runs (hyperplanes are md5-derived literals, no RNG).

    Recall is asserted on the CANDIDATE set (every exact top-10 neighbor
    must collide in some table), not on the final top-10 ranking: blob
    points are so tight that their 4-dp cosines all tie at ~1.0 and
    cosine_topk's deterministic tie-break (neighbor_id asc) makes the
    exact "top-10" id-order among ~49 equals — a ranking artifact no
    candidate generator should be graded against."""
    from recrun_spark.functions.similarity import cosine_topk, srp_topk
    emb = _blob_corpus(spark)
    qids = [b * 50 + 7 for b in range(8)]      # one query per blob

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topk_sets(cosine_topk(emb, qids, k=10))
    cands = topk_sets(srp_topk(emb, qids, k=10 ** 6, n_tables=4, n_bits=8,
                               dim=16))
    recall = sum(len(exact[q] & cands.get(q, set())) / len(exact[q])
                 for q in exact) / len(exact)
    assert recall >= 0.9, recall
    # and the ranked top-10 stays semantically right: every returned
    # neighbor lives in the query's own blob
    top = srp_topk(emb, qids, k=10, n_tables=4, n_bits=8, dim=16).collect()
    assert len(top) == 80
    assert all(r["neighbor_id"] // 50 == r["query_id"] // 50 for r in top)

    def n_cands(n_bits):
        # k > corpus so the "top-k" IS the candidate set
        return srp_topk(emb, qids, k=10 ** 6, n_tables=2, n_bits=n_bits,
                        dim=16).count()

    c4, c10 = n_cands(4), n_cands(10)
    assert c4 >= c10, (c4, c10)
    # determinism: identical plan → identical rows
    a = sorted(map(tuple, srp_topk(emb, qids, k=5, dim=16).collect()))
    b = sorted(map(tuple, srp_topk(emb, qids, k=5, dim=16).collect()))
    assert a == b


def test_negative_samples_semantics(spark):
    """Filtered negative sampling: no emitted negative is a positive for
    its head, candidates outside the item universe (id holes) are
    rejected, at most k slots per positive, deterministic across runs,
    and corrupting a near-total universe drops almost everything (the
    rejection filter really bites)."""
    import pytest

    from recrun_spark.operators import negative_samples
    pos = spark.createDataFrame(
        [("a", i) for i in range(0, 20, 2)] + [("b", 1), ("b", 3)],
        "head string, item bigint")
    # universe with holes: only even ids 0..18 plus 1 and 3
    items = spark.createDataFrame(
        [(i,) for i in range(0, 20, 2)] + [(1,), (3,)], "item bigint")
    out = negative_samples(pos, items, k=3).collect()
    assert out, "expected at least one negative at k=3"
    posset = {(r["head"], r["item"]) for r in pos.collect()}
    universe = {r["item"] for r in items.collect()}
    for r in out:
        assert (r["head"], r["neg_item"]) not in posset
        assert r["neg_item"] in universe
        assert 0 <= r["sample_i"] < 3
    per_pos = {}
    for r in out:
        per_pos[(r["head"], r["pos_item"])] = \
            per_pos.get((r["head"], r["pos_item"]), 0) + 1
    assert max(per_pos.values()) <= 3
    again = negative_samples(pos, items, k=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # head 'a' owns EVERY even id — all its candidates that survive the
    # universe check must be 1 or 3
    for r in out:
        if r["head"] == "a":
            assert r["neg_item"] in (1, 3)
    with pytest.raises(Exception):
        negative_samples(pos, items.where("item < 0"), k=3)


def test_tfidf_cosine_pairs_threshold_and_df_cut(spark):
    """Exact rational threshold: identical docs pass at any τ, docs with
    no shared (kept) term never pair, the df cut removes a ubiquitous
    term from weights AND norms, and the comparison is ≥ (a pair exactly
    AT the threshold is kept)."""
    from recrun_spark.functions.text import tfidf_cosine_pairs
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
         (3, "delta epsilon zeta"), (4, "alpha beta othertoken")],
        "doc_id bigint, text string")
    out = {(r["id_a"], r["id_b"]): r
           for r in tfidf_cosine_pairs(docs, 9, 10).collect()}
    assert (1, 2) in out                          # identical → cos = 1
    r = out[(1, 2)]
    assert r["dot"] == r["norm_a"] == r["norm_b"]
    assert all(3 not in p for p in out)           # disjoint vocabulary
    # τ = 0: every shared-term pair appears, still never (·,3)
    allp = {(r["id_a"], r["id_b"])
            for r in tfidf_cosine_pairs(docs, 0, 1).collect()}
    assert allp == {(1, 2), (1, 4), (2, 4)}
    # df cut: 'alpha'/'beta' live in 3 docs — cutting df>2 removes them,
    # so doc 4 shares nothing with 1/2 anymore
    cutp = {(r["id_a"], r["id_b"])
            for r in tfidf_cosine_pairs(docs, 0, 1, df_cut=2).collect()}
    assert cutp == {(1, 2)}
    # boundary inclusivity: every term below has df = 2, so all weights
    # are equal and each sharing pair has cos = 1/2 EXACTLY — kept at
    # τ = 1/2 (the test is ≥), dropped at τ = 51/100
    eq = spark.createDataFrame(
        [(1, "x y"), (2, "x z"), (3, "y w"), (4, "z w")],
        "doc_id bigint, text string")
    half = {(r["id_a"], r["id_b"])
            for r in tfidf_cosine_pairs(eq, 1, 2).collect()}
    assert half == {(1, 2), (1, 3), (2, 4), (3, 4)}
    assert not tfidf_cosine_pairs(eq, 51, 100).collect()


def test_mad_outliers_hampel_semantics(spark):
    """Hampel filter pins: lower-median rank rule on even/odd multisets,
    MAD computed on deviations from the median, strict > fence (a point
    exactly AT k·MAD is NOT an outlier), and robustness — one wild value
    flags itself without dragging the fence (the mean/stddev failure
    mode)."""
    from recrun_spark.functions.events import mad_outliers

    def run(vals, **kw):
        df = spark.createDataFrame(
            [(i, "t", float(v)) for i, v in enumerate(vals)],
            "event_id bigint, event_type string, value double")
        return mad_outliers(df, **kw).collect()

    # values (cents): 100,200,300,400,10000 → lower median 300 (n=5,r=3);
    # devs: 200,100,0,100,9700 → MAD = 100; fence 5·100=500 → only 10000
    out = run([1.0, 2.0, 3.0, 4.0, 100.0])
    assert [(r["event_id"], r["med"], r["mad"]) for r in out] == \
        [(4, 300, 100)]
    # even n: 100,200,300,10000 → LOWER median 200; devs 100,0,100,9800
    # → dev multiset {0,100,100,9800}, lower median (r=2) = 100
    out = run([1.0, 2.0, 3.0, 100.0])
    assert [(r["event_id"], r["med"], r["mad"]) for r in out] == \
        [(3, 200, 100)]
    # boundary strictness: dev == k·MAD must NOT flag.  cents
    # 0,100,100,200,600: med=100, devs {100,0,0,100,500}, MAD=0... pick
    # better: 0,100,200,300,600 → med 200, devs {200,100,0,100,400},
    # MAD=100, fence 4·100: dev 400 == fence → not flagged at k=4
    out = run([0.0, 1.0, 2.0, 3.0, 6.0], k_num=4)
    assert out == []
    # same data, k=3: 400 > 300 → flagged (id 4), and 200 ≤ 300 not
    out = run([0.0, 1.0, 2.0, 3.0, 6.0], k_num=3)
    assert [r["event_id"] for r in out] == [4]


def test_bpe_learn_merge_semantics(spark):
    """BPE pins: the classic low/lower corpus learns (l,o) then (lo,w);
    greedy left-to-right non-overlapping merge ('aaaa' → [aa, aa],
    'aaa' → [aa, a]); merges exhaust → early break; token counts
    conserve word length."""
    from recrun_spark.functions.text import bpe_learn

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "new newer newest low")],
        "doc_id bigint, text string")
    out, merges = bpe_learn(docs, n_merges=5)
    assert [(m[1], m[2]) for m in merges[:2]] == [("l", "o"), ("lo", "w")]
    assert merges[0][3] == 6                      # 4×low +1 lower +1 lowest... freq-weighted
    toks = {r["word"]: r["tokens"] for r in out.collect()}
    assert toks["low"] == "low" and toks["lower"] == "low er"

    # greedy non-overlap: corpus of a single word 'aaaa' (freq 2) —
    # round 1 merges (a,a) pairwise left-to-right
    docs2 = spark.createDataFrame([(1, "aaaa aaaa"), (2, "aaa")],
                                  "doc_id bigint, text string")
    out2, merges2 = bpe_learn(docs2, n_merges=1)
    assert (merges2[0][1], merges2[0][2]) == ("a", "a")
    t2 = {r["word"]: (r["n_tokens"], r["tokens"]) for r in out2.collect()}
    assert t2["aaaa"] == (2, "aa aa")
    assert t2["aaa"] == (2, "aa a")

    # exhaustion: one single-char word cannot merge — loop breaks early
    docs3 = spark.createDataFrame([(1, "x x x")],
                                  "doc_id bigint, text string")
    out3, merges3 = bpe_learn(docs3, n_merges=4)
    assert merges3 == []
    assert out3.collect()[0]["tokens"] == "x"


def test_sorted_neighborhood_pairs_semantics(spark):
    """Sorted-neighborhood blocking pins: candidates are EXACTLY the
    in-window pairs of the sorted key order (brute-force parity,
    distances included); window=2 emits adjacent pairs only; max_dist
    filters on exact Levenshtein; window < 2 raises."""
    import pytest

    from recrun_spark.functions.dedup import sorted_neighborhood_pairs

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1,
                                       prev + (ca != cb))
        return d[len(b)]

    rows = [(1, "alpha"), (2, "alphb"), (3, "beta"), (4, "betta"),
            (5, "gamma"), (6, "gbmma"), (7, "zeta")]
    df = spark.createDataFrame(rows, "id bigint, key string")

    def brute(w, md=None):
        srt = sorted(rows, key=lambda r: r[1])
        out = set()
        for i, (ia, ka) in enumerate(srt):
            for j in range(i + 1, min(i + w, len(srt))):
                ib, kb = srt[j]
                d = lev(ka, kb)
                if md is None or d <= md:
                    out.add((ia, ib, ka, kb, d))
        return out

    for w in (2, 3, 5):
        got = {tuple(r) for r in
               sorted_neighborhood_pairs(df, "key", "id", window=w)
               .collect()}
        assert got == brute(w), w
    got_f = {tuple(r) for r in
             sorted_neighborhood_pairs(df, "key", "id", window=3,
                                       max_dist=1).collect()}
    assert got_f == brute(3, md=1)
    assert any(d == 1 for *_, d in got_f)          # fixture sanity
    with pytest.raises(ValueError):
        sorted_neighborhood_pairs(df, "key", "id", window=1)


def test_bpe_encode_application_semantics(spark):
    """BPE application pins: (1) encoding the TRAINING corpus reproduces
    bpe_learn's own per-word token counts exactly (apply ∘ learn =
    learn's tokenization); (2) OOV inference — a word never seen in
    training is tokenized by applying the merges where they fit
    ('lowest' under merges (l,o),(lo,w) → low|e|s|t = 4 tokens);
    (3) empty merge list degrades to character counts; (4) merge ORDER
    matters and is respected."""
    from recrun_spark.functions.text import bpe_encode, bpe_learn

    train = spark.createDataFrame(
        [(1, "low low low lower"), (2, "low wit")],
        "doc_id bigint, text string")
    vocab, merges = bpe_learn(train, n_merges=2)
    assert [(m[1], m[2]) for m in merges] == [("l", "o"), ("lo", "w")]
    # (1) self-encoding parity with the learned vocabulary
    enc = {r["doc_id"]: r for r in bpe_encode(train, merges).collect()}
    per_word = {r["word"]: r["n_tokens"] for r in vocab.collect()}
    assert enc[1]["n_words"] == 4
    assert enc[1]["n_tokens"] == 3 * per_word["low"] + per_word["lower"]
    assert enc[2]["n_words"] == 2
    assert enc[2]["n_tokens"] == per_word["low"] + per_word["wit"]
    # (2) OOV word: 'lowest' → low|e|s|t (both merges fire), 'ow' → o|w
    # (neither fires: 'l,o' needs an l; 'lo,w' needs the merged lo)
    oov = spark.createDataFrame([(7, "lowest ow")],
                                "doc_id bigint, text string")
    got = bpe_encode(oov, merges).collect()[0]
    assert (got["n_words"], got["n_tokens"]) == (2, 4 + 2)
    # (3) no merges → characters
    got0 = bpe_encode(oov, []).collect()[0]
    assert (got0["n_words"], got0["n_tokens"]) == (2, 6 + 2)
    # (4) order respected: (lo,w) before (l,o) can never fire on 'low'
    got_rev = bpe_encode(oov, [("lo", "w"), ("l", "o")]).collect()[0]
    assert got_rev["n_tokens"] == 5 + 2   # lowest → lo|w|e|s|t, ow → o|w


def test_scc_fwbw_vs_tarjan(spark):
    """Distributed FW-BW SCC pins: cycle+tail, chained 2-cycles (forces
    one outer recursion per locally-non-minimal SCC), and a differential
    against a driver-side Tarjan on a seeded random digraph."""
    from recrun_spark.operators import scc

    def run(es):
        df = spark.createDataFrame(es, "src bigint, dst bigint")
        return {r["node"]: r["scc_id"] for r in scc(df).collect()}

    assert run([(1, 2), (2, 3), (3, 1), (3, 4)]) == \
        {1: 1, 2: 1, 3: 1, 4: 4}
    # two 2-cycles joined by a one-way bridge: {3,4} is NOT resolvable in
    # round 1 (bwd(3) = 1 ≠ fwd(3) = 3) — exercises the outer recursion
    assert run([(1, 2), (2, 1), (3, 4), (4, 3), (2, 3)]) == \
        {1: 1, 2: 1, 3: 3, 4: 3}

    import random
    rng = random.Random(7)
    n = 40
    es = list({(rng.randrange(n), rng.randrange(n)) for _ in range(80)})
    es = [(a, b) for a, b in es if a != b]
    got = run(es)

    adj, nodes = {}, set()
    for a, b in es:
        adj.setdefault(a, []).append(b)
        nodes.update((a, b))
    index, low, onstk, stk, counter, comp = {}, {}, {}, [], [0], {}

    def strong(v):
        index[v] = low[v] = counter[0]
        counter[0] += 1
        stk.append(v)
        onstk[v] = True
        for w in adj.get(v, []):
            if w not in index:
                strong(w)
                low[v] = min(low[v], low[w])
            elif onstk.get(w):
                low[v] = min(low[v], index[w])
        if low[v] == index[v]:
            members = []
            while True:
                w = stk.pop()
                onstk[w] = False
                members.append(w)
                if w == v:
                    break
            m = min(members)
            for w in members:
                comp[w] = m

    for v in sorted(nodes):
        if v not in index:
            strong(v)
    assert got == comp


def test_kmeans_quantized_semantics(spark):
    """Integer k-means pins: Lloyd's objective (Σ dist²) is monotonically
    non-increasing in the iteration count (THE Lloyd invariant — exact
    here because assignment and update are both exact); most clusters
    are blob-pure on the blob corpus (k-means may double-up a blob from
    a random init — exact recovery is not a k-means guarantee);
    deterministic across runs; k > n points leaves empty clusters
    carrying their init centroid without crashing."""
    from recrun_spark.functions.similarity import kmeans_quantized
    emb = _blob_corpus(spark)                       # 8 blobs × 50, dim 16

    def total(iters):
        rows = kmeans_quantized(emb, k=8, iters=iters,
                                scale=1 << 20).collect()
        assert len(rows) == 400
        return rows, sum(r["dist2"] for r in rows)

    out0, j0 = total(0)
    out2, j2 = total(2)
    out4, j4 = total(4)
    assert j0 >= j2 >= j4, (j0, j2, j4)
    assert j4 < j0          # it actually moved
    # blob-local coherence: every blob's 50 points end up TOGETHER in
    # one cluster (clusters may hold 2 merged blobs from a doubled-up
    # random init — a k-means local optimum, not a defect — but a blob
    # itself is never split at convergence... except the doubled blob,
    # which splits between its two centroids; so assert ≥6 of 8 blobs
    # are unsplit and the objective dropped ≥2× — merged clusters keep
    # residual dispersion)
    by_blob = {}
    for r in out4:
        by_blob.setdefault(r["vec_id"] // 50, set()).add(r["cluster"])
    unsplit = sum(1 for cs in by_blob.values() if len(cs) == 1)
    assert unsplit >= 6, by_blob
    assert j4 * 2 < j0, (j0, j4)
    again = kmeans_quantized(emb, k=8, iters=4, scale=1 << 20).collect()
    assert sorted(map(tuple, out4)) == sorted(map(tuple, again))
    # k > n: 8 centroids over 5 points — empty clusters carry over
    tiny = spark.createDataFrame(
        [(i, [float(i), float(-i)]) for i in range(5)],
        "vec_id bigint, embedding array<double>")
    t = kmeans_quantized(tiny, k=8, iters=3).collect()
    assert len(t) == 5 and all(r["dist2"] >= 0 for r in t)


def test_pq_codes_and_adc_semantics(spark):
    """Product-quantization pins: (1) subspace independence — the PQ code
    in every subspace bit-matches kmeans_quantized run alone on that
    coordinate slice (same init rule, same rounds), and qerr is exactly
    the sum of the per-slice distortions; (2) ADC exactness — pq_topk
    ranks equal a driver-side brute-force recomputation from the trained
    centroids and codes, tie-break included; (3) a neighbor sharing the
    query's full code scores exactly the query's own qerr; (4) non-
    divisible dim raises; (5) deterministic across runs."""
    import pytest
    from pyspark.sql import functions as F

    from recrun_spark.functions.similarity import (
        _pq_quantized, _pq_train, kmeans_quantized, pq_codes, pq_topk)
    emb = _blob_corpus(spark)                       # 8 blobs × 50, dim 16
    m, k, iters = 4, 4, 1
    codes = pq_codes(emb, m=m, k=k, iters=iters).collect()
    got = {r["vec_id"]: r for r in codes}
    assert len(got) == 400
    # (1) per-subspace parity vs a standalone k-means on the slice
    sub = 16 // m
    slice_err = {i: 0 for i in got}
    for s in range(m):
        sl = emb.select("vec_id", F.slice(F.col("embedding"),
                                          s * sub + 1, sub).alias("embedding"))
        km = {r["vec_id"]: r
              for r in kmeans_quantized(sl, k=k, iters=iters).collect()}
        for i, r in got.items():
            assert int(r["code"].split(",")[s]) == km[i]["cluster"], (s, i)
            slice_err[i] += km[i]["dist2"]
    assert all(got[i]["qerr"] == slice_err[i] for i in got)
    # (2) ADC brute-force parity from the trained centroids
    q = _pq_quantized(emb, "vec_id", "embedding", 1 << 20).persist()
    cents, assigned = _pq_train(q, m, k, iters)
    rows = assigned.collect()
    q.unpersist()
    byid = {r["_id"]: r for r in rows}
    queries = [0, 77, 399]
    topk = pq_topk(emb, queries, k=5, m=m, n_clusters=k, iters=iters)
    out = [(r["query_id"], r["rank"], r["neighbor_id"], r["adc_dist2"])
           for r in topk.collect()]
    expect = []
    for qid in queries:
        qv = list(byid[qid]["q"])
        scored = []
        for nid, r in byid.items():
            if nid == qid:
                continue
            adc = 0
            for s in range(m):
                c = cents[s][r[f"c{s}"]]
                adc += sum((qv[s * sub + i] - c[i]) ** 2
                           for i in range(sub))
            scored.append((adc, nid))
        scored.sort()
        expect += [(qid, rk + 1, nid, adc)
                   for rk, (adc, nid) in enumerate(scored[:5])]
    assert sorted(out) == sorted(expect)
    # (3) a same-code neighbor's ADC distance IS the query's qerr
    code0 = got[0]["code"]
    twins = [i for i, r in got.items() if r["code"] == code0 and i != 0]
    if twins:   # blob corpus: the query's blob shares its code
        d = {(r["query_id"], r["neighbor_id"]): r["adc_dist2"]
             for r in topk.collect() if r["query_id"] == 0}
        hit = [v for (qq, nn), v in d.items() if nn in twins]
        assert hit and all(v == got[0]["qerr"] for v in hit)
    # (4) dim not divisible by m
    with pytest.raises(ValueError):
        pq_codes(emb, m=3, k=4, iters=0).collect()
    # (5) determinism
    again = pq_codes(emb, m=m, k=k, iters=iters).collect()
    assert sorted(map(tuple, codes)) == sorted(map(tuple, again))


def test_grid_distance_join_exactness(spark):
    """Grid blocking pins: result equals the brute-force distance join
    (pairs at, inside, and just outside the radius; pairs straddling a
    cell boundary — the case a same-cell-only join would miss); each
    pair appears exactly once; radius must be positive."""
    import itertools

    import pytest

    from recrun_spark.functions.layout import grid_distance_join
    pts = [(0, 0, 0), (1, 9, 9), (2, 10, 10), (3, 21, 10), (4, 300, 300),
           (5, 19, 19), (6, 20, 20), (7, 1000, 0), (8, 1000, 10)]
    df = spark.createDataFrame(pts, "id bigint, x bigint, y bigint")
    r = 10
    got = sorted((p["id_a"], p["id_b"], p["d2"])
                 for p in grid_distance_join(df, "id", "x", "y", r)
                 .collect())
    want = sorted(
        (a[0], b[0], (a[1]-b[1])**2 + (a[2]-b[2])**2)
        for a, b in itertools.combinations(pts, 2)
        if (a[1]-b[1])**2 + (a[2]-b[2])**2 <= r*r)
    assert got == want
    assert len(got) == len({(a, b) for a, b, _ in got})   # exactly once
    # boundary: (7)-(8) distance exactly 10 → d2 == 100 == r² included
    assert (7, 8, 100) in got
    # cell-straddling: (1)@(9,9) and (2)@(10,10) are in different cells
    # (cell 0 vs cell 1 per axis) but distance √2 — must be found
    assert (1, 2, 2) in got
    with pytest.raises(ValueError):
        grid_distance_join(df, "id", "x", "y", 0)


def test_hits_semantics(spark):
    """HITS pins on a hand graph: the hub pointing at both authorities
    beats the single-edge hub; the authority with two good in-links
    beats the one with one; max-normalized scores top out at exactly
    `scale`; deterministic across runs."""
    from recrun_spark.operators import hits
    # h1 -> a1, a2 ; h2 -> a1 : a1 is the stronger authority, h1 the
    # stronger hub
    e = spark.createDataFrame(
        [("h1", "a1"), ("h1", "a2"), ("h2", "a1")], "src string, dst string")
    out = {(r["node"], r["kind"]): r["score"]
           for r in hits(e, iterations=3).collect()}
    assert out[("h1", "hub")] == 10 ** 6          # max hub
    assert out[("a1", "auth")] == 10 ** 6         # max authority
    assert out[("h2", "hub")] < out[("h1", "hub")]
    assert out[("a2", "auth")] < out[("a1", "auth")]
    again = {(r["node"], r["kind"]): r["score"]
             for r in hits(e, iterations=3).collect()}
    assert out == again


def test_hash_walks_semantics(spark):
    """Hash-walk pins: walks follow EDGES only (every consecutive pair in
    a path is an edge), dead ends stay in place, step 0 is the start,
    each start yields exactly walk_len+1 rows, deterministic across
    runs, and different seeds can diverge."""
    from recrun_spark.operators import hash_walks
    es = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "a")]
    # note: no out-edge from... every node here has one; add a sink
    es.append(("c", "z"))        # z is a dead end
    df = spark.createDataFrame(es, "src string, dst string")
    rows = hash_walks(df, walk_len=3).collect()
    paths = {}
    for r in rows:
        paths.setdefault(r["start"], {})[r["step"]] = r["node"]
    eset = set(es)
    for start, p in paths.items():
        assert p[0] == start
        assert len(p) == 4
        for i in range(3):
            if p[i] != p[i + 1]:
                assert (p[i], p[i + 1]) in eset, (start, p)
            else:
                # staying put is only allowed at a dead end
                assert all(s != p[i] for s, _ in es), (start, p)
    assert paths["z"] == {0: "z", 1: "z", 2: "z", 3: "z"}
    again = sorted(map(tuple, hash_walks(df, walk_len=3).collect()))
    assert sorted(map(tuple, rows)) == again
    other = sorted(map(tuple, hash_walks(df, walk_len=3,
                                         seed=99).collect()))
    assert len(other) == len(again)


def test_dedup_clusters_exact_collapse_equivalence(spark):
    """r6 optimization: dedup_clusters collapses exact-duplicate token
    streams to one representative before LSH (signatures/banding/verify
    run on representatives; the df-cut stays full-corpus).  The result
    must be IDENTICAL to the uncollapsed shape — LSH pairs over all docs
    -> CC -> left join — including the edge cases the expansion rule
    covers: a mega exact group (clique at Jaccard 1.0), an exact group
    whose every shingle is df-cut (never pairs; maps to itself), near-
    but-not-exact dups bridging groups, and unique singletons."""
    from pyspark.sql import functions as F

    from recrun_spark.functions.dedup import dedup_clusters
    from recrun_spark.operators import connected_components, release_caches

    rows = []
    # mega exact group: 12 identical docs (distinct shingles survive a
    # df-cut at max_shingle_freq >= 12 only if we keep the cut high; use
    # the default 1000 so they survive)
    mega = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for i in range(12):
        rows.append((f"m{i:02d}", mega))
    # a NEAR duplicate of the mega text (not exact): bridges into the
    # mega component via a real LSH pair
    rows.append(("n00", mega + " lambda"))
    # an exact group whose single shingle is df-cut away: 30 docs of a
    # 2-token text (one fallback shingle with df=30 > max_shingle_freq=20
    # when we pass a low cut) — these must map to THEMSELVES
    for i in range(30):
        rows.append((f"c{i:02d}", "common boilerplate"))
    # unique singletons
    for i in range(8):
        rows.append((f"u{i}", f"unique text number {i} with words w{i} x{i} y{i} z{i}"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    for threshold, cut in ((0.6, 1000), (0.6, 20), (0.9, 20)):
        # reference = the uncollapsed shape with the SAME df-cut, built
        # from the dedup internals (all docs through signatures/banding)
        from recrun_spark.functions import dedup as D
        sh = D.shingles(docs).persist()
        sig = D._signatures_from_shingles(sh, D.MH_K, 7)
        banded = D._banded_from_sig(sig, D.MH_K, D.LSH_BANDS).persist()
        banded.count()
        ca = banded.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        cb = banded.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
        cands = (ca.join(cb, ["band", "bucket"])
                 .where(F.col("doc_a") < F.col("doc_b"))
                 .select("doc_a", "doc_b").distinct().persist())
        cands.count()
        pairs = D._jaccard_of_pairs(cands, D._df_cut(sh, cut), threshold)
        comp = connected_components(
            pairs.select(F.col("doc_a").alias("src"),
                         F.col("doc_b").alias("dst")), "src", "dst")
        ids = docs.select("doc_id").distinct()
        ref = {r["doc_id"]: r["canonical_doc_id"]
               for r in (ids.join(comp, ids["doc_id"] == comp["node"],
                                  "left")
                         .select("doc_id",
                                 F.coalesce("component", "doc_id")
                                 .alias("canonical_doc_id"))).collect()}
        for c in [sh, banded, cands] + list(pairs._jp_caches):
            c.unpersist()

        out = dedup_clusters(docs, threshold, max_shingle_freq=cut)
        got = {r["doc_id"]: r["canonical_doc_id"] for r in out.collect()}
        release_caches(out)
        assert got == ref, (threshold, cut,
                            {k: (got[k], ref[k]) for k in got
                             if got[k] != ref[k]})
    # sanity on the shape itself: the mega group collapsed to one
    # canonical, the df-cut group maps to itself under cut=20
    out = dedup_clusters(docs, 0.6, max_shingle_freq=20)
    got = {r["doc_id"]: r["canonical_doc_id"] for r in out.collect()}
    release_caches(out)
    assert {got[f"m{i:02d}"] for i in range(12)} == {"m00"}
    assert all(got[f"c{i:02d}"] == f"c{i:02d}" for i in range(30))
    assert all(got[f"u{i}"] == f"u{i}" for i in range(8))
