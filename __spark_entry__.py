"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship mini-KG query over /root/testdata/sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
training-data operator suite); each callable takes (spark, sf_dir).
``oracle_sql()`` — matching ANSI SQL for DuckDB over the same parquet views.
Column names/types are aligned pairwise (the driver hash-compares values
sorted by column name).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_REPO = os.path.dirname(os.path.abspath(__file__))


def _ensure_pkg(spark: SparkSession) -> None:
    """Ship recrun_spark to executor Python workers for UDF-bearing queries
    (the driver harness may run these with its own SparkSession whose
    workers can't import the repo path)."""
    if getattr(_ensure_pkg, "_done", None) is spark:
        return
    import hashlib
    import zipfile
    repo = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(repo, "recrun_spark")
    sources = []
    for root, _dirs, files in os.walk(pkg):
        if "__pycache__" in root:
            continue
        for fn in sorted(files):
            if fn.endswith(".py"):
                sources.append(os.path.join(root, fn))
    # content-hash the zip name: a stale cached zip from an older source
    # tree would otherwise shadow the driver-side code on the workers
    digest = hashlib.sha1()
    for p in sorted(sources):
        digest.update(p.encode())
        digest.update(open(p, "rb").read())
    zip_path = os.path.join(
        "/tmp", f"recrun_spark_pkg_{digest.hexdigest()[:12]}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
            for p in sorted(sources):
                z.write(p, os.path.relpath(p, repo))
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already added in this context
    _ensure_pkg._done = spark

# ---------------------------------------------------------------------------
# shared bits
# ---------------------------------------------------------------------------

# closed mini alias dictionary over the testdata documents' vocabulary —
# the flat-table analog of the KG pipeline's broadcast alias dict (stage 2)
FLAT_ALIASES = [("spark", "E_SPARK"), ("hash", "E_HASH"), ("join", "E_JOIN"),
                ("window", "E_WINDOW"), ("stream", "E_STREAM")]

EVENT_SCORES = {"click": 50, "view": 25, "purchase": 100, "signup": 10,
                "error": -15}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _mentions_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, entity, n_mentions) for the inline dictionary.

    The dictionary rides as one array-of-structs LITERAL projection with a
    foldable ``\\b<alias>\\b`` pattern per entity — each regex compiles
    ONCE in codegen.  The former broadcast-crossJoin shape built the
    pattern from the joined alias COLUMN, so the per-expression regex
    cache (which holds the last pattern only) missed on every row as the
    5 aliases cycled — five regex recompiles per document, the dominant
    term of every kg_* entry that starts from mentions.  Same patterns,
    same counts, same rows."""
    docs = _t(spark, sf_dir, "documents")
    lt = docs.select("doc_id", F.lower(F.col("text")).alias("_lt"))
    pairs = F.array(*[
        F.struct(
            F.lit(entity).alias("entity"),
            F.size(F.regexp_extract_all(
                F.col("_lt"), F.lit(rf"\b{alias}\b"), F.lit(0)))
            .cast("long").alias("n_mentions"))
        for alias, entity in FLAT_ALIASES])
    return (lt.select("doc_id", F.explode(pairs).alias("_p"))
            .select("doc_id", F.col("_p.entity").alias("entity"),
                    F.col("_p.n_mentions").alias("n_mentions"))
            .where(F.col("n_mentions") > 0))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Mini KG over sf0.001: mention detection (broadcast dict) →
    co-mention pairs → deduped triples (the flat-table analog of the full
    interleaved pipeline in recrun_spark.pipeline)."""
    sf_dir = "/root/testdata/sf0.001"
    ments = _mentions_df(spark, sf_dir).select("doc_id", "entity").distinct()
    a, b = ments.alias("a"), ments.alias("b")
    co = (a.join(b, "doc_id")
          .where(F.col("a.entity") < F.col("b.entity"))
          .select(F.col("a.entity").alias("subj"),
                  F.lit("co_mentioned_with").alias("pred"),
                  F.col("b.entity").alias("obj"),
                  "doc_id"))
    mentioned = ments.select(F.col("entity").alias("subj"),
                             F.lit("mentioned_in").alias("pred"),
                             F.col("doc_id").cast("string").alias("obj"),
                             "doc_id")
    return (mentioned.unionByName(co)
            .dropDuplicates(["subj", "pred", "obj"])
            .orderBy("subj", "pred", "obj"))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q1_pricing(spark, sf_dir):
    """TPC-H Q1 style aggregation (A-family coverage)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.where(F.col("l_shipdate") <= "1998-09-01")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("sum_disc"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.count(F.lit(1)).alias("n_rows")))


def revenue_by_region(spark, sf_dir):
    """Multi-way join with broadcast dims (J-family, SURVEY §2.3)."""
    region = F.broadcast(_t(spark, sf_dir, "region"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(nation, cust.c_nationkey == nation.n_nationkey)
            .join(region, nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 analog (shipping priority): top-10 unshipped orders of
    the BUILDING segment by revenue — the classic selective 3-way join
    + grouped top-k.  Filters sit on each table BEFORE the joins (scan
    pushdown: segment on customer, date on orders and lineitem), the
    dimension side is the already-filtered customer (semi-join shape),
    and the top-10 is sort+limit (TakeOrderedAndProject — never a
    global window).  Revenue in integer cents (the Q10 lesson: a double
    sum diverges at the cent with summation order near a rounding
    boundary)."""
    d = "TIMESTAMP_NTZ '1995-03-15 00:00:00'"
    cust = (_t(spark, sf_dir, "customer")
            .where(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = (_t(spark, sf_dir, "orders")
              .where(F.expr(f"o_orderdate < {d}"))
              .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = (_t(spark, sf_dir, "lineitem")
          .where(F.expr(f"l_shipdate > {d}"))
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .groupBy("l_orderkey", "o_orderdate")
            .agg(F.sum(F.round(F.col("l_extendedprice")
                               * (1 - F.col("l_discount")) * 100, 0)
                       .cast("long")).alias("revenue_cents"))
            .orderBy(F.col("revenue_cents").desc(),
                     F.col("o_orderdate").asc(),
                     F.col("l_orderkey").asc())
            .limit(10))


def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 analog (local supplier volume): revenue per ASIA nation
    for 1996 orders where the supplier and the customer share a nation —
    the 6-way join with the EXTRA non-key equality (c_nationkey =
    s_nationkey) that makes join ORDER matter.  nation/region broadcast
    (tiny dims), the fact-side joins stay keyed, and the co-nationality
    predicate rides inside the supplier join condition so no post-join
    filter materializes the cross-nation pairs."""
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region")
                         .where(F.col("r_name") == "ASIA"))
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (_t(spark, sf_dir, "orders")
              .where(F.expr("o_orderdate >= TIMESTAMP_NTZ '1996-01-01 "
                            "00:00:00' AND o_orderdate < TIMESTAMP_NTZ "
                            "'1997-01-01 00:00:00'"))
              .select("o_orderkey", "o_custkey"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(supp, (li["l_suppkey"] == supp["s_suppkey"])
                  & (cust["c_nationkey"] == supp["s_nationkey"]))
            .join(nation, supp["s_nationkey"] == nation["n_nationkey"])
            .join(region, nation["n_regionkey"] == region["r_regionkey"])
            .groupBy("n_name")
            .agg(F.sum(F.round(F.col("l_extendedprice")
                               * (1 - F.col("l_discount")) * 100, 0)
                       .cast("long")).alias("revenue_cents"),
                 F.count(F.lit(1)).alias("n_items")))


def q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18 analog (large-volume customers): top-20 orders whose
    total line quantity exceeds 300 — the classic GROUP-BY-HAVING
    semi-join: the qualifying order set reduces FIRST (one map-side-
    combinable quantity sum + having), rides as a semi-join into the
    fact joins, and the final top-20 is sort+limit with deterministic
    tiebreaks.  Quantities are integer-valued doubles; the sum is exact
    and cast to long so the oracle value-hashes."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("qty"))
           .where(F.col("qty") > 300)
           .select("l_orderkey"))
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (li.join(big, "l_orderkey", "left_semi")
            .join(orders, F.col("l_orderkey") == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                     "o_totalprice")
            .agg(F.sum("l_quantity").cast("long").alias("total_qty"))
            .orderBy(F.col("o_totalprice").desc(),
                     F.col("o_orderdate").asc(),
                     F.col("o_orderkey").asc())
            .limit(20))


def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 analog (returned-item reporting): top-20 customers by
    revenue lost to returns in one quarter — return-flag and date
    filters pushed to the scans, nation broadcast, revenue grouped per
    customer, top-20 via sort+limit with the customer key as the
    deterministic tiebreak.  Revenue is summed in INTEGER CENTS
    (per-row round(price·(1−disc)·100) — the IEEE product is
    bit-identical in both engines, and the integer sum is order-free;
    a double sum over this many rows per group diverges at the cent
    with summation order — caught by the oracle on first run)."""
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal")
    orders = (_t(spark, sf_dir, "orders")
              .where(F.expr("o_orderdate >= TIMESTAMP_NTZ '1996-01-01 "
                            "00:00:00' AND o_orderdate < TIMESTAMP_NTZ "
                            "'1996-04-01 00:00:00'"))
              .select("o_orderkey", "o_custkey"))
    li = (_t(spark, sf_dir, "lineitem")
          .where(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(nation, cust["c_nationkey"] == nation["n_nationkey"])
            .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
            .agg(F.sum(F.round(F.col("l_extendedprice")
                               * (1 - F.col("l_discount")) * 100, 0)
                       .cast("long")).alias("revenue_cents"))
            .orderBy(F.col("revenue_cents").desc(),
                     F.col("c_custkey").asc())
            .limit(20))


def top_customer_per_nation(spark, sf_dir):
    """W1 argmax analog: deterministic window top-1 (R:133-160)."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (cust.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("c_nationkey").cast("int").alias("nationkey"),
                    F.col("c_custkey").alias("custkey"),
                    F.round("c_acctbal", 2).alias("acctbal")))


def link_score_agg(spark, sf_dir):
    """A6/W2 analog: per-key score aggregation with a floor, like the
    scanned-links map + getNextPage score>49 rule (R:395-403, R:677-687)."""
    ev = _t(spark, sf_dir, "events")
    score = F.when(F.col("event_type") == "click", 50) \
        .when(F.col("event_type") == "view", 25) \
        .when(F.col("event_type") == "purchase", 100) \
        .when(F.col("event_type") == "signup", 10) \
        .otherwise(-15)
    agg = (ev.groupBy("user_id")
           .agg(F.sum(score).cast("long").alias("total_score"),
                F.count(F.lit(1)).alias("n_events")))
    return agg.where(F.col("total_score") > 49)


def sibling_theta_join(spark, sf_dir):
    """J1 analog: self theta-join with a score threshold (R:582-607)."""
    cust = _t(spark, sf_dir, "customer")
    a = cust.select(F.col("c_nationkey").alias("nk"),
                    F.col("c_custkey").alias("ck_a"),
                    F.col("c_acctbal").alias("bal_a"))
    b = cust.select(F.col("c_nationkey").alias("nk"),
                    F.col("c_custkey").alias("ck_b"),
                    F.col("c_acctbal").alias("bal_b"))
    return (a.join(b, "nk")
            .where((F.col("ck_a") < F.col("ck_b"))
                   & (F.col("bal_b") >= 0.2 * F.col("bal_a"))
                   & (F.col("bal_a") > 0))
            .groupBy(F.col("nk").cast("int").alias("nationkey"))
            .agg(F.count(F.lit(1)).alias("n_pairs")))


def customers_without_orders(spark, sf_dir):
    """J2 anti-join analog (R:341 linksToSkip)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey,
                      "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_customers")))


def title_clean(spark, sf_dir):
    """F3 getTitle ' - ' rule (R:657-662): keep lhs if >= 3 words, else
    take the rhs after the separator."""
    part = _t(spark, sf_dir, "part")
    title = F.concat_ws(" - ", F.col("p_brand"), F.col("p_type"))
    lhs = F.regexp_replace(title, r"(.*) - .*", r"$1")
    rhs = F.regexp_replace(title, r"^.*? - ", "")
    cleaned = F.when(F.size(F.split(lhs, " ")) >= 3, lhs).otherwise(rhs)
    return part.select(F.col("p_partkey").alias("partkey"),
                       title.alias("title"),
                       cleaned.alias("title_clean"))


def word_counts(spark, sf_dir):
    """T8 split+explode: global top-20 words, deterministic rank."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.orderBy(F.col("n").desc(), F.col("word").asc())
    return (docs.select(F.explode(F.split(F.trim(F.col("text")), r"\s+"))
                        .alias("word"))
            .where(F.col("word") != "")
            .groupBy("word").agg(F.count(F.lit(1)).alias("n"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 20))


def cc_components(spark, sf_dir):
    """Stage-3 operator on a derived graph: large-star/small-star CC
    (operators.connected_components) incl. singleton handling.
    small_graph_rows=0 forces the DISTRIBUTED iterative path so the oracle
    keeps verifying it (the driver-local union-find fast path is verified
    by the same oracle via dedup_clusters and by the property test)."""
    from recrun_spark.operators import connected_components
    orders = _t(spark, sf_dir, "orders")
    edges = (orders.where(F.col("o_custkey") < 300)
             .select(F.col("o_custkey").alias("src"),
                     (F.col("o_custkey") % 97).alias("dst"))
             .distinct())
    comp = connected_components(edges, "src", "dst", small_graph_rows=0)
    nodes = (edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node"))).distinct())
    return (nodes.join(comp, "node", "left")
            .select("node",
                    F.coalesce("component", "node").alias("component")))


def kg_mentions_flat(spark, sf_dir):
    """Stage-2 analog on the flat documents table: broadcast-dict mention
    counting (north_rule stage 2)."""
    return (_mentions_df(spark, sf_dir)
            .groupBy("entity")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_mentions").cast("long").alias("n_mentions")))


def kg_comentions_flat(spark, sf_dir):
    """Stage-4 co-mention pair assembly on the flat documents table."""
    ments = _mentions_df(spark, sf_dir).select("doc_id", "entity").distinct()
    a = ments.select("doc_id", F.col("entity").alias("entity_a"))
    b = ments.select("doc_id", F.col("entity").alias("entity_b"))
    return (a.join(b, "doc_id")
            .where(F.col("entity_a") < F.col("entity_b"))
            .groupBy("entity_a", "entity_b")
            .agg(F.count(F.lit(1)).alias("n_docs")))


def kg_entity_pagerank(spark, sf_dir):
    """Entity importance over the doc↔entity mention graph
    (operators.pagerank — integer-arithmetic, bit-exact across engines):
    bipartite edges both ways between 'd<doc_id>' nodes and entity nodes,
    10 damped iterations.  One join + one keyed sum per iteration, O(E)
    per round.  Oracle: the identical 10 rounds unrolled as chained CTEs
    in DuckDB over the shared mentions CTE — int64 div/sum make the
    trajectories EQUAL, not approximately equal."""
    from recrun_spark.operators import pagerank
    ments = _mentions_df(spark, sf_dir).select("doc_id", "entity").distinct()
    de = ments.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src"),
        F.col("entity").alias("dst"))
    edges = de.union(de.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
    return _finalize(pagerank(edges, iterations=10))


def kg_entity_ppr(spark, sf_dir):
    """PERSONALIZED PageRank from the seed entity E_SPARK over the same
    bipartite mention graph (operators.personalized_pagerank — random
    walk with restart, Jeh & Widom WWW'03): teleport mass lands only on
    the seed, so ranks decay with distance and the top non-seed nodes
    are the seed's most-related docs/entities — the related-entity
    recommendation primitive, vs kg_entity_pagerank's global importance.
    Integer recurrence end to end (bit-exact); 4 rounds; the oracle
    unrolls the identical recurrence with the seed-gated teleport."""
    from recrun_spark.operators import personalized_pagerank
    ments = _mentions_df(spark, sf_dir).select("doc_id", "entity").distinct()
    de = ments.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src"),
        F.col("entity").alias("dst"))
    edges = de.union(de.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
    return _finalize(personalized_pagerank(edges, ["E_SPARK"],
                                           iterations=4))


def kg_entity_pagerank_weighted(spark, sf_dir):
    """WEIGHTED entity PageRank (operators.weighted_pagerank — out-link
    mass splits by edge weight): the mention graph weighted by MENTION
    COUNT instead of mere incidence, so an entity mentioned ten times in
    a doc pulls ten times the mass of a passing reference — the ranking
    the flat kg_entity_pagerank approximates.  4 rounds at scale 10⁹
    (rank·w headroom — see the operator docstring); the oracle unrolls
    the identical per-edge-divided recurrence."""
    from recrun_spark.operators import weighted_pagerank
    ments = (_mentions_df(spark, sf_dir)
             .groupBy("doc_id", "entity")
             .agg(F.count(F.lit(1)).alias("w")))
    de = ments.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src"),
        F.col("entity").alias("dst"), "w")
    edges = de.union(de.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst"), "w"))
    return _finalize(weighted_pagerank(edges, iterations=4, weight="w"))


def _wpagerank_sql(iters: int = 4, damping_pct: int = 85,
                   scale: int = 10 ** 9) -> str:
    """Weighted-pagerank oracle: mention-count edge weights, per-source
    out-weight totals, and the per-edge-divided recurrence
    rank·w // sw — unrolled chained CTEs, trajectory-equal."""
    base = (scale * (100 - damping_pct)) // 100
    rounds = [f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank "
              "FROM nodes)"]
    for i in range(1, iters + 1):
        rounds.append(f"""r{i} AS (
              SELECT n.node,
                     CAST({base} + ({damping_pct} * coalesce(c.s, 0)) // 100
                          AS BIGINT) AS rank
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum((p.rank * e.w) // sw.s) AS s
                FROM r{i - 1} p
                JOIN edges e ON e.src = p.node
                JOIN sw ON sw.src = p.node
                GROUP BY 1) c ON c.node = n.node)""")
    return f"""
        WITH {_MENTIONS_CTE},
        m AS (SELECT doc_id, entity, count(*)::BIGINT AS w FROM ments
              GROUP BY 1, 2),
        de AS (SELECT 'd' || CAST(doc_id AS VARCHAR) AS src,
                      entity AS dst, w FROM m),
        edges AS (SELECT src, dst, w FROM de
                  UNION ALL SELECT dst AS src, src AS dst, w FROM de),
        sw AS (SELECT src, sum(w) AS s FROM edges GROUP BY 1),
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst AS node FROM edges),
        {','.join(rounds)}
        SELECT node, rank FROM r{iters}
    """


def orders_dim_asof(spark, sf_dir):
    """BITEMPORAL LOOKUP — every order joined to the SCD2 customer
    dimension version VALID AT its order date (valid_from ≤ od < valid_to,
    null-open current versions): the point-in-time enrichment every
    versioned warehouse does after a type-2 merge, and the consumer side
    of customer_dim_scd2 (same dim construction, shared semantics: the
    half-open intervals mean an order ON the version boundary reads the
    NEW version).  Equality join on the customer key + interval filter —
    the dim is versions-per-key small, so the join stays keyed; exactly
    one version matches per order by SCD2 interval disjointness."""
    from pyspark.sql import Window

    from recrun_spark.operators import scd2_merge
    cust = _t(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.lit("NONE").alias("priority"),
        F.expr("TIMESTAMP_NTZ '1990-01-01 00:00:00'").alias("valid_from"),
        F.expr("CAST(NULL AS TIMESTAMP_NTZ)").alias("valid_to"),
        F.lit(True).alias("is_current"))
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    orders = _t(spark, sf_dir, "orders")
    upd = (orders
           .withColumn("_rn", F.row_number().over(w))
           .where(F.col("_rn") == 1)
           .select(F.col("o_custkey").alias("custkey"),
                   F.col("o_orderpriority").alias("priority"),
                   F.col("o_orderdate").alias("as_of")))
    versions = scd2_merge(dim, upd, "custkey", ["priority"], "as_of")
    out = (orders.select("o_orderkey",
                         F.col("o_custkey").alias("custkey"),
                         F.col("o_orderdate").alias("od"))
           .join(versions, "custkey")
           .where((F.col("valid_from") <= F.col("od").cast("timestamp_ntz"))
                  & (F.col("valid_to").isNull()
                     | (F.col("od").cast("timestamp_ntz")
                        < F.col("valid_to"))))
           .select("o_orderkey", "custkey",
                   F.col("priority").alias("priority_at_order"),
                   "valid_from"))
    return out


def kg_label_prop(spark, sf_dir):
    """Community detection over the doc↔entity mention graph
    (operators.label_propagation — synchronous deterministic LPA,
    Raghavan et al. 2007): 5 rounds of most-frequent-neighbor-label with
    a smallest-label tie-break, all (int64 count, string label)
    comparisons — no floats, no randomized visit order — so the oracle
    unrolls the identical recurrence as chained CTEs and the label
    trajectories are EQUAL, not approximately equal.  Same bipartite
    edge derivation as kg_entity_pagerank."""
    from recrun_spark.operators import label_propagation
    ments = _mentions_df(spark, sf_dir).select("doc_id", "entity").distinct()
    de = ments.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src"),
        F.col("entity").alias("dst"))
    edges = de.union(de.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
    return _finalize(label_propagation(edges, iterations=5))


def _label_prop_sql(iters: int = 5) -> str:
    """The LPA oracle: each synchronous round = one neighbor-label count
    + one per-node argmax (count desc, label asc) + keep-own-label for
    in-degree-0 nodes, unrolled as chained CTEs exactly like the
    pagerank oracle."""
    rounds = ["l0 AS (SELECT node, node AS label FROM nodes)"]
    for i in range(1, iters + 1):
        rounds.append(f"""c{i} AS (
              SELECT e.dst AS node, p.label, count(*) AS c
              FROM l{i - 1} p JOIN edges e ON e.src = p.node
              GROUP BY 1, 2),
        b{i} AS (
              SELECT node, label FROM (
                SELECT node, label,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, label ASC) AS rn
                FROM c{i}) WHERE rn = 1),
        l{i} AS (
              SELECT p.node, coalesce(b.label, p.label) AS label
              FROM l{i - 1} p LEFT JOIN b{i} b ON b.node = p.node)""")
    return f"""
        WITH {_MENTIONS_CTE},
        m AS (SELECT DISTINCT doc_id, entity FROM ments),
        de AS (SELECT 'd' || CAST(doc_id AS VARCHAR) AS src,
                      entity AS dst FROM m),
        edges AS (SELECT src, dst FROM de
                  UNION SELECT dst AS src, src AS dst FROM de),
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst AS node FROM edges),
        {','.join(rounds)}
        SELECT node, label FROM l{iters}
    """


def _pagerank_sql(iters: int = 10, damping_pct: int = 85,
                  scale: int = 10 ** 12) -> str:
    """The pagerank oracle: the same integer recurrence unrolled as
    chained CTEs (a recursive CTE can reference the recursive table only
    once, but one round needs it in both the contribution join and the
    all-nodes left join — unrolling sidesteps that and keeps each round
    literally readable)."""
    base = (scale * (100 - damping_pct)) // 100
    rounds = [f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank "
              "FROM nodes)"]
    for i in range(1, iters + 1):
        rounds.append(f"""r{i} AS (
              SELECT n.node,
                     CAST({base} + ({damping_pct} * coalesce(c.s, 0)) // 100
                          AS BIGINT) AS rank
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum(p.rank // d.out_deg) AS s
                FROM r{i - 1} p
                JOIN edges e ON e.src = p.node
                JOIN deg d ON d.src = p.node
                GROUP BY 1) c ON c.node = n.node)""")
    return f"""
        WITH {_MENTIONS_CTE},
        m AS (SELECT DISTINCT doc_id, entity FROM ments),
        de AS (SELECT 'd' || CAST(doc_id AS VARCHAR) AS src,
                      entity AS dst FROM m),
        edges AS (SELECT src, dst FROM de
                  UNION SELECT dst AS src, src AS dst FROM de),
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst AS node FROM edges),
        deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY 1),
        {','.join(rounds)}
        SELECT node, rank FROM r{iters}
    """


def _ppr_sql(iters: int = 4, damping_pct: int = 85,
             scale: int = 10 ** 12, seed: str = "E_SPARK") -> str:
    """Personalized-pagerank oracle: the pagerank rounds with the seed-
    gated teleport (base only where node = seed) and the seed-only
    initial mass — unrolled chained CTEs, trajectory-equal."""
    base = (scale * (100 - damping_pct)) // 100
    rounds = [f"r0 AS (SELECT node, CAST(CASE WHEN node = '{seed}' "
              f"THEN {scale} ELSE 0 END AS BIGINT) AS rank FROM nodes)"]
    for i in range(1, iters + 1):
        rounds.append(f"""r{i} AS (
              SELECT n.node,
                     CAST(CASE WHEN n.node = '{seed}' THEN {base}
                          ELSE 0 END
                          + ({damping_pct} * coalesce(c.s, 0)) // 100
                          AS BIGINT) AS rank
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum(p.rank // d.out_deg) AS s
                FROM r{i - 1} p
                JOIN edges e ON e.src = p.node
                JOIN deg d ON d.src = p.node
                GROUP BY 1) c ON c.node = n.node)""")
    return f"""
        WITH {_MENTIONS_CTE},
        m AS (SELECT DISTINCT doc_id, entity FROM ments),
        de AS (SELECT 'd' || CAST(doc_id AS VARCHAR) AS src,
                      entity AS dst FROM m),
        edges AS (SELECT src, dst FROM de
                  UNION SELECT dst AS src, src AS dst FROM de),
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst AS node FROM edges),
        deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY 1),
        {','.join(rounds)}
        SELECT node, rank FROM r{iters}
    """


def _bfs_sql(max_hops: int = 3, seed: str = "E_SPARK") -> str:
    """The BFS oracle: frontier rounds unrolled as chained CTEs — layer k
    is the frontier-join minus everything already settled, exactly the
    operator's anti-join recurrence."""
    rounds = [f"s0 AS (SELECT '{seed}' AS node, "
              "CAST(0 AS INTEGER) AS dist)"]
    for k in range(1, max_hops + 1):
        rounds.append(f"""f{k} AS (
              SELECT DISTINCT e.dst AS node
              FROM edges e
              JOIN s{k - 1} p ON e.src = p.node AND p.dist = {k - 1}
              WHERE e.dst NOT IN (SELECT node FROM s{k - 1})),
            s{k} AS (SELECT node, dist FROM s{k - 1}
                     UNION ALL
                     SELECT node, CAST({k} AS INTEGER) FROM f{k})""")
    return f"""
        WITH {_MENTIONS_CTE},
        m AS (SELECT DISTINCT doc_id, entity FROM ments),
        de AS (SELECT 'd' || CAST(doc_id AS VARCHAR) AS src,
                      entity AS dst FROM m),
        edges AS (SELECT src, dst FROM de
                  UNION SELECT dst AS src, src AS dst FROM de),
        {','.join(rounds)}
        SELECT node, dist FROM s{max_hops}
    """


def _finalize(df):
    """Materialize the (small) result and free operator-attached caches.
    The driver harness collects the returned frame but never calls
    release_caches, so a long-lived harness session would otherwise pin
    persisted shingle/candidate/probe frames for its lifetime (ADVICE
    r02).  localCheckpoint truncates the plan onto the materialized
    blocks, so the subsequent collect reads those, not the caches."""
    from recrun_spark.operators import release_caches
    out = df.localCheckpoint(eager=True)
    release_caches(df)
    return out


def kg_bfs_neighborhood(spark, sf_dir):
    """K-hop neighborhood expansion over the doc↔entity mention graph
    (operators.bfs_distances — frontier-based multi-source BFS, integer
    hop distances): every node within 3 hops of the seed entity E_SPARK.
    Hop 1 = docs mentioning it, hop 2 = entities co-mentioned with it,
    hop 3 = docs mentioning those.  Oracle: the same rounds unrolled as
    CTEs (layer k = frontier-join minus settled), set-exact."""
    from recrun_spark.operators import bfs_distances
    ments = _mentions_df(spark, sf_dir).select("doc_id", "entity").distinct()
    de = ments.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src"),
        F.col("entity").alias("dst"))
    edges = de.union(de.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
    seeds = spark.createDataFrame([("E_SPARK",)], ["node"])
    return _finalize(bfs_distances(edges, seeds, max_hops=3))


def kg_triangles(spark, sf_dir):
    """Per-node triangle counts (operators.triangle_counts — degree-
    ordered orientation, Suri & Vassilvitskii) over a deterministic
    ring-with-chords graph derived from the customer table: u—u+1, u—u+2,
    u—u+3 within custkey ≤ 500, so interior nodes close multiple
    triangles and boundary nodes fewer — a shape with verifiable
    non-uniform counts.  Oracle: the identical orientation + wedge-close
    joins in SQL, count-exact."""
    from recrun_spark.operators import triangle_counts
    cust = (_t(spark, sf_dir, "customer")
            .where(F.col("c_custkey") <= 500)
            .select(F.col("c_custkey").alias("u")))
    edges = (cust.select(
        "u", F.explode(F.array(*[F.col("u") + d for d in (1, 2, 3)]))
        .alias("dst"))
        .where(F.col("dst") <= 500)
        .select(F.col("u").alias("src"), "dst"))
    return _finalize(triangle_counts(edges))


def kg_clustering_coeff(spark, sf_dir):
    """LOCAL CLUSTERING COEFFICIENT per node — how interconnected each
    node's neighborhood is (the triangle-closure ratio Watts & Strogatz
    1998), composed from operators.triangle_counts (degree-ordered
    orientation — the skew-proof wedge join) plus one degree aggregate:
    cc_bp = (10⁴·2·T) div (deg·(deg−1)) in integer basis points (exact
    cross-engine; the float ratio can't value-hash), 0 for degree < 2.
    Same ring-with-chords graph as kg_triangles, so interior nodes read
    high closure and boundary nodes low — verifiable non-uniform values."""
    from recrun_spark.operators import triangle_counts
    cust = (_t(spark, sf_dir, "customer")
            .where(F.col("c_custkey") <= 500)
            .select(F.col("c_custkey").alias("u")))
    edges = (cust.select(
        "u", F.explode(F.array(*[F.col("u") + d for d in (1, 2, 3)]))
        .alias("dst"))
        .where(F.col("dst") <= 500)
        .select(F.col("u").alias("src"), "dst"))
    tri = triangle_counts(edges)
    sym = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    sym = (sym.union(sym.select(F.col("b").alias("a"),
                                F.col("a").alias("b")))
           .where(F.col("a") != F.col("b")).distinct())
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree"))
    out = (tri.join(deg, "node")
           .select("node", "n_triangles", "degree",
                   F.when(F.col("degree") >= 2,
                          F.expr("10000 * 2 * n_triangles "
                                 "div (degree * (degree - 1))"))
                   .otherwise(F.lit(0)).cast("long").alias("cc_bp")))
    return _finalize(out)


def documents_keywords_textrank(spark, sf_dir):
    """TEXTRANK keyword extraction (Mihalcea & Tarau EMNLP'04): integer
    PageRank over the corpus-wide word co-occurrence graph — adjacent
    words (window 2) become symmetric edges, 5 damped rounds rank the
    words, top-20 by (rank desc, word asc).  Reuses operators.pagerank
    verbatim, so the whole trajectory is bit-exact and the oracle
    unrolls the identical rounds over the same word graph.  Scale shape:
    the graph build is one row-local adjacent-pair explode + a distinct
    (edges ≪ corpus tokens); each round is one equi-join + one keyed
    sum; the final top-20 is sort+limit (TakeOrderedAndProject)."""
    from recrun_spark.functions.text import tokens_col
    from recrun_spark.operators import pagerank
    docs = _t(spark, sf_dir, "documents")
    arr = F.filter(tokens_col(F.lower(F.col("text"))),
                   lambda w: w != "")
    pairs = (docs.where(F.col("doc_id").isNotNull())
             .select(arr.alias("a"))
             .where(F.size("a") >= 2)
             .select(F.explode(F.transform(
                 F.sequence(F.lit(0), F.size("a") - 2),
                 lambda i: F.struct(F.get(F.col("a"), i).alias("x"),
                                    F.get(F.col("a"), i + 1).alias("y"))))
                 .alias("p"))
             .where(F.col("p.x") != F.col("p.y")))
    de = pairs.select(F.col("p.x").alias("src"), F.col("p.y").alias("dst"))
    edges = de.union(de.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
    pr = pagerank(edges, iterations=5)
    return _finalize(pr.orderBy(F.col("rank").desc(),
                                F.col("node").asc())
                     .limit(20)
                     .select(F.col("node").alias("word"), "rank"))


def _textrank_sql(iters: int = 5, damping_pct: int = 85,
                  scale: int = 10 ** 12, topk: int = 20) -> str:
    """TextRank oracle: the word co-occurrence graph (adjacent lowered
    whitespace tokens, self-pairs dropped, symmetrized + dedup'd) and
    the identical unrolled pagerank rounds, then top-k by
    (rank desc, word asc)."""
    base = (scale * (100 - damping_pct)) // 100
    rounds = [f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank "
              "FROM nodes)"]
    for i in range(1, iters + 1):
        rounds.append(f"""r{i} AS (
              SELECT n.node,
                     CAST({base} + ({damping_pct} * coalesce(c.s, 0)) // 100
                          AS BIGINT) AS rank
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum(p.rank // d.out_deg) AS s
                FROM r{i - 1} p
                JOIN edges e ON e.src = p.node
                JOIN deg d ON d.src = p.node
                GROUP BY 1) c ON c.node = n.node)""")
    return f"""
        WITH toks AS (
          SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             w -> w <> '') AS a
          FROM documents WHERE doc_id IS NOT NULL),
        prs AS (
          SELECT unnest(list_transform(range(1, len(a)),
                        i -> {{'x': a[i], 'y': a[i + 1]}})) AS p
          FROM toks WHERE len(a) >= 2),
        de AS (SELECT p.x AS src, p.y AS dst FROM prs WHERE p.x <> p.y),
        edges AS (SELECT src, dst FROM de
                  UNION SELECT dst AS src, src AS dst FROM de),
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst AS node FROM edges),
        deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY 1),
        {','.join(rounds)}
        SELECT node AS word, rank FROM r{iters}
        ORDER BY rank DESC, word ASC LIMIT {topk}
    """


def kg_neighborhood_hll(spark, sf_dir):
    """HYPERBALL 3-ball register tables over the mention graph
    (operators.hyperball — Boldi & Vigna ICDMW'13): every node's HLL
    table of its ≤3-hop neighborhood, the neighborhood-function /
    effective-diameter / closeness primitive at the scale where exact
    multi-source BFS state is infeasible but |V|·2^p registers is
    linear.  Registers are md5-portable (the events_user_hll scheme at
    p=4), so the oracle replays the identical max-merge rounds and the
    final table matches cell-for-cell — the ESTIMATES are sketch-exact
    by construction once the registers are."""
    from recrun_spark.operators import hyperball
    ments = _mentions_df(spark, sf_dir).select("doc_id", "entity").distinct()
    de = ments.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src"),
        F.col("entity").alias("dst"))
    return _finalize(hyperball(de, rounds=3, p=4))


def _hyperball_sql(rounds: int = 3, p: int = 4) -> str:
    """HyperBall oracle: the initial per-node register (md5 hash60, low
    ``p`` bits = register, bit-rank of the rest = rho) then ``rounds``
    max-merge rounds along the symmetrized edges, unrolled as
    MATERIALIZED CTEs — cell-for-cell equal to the operator."""
    m = 1 << p
    zrho = 60 - p + 1
    parts = []
    for i in range(1, rounds + 1):
        parts.append(f"""s{i} AS MATERIALIZED (
              SELECT node, reg, max(rho)::INT AS rho FROM (
                SELECT node, reg, rho FROM s{i - 1}
                UNION ALL
                SELECT e.dst AS node, s.reg, s.rho
                FROM s{i - 1} s JOIN edges e ON e.src = s.node)
              GROUP BY 1, 2)""")
    return f"""
        WITH {_MENTIONS_CTE},
        m AS (SELECT DISTINCT doc_id, entity FROM ments),
        de AS (SELECT 'd' || CAST(doc_id AS VARCHAR) AS src,
                      entity AS dst FROM m),
        edges AS (SELECT src, dst FROM de
                  UNION SELECT dst AS src, src AS dst FROM de),
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst AS node FROM edges),
        s0 AS MATERIALIZED (
          SELECT node, (h % {m})::INT AS reg,
                 (CASE WHEN h // {m} = 0 THEN {zrho}
                       ELSE {zrho} - length(bin(h // {m})) END)::INT AS rho
          FROM (SELECT node, ({_ddb_hash60("node")}) AS h FROM nodes)),
        {','.join(parts)}
        SELECT node, reg, rho AS max_rho FROM s{rounds}
    """


def kg_entity_jaccard(spark, sf_dir):
    """Structural same-as candidates (operators.neighborhood_jaccard —
    inverted-index join on the shared neighbor, never all-pairs): Jaccard
    neighbor-set overlap over the doc↔entity bipartite graph, docs
    restricted to doc_id < 150 to bound the candidate volume at oracle
    scale.  Doc-doc pairs share mentioned entities; entity-entity pairs
    share mentioning docs.  All-integer output (common, union, scaled
    quotient) — bit-exact."""
    from recrun_spark.operators import neighborhood_jaccard
    ments = (_mentions_df(spark, sf_dir)
             .where(F.col("doc_id") < 150)
             .select("doc_id", "entity").distinct())
    de = ments.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src"),
        F.col("entity").alias("dst"))
    return _finalize(neighborhood_jaccard(de, min_intersection=2))


def kg_kcore(spark, sf_dir):
    """Dense-core extraction (operators.kcore — iterative peeling to the
    maximal min-degree-≥k subgraph) over a derived clique graph:
    size-10 cliques (custkey 1-100, in-clique degree 8-9), size-≤5
    cliques (custkey 101-200, degree ≤4), one bridge each between them.
    At k=8 every small-clique node peels in round 1 and the big cliques
    survive on their in-clique degree alone — including the size-9
    boundary clique at EXACTLY degree 8, pinning the inclusive ≥ —
    so the fixpoint lands in 2 rounds and the oracle's 4 unrolled
    peel rounds (extra rounds are no-ops at the fixpoint) reproduce it
    row-for-row.  The clique floor makes the construction cascade-free:
    unbounded peel cascades (chains) can't be unrolled in SQL."""
    from recrun_spark.operators import kcore
    cust = (_t(spark, sf_dir, "customer")
            .select(F.col("c_custkey").alias("u")))
    big = cust.where(F.col("u").between(1, 100))
    small = cust.where(F.col("u").between(101, 200))

    def clique(nodes, width):
        a = nodes.select(F.col("u").alias("src"),
                         F.expr(f"u div {width}").alias("_g"))
        b = nodes.select(F.col("u").alias("dst"),
                         F.expr(f"u div {width}").alias("_g"))
        return (a.join(b, "_g")
                .where(F.col("src") < F.col("dst"))
                .select("src", "dst"))

    bridges = big.select(F.col("u").alias("src"),
                         (F.col("u") + 100).alias("dst"))
    edges = clique(big, 10).union(clique(small, 5)).union(bridges)
    return _finalize(kcore(edges, k=8))


def _kcore_sql(k: int = 8, rounds: int = 4) -> str:
    """The k-core oracle: the same peel recurrence unrolled (round i =
    degrees over round i-1's surviving edges, keep nodes ≥ k, restrict
    both endpoints) — valid because the driver graph converges within
    ``rounds`` and extra rounds are no-ops at the fixpoint."""
    parts = []
    for i in range(1, rounds + 1):
        parts.append(f"""d{i} AS (SELECT u, count(*) AS c FROM r{i - 1}
                          GROUP BY 1),
            k{i} AS (SELECT u FROM d{i} WHERE c >= {k}),
            r{i} AS (SELECT r.u, r.v FROM r{i - 1} r
                     JOIN k{i} a ON a.u = r.u
                     JOIN k{i} b ON b.u = r.v)""")
    return f"""
        WITH cust AS (SELECT c_custkey AS u FROM customer),
        big AS (SELECT u FROM cust WHERE u BETWEEN 1 AND 100),
        small AS (SELECT u FROM cust WHERE u BETWEEN 101 AND 200),
        raw(src, dst) AS (
          SELECT a.u, b.u FROM big a JOIN big b
            ON a.u // 10 = b.u // 10 AND a.u < b.u
          UNION ALL
          SELECT a.u, b.u FROM small a JOIN small b
            ON a.u // 5 = b.u // 5 AND a.u < b.u
          UNION ALL
          SELECT u, u + 100 FROM big),
        r0 AS (SELECT src AS u, dst AS v FROM raw WHERE src <> dst
               UNION SELECT dst, src FROM raw WHERE src <> dst),
        {','.join(parts)}
        SELECT u AS node, count(*)::BIGINT AS core_deg
        FROM r{rounds} GROUP BY 1
    """


def kg_truss(spark, sf_dir):
    """Community-backbone extraction (operators.ktruss — support peeling
    to the maximal every-edge-in-≥k−2-triangles subgraph, the EDGE
    analog of kg_kcore) over a derived clique graph: size-10 cliques
    (custkey 1-100, in-clique edge support 8), size-5 cliques (101-200,
    support 3), one bridge each (support 0 — endpoints share no
    neighbor).  At k=6 (support ≥4) the small cliques and bridges peel
    in round 1 and the big cliques survive on in-clique support alone —
    no triangle spans components, so the construction is cascade-free
    (the kg_kcore argument) and the oracle's 3 unrolled peel rounds
    reproduce the fixpoint row-for-row."""
    from recrun_spark.operators import ktruss
    cust = (_t(spark, sf_dir, "customer")
            .select(F.col("c_custkey").alias("u")))
    big = cust.where(F.col("u").between(1, 100))
    small = cust.where(F.col("u").between(101, 200))

    def clique(nodes, width):
        a = nodes.select(F.col("u").alias("src"),
                         F.expr(f"u div {width}").alias("_g"))
        b = nodes.select(F.col("u").alias("dst"),
                         F.expr(f"u div {width}").alias("_g"))
        return (a.join(b, "_g")
                .where(F.col("src") < F.col("dst"))
                .select("src", "dst"))

    bridges = big.select(F.col("u").alias("src"),
                         (F.col("u") + 100).alias("dst"))
    edges = clique(big, 10).union(clique(small, 5)).union(bridges)
    return _finalize(ktruss(edges, k=6))


def _ktruss_sql(k: int = 6, rounds: int = 3) -> str:
    """The k-truss oracle: the peel recurrence unrolled — round i =
    per-edge triangle support over round i-1's survivors (degree-ordered
    orientation + wedge join + triangle→edge explode, the operator's own
    shape) then keep support ≥ k−2.  Valid because the driver graph
    converges within ``rounds`` (extra rounds are no-ops).  Support CTEs
    MATERIALIZED — each round references the prior one several times and
    plain CTE inlining goes exponential (the BPE lesson)."""
    thr = k - 2
    parts = []
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(f"""sy{i} AS (SELECT u, v FROM e{p}
                         UNION ALL SELECT v, u FROM e{p}),
            dg{i} AS (SELECT u, count(*) AS c FROM sy{i} GROUP BY 1),
            o{i} AS MATERIALIZED (
              SELECT s.u, s.v, dv.c AS dv FROM sy{i} s
              JOIN dg{i} du ON du.u = s.u
              JOIN dg{i} dv ON dv.u = s.v
              WHERE du.c < dv.c OR (du.c = dv.c AND s.u < s.v)),
            w{i} AS (SELECT o1.u, o1.v AS a, o2.v AS b
                     FROM o{i} o1 JOIN o{i} o2 ON o1.u = o2.u
                     WHERE o1.dv < o2.dv
                        OR (o1.dv = o2.dv AND o1.v < o2.v)),
            t{i} AS (SELECT w.u, w.a, w.b FROM w{i} w
                     JOIN o{i} o ON o.u = w.a AND o.v = w.b),
            te{i} AS (SELECT least(u, a) AS x, greatest(u, a) AS y FROM t{i}
                      UNION ALL
                      SELECT least(u, b), greatest(u, b) FROM t{i}
                      UNION ALL
                      SELECT least(a, b), greatest(a, b) FROM t{i}),
            s{i} AS MATERIALIZED (
              SELECT e.u, e.v, coalesce(c.n, 0)::BIGINT AS support
              FROM e{p} e LEFT JOIN (
                SELECT x, y, count(*) AS n FROM te{i} GROUP BY 1, 2) c
                ON c.x = e.u AND c.y = e.v),
            e{i} AS MATERIALIZED (SELECT u, v FROM s{i}
                                  WHERE support >= {thr})""")
    return f"""
        WITH cust AS (SELECT c_custkey AS u FROM customer),
        big AS (SELECT u FROM cust WHERE u BETWEEN 1 AND 100),
        small AS (SELECT u FROM cust WHERE u BETWEEN 101 AND 200),
        raw(src, dst) AS (
          SELECT a.u, b.u FROM big a JOIN big b
            ON a.u // 10 = b.u // 10 AND a.u < b.u
          UNION ALL
          SELECT a.u, b.u FROM small a JOIN small b
            ON a.u // 5 = b.u // 5 AND a.u < b.u
          UNION ALL
          SELECT u, u + 100 FROM big),
        e0 AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
               FROM raw WHERE src <> dst),
        {','.join(parts)}
        SELECT u AS src, v AS dst, support FROM s{rounds}
        WHERE support >= {thr}
    """


def kg_entity_matching(spark, sf_dir):
    """Degree-1 assignment over the doc↔entity mention graph
    (operators.maximal_matching — Israeli-Itai locally-minimal-edge
    rounds derandomized with md5 priorities): each round matches every
    live edge that is the priority minimum at BOTH endpoints, then
    removes the endpoints — the one-doc-per-entity pairing an eval-split
    or ER merge round needs.  Exactly 3 rounds in both engines (the
    fixed-prefix oracle mode), so the trajectory — including round
    numbers — is replayed by the unrolled SQL verbatim."""
    from recrun_spark.operators import maximal_matching
    ments = _mentions_df(spark, sf_dir).select("doc_id", "entity").distinct()
    de = ments.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src"),
        F.col("entity").alias("dst"))
    return _finalize(maximal_matching(de, rounds=3))


def _matching_sql(rounds: int = 3) -> str:
    """Matching oracle: canonical (least, greatest) mention edges with
    the md5 priority string (hash60 zero-padded + edge tie-break), then
    ``rounds`` unrolled select-and-remove rounds; the result is the
    union of every round's selections with its round number."""
    pri = _ddb_hash60("u || '|' || v")
    parts, sels = [], []
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(f"""mp{i} AS (
              SELECT node, min(p) AS mp FROM (
                SELECT u AS node, p FROM l{p}
                UNION ALL SELECT v, p FROM l{p}) GROUP BY 1),
            sel{i} AS MATERIALIZED (
              SELECT l.u, l.v FROM l{p} l
              JOIN mp{i} a ON a.node = l.u AND a.mp = l.p
              JOIN mp{i} b ON b.node = l.v AND b.mp = l.p),
            cov{i} AS (SELECT u AS node FROM sel{i}
                       UNION SELECT v FROM sel{i}),
            l{i} AS MATERIALIZED (
              SELECT * FROM l{p}
              WHERE u NOT IN (SELECT node FROM cov{i})
                AND v NOT IN (SELECT node FROM cov{i}))""")
        sels.append(f"SELECT u AS src, v AS dst, {i}::INTEGER AS "
                    f"matched_round FROM sel{i}")
    return f"""
        WITH {_MENTIONS_CTE},
        m AS (SELECT DISTINCT doc_id, entity FROM ments),
        e0 AS (SELECT DISTINCT
                 least('d' || CAST(doc_id AS VARCHAR), entity) AS u,
                 greatest('d' || CAST(doc_id AS VARCHAR), entity) AS v
               FROM m),
        l0 AS MATERIALIZED (
          SELECT u, v, lpad(CAST({pri} AS VARCHAR), 19, '0')
                       || '|' || u || '|' || v AS p
          FROM e0),
        {','.join(parts)}
        {' UNION ALL '.join(sels)}
    """


def customer_mst(spark, sf_dir):
    """Minimum spanning forest (operators.boruvka_mst — Borůvka rounds,
    every component grabs its min outgoing edge, O(log V) rounds) over a
    derived weighted graph with a PROVABLE closed-form MST: 20 blocks of
    10 customers, intra-block cliques weighted w(u,v) = v·1000+u (all
    distinct; within a block every vertex's cheapest edge goes to the
    block minimum b0, and by the cut/Kruskal argument the block MST is
    exactly the star on b0), plus ONE bridge per consecutive block pair
    (weights 10⁷−k·1000, far above any intra weight; a unique connector
    is in every spanning forest).  MST = the 180 star edges + the 19
    bridges — the oracle states that closed form; the ALGORITHM's
    general correctness is Kruskal-differential-tested in
    test_boruvka_mst_semantics.  The decreasing bridge weights force a
    19-deep contraction chain in round 2 (block k's min outgoing is
    bridge k→k+1), exercising the min-label contraction far from the
    trivial star case."""
    from recrun_spark.operators import boruvka_mst
    cust = (_t(spark, sf_dir, "customer")
            .where(F.col("c_custkey").between(1, 200))
            .select(F.col("c_custkey").alias("u")))
    g = cust.withColumn("_g", F.expr("(u - 1) div 10"))
    a = g.select(F.col("u").alias("src"), "_g")
    b = g.select(F.col("u").alias("dst"), "_g")
    intra = (a.join(b, "_g").where(F.col("src") < F.col("dst"))
             .select("src", "dst",
                     (F.col("dst") * 1000 + F.col("src")).alias("weight")))
    bridges = (cust.where((F.col("u") % 10 == 0) & (F.col("u") < 200))
               .select(F.col("u").alias("src"),
                       (F.col("u") + 1).alias("dst"),
                       (F.lit(10000000)
                        - (F.expr("u div 10") - 1) * 1000).alias("weight")))
    return _finalize(boruvka_mst(intra.union(bridges)))


def _phonetic_sql() -> str:
    """Soundex oracle: the identical translate + RE2 regexp chain (h/w
    removed from the tail, digit-class translate, per-class run
    collapse — no backreferences — zero strip, first-code drop, pad),
    character-for-character equal to text.phonetic_key."""
    from recrun_spark.functions.text import _SOUNDEX_TO
    d = "translate(first || tail, 'abcdefghijklmnopqrstuvwxyz', " \
        f"'{_SOUNDEX_TO}')"
    for c in "0123456":
        d = f"regexp_replace({d}, '{c}{{2,}}', '{c}', 'g')"
    d = f"replace({d}, '0', '')"
    return f"""
        WITH toks AS (
          SELECT unnest(list_filter(string_split_regex(trim(lower(text)),
                                                       '\\s+'),
                        t -> t <> '')) AS raw
          FROM documents),
        w AS (SELECT DISTINCT regexp_replace(raw, '[^a-z]', '', 'g')
                     AS word FROM toks),
        w2 AS (SELECT word, substr(word, 1, 1) AS first,
                      regexp_replace(substr(word, 2), '[hw]', '', 'g')
                      AS tail
               FROM w WHERE word <> ''),
        c AS (SELECT word, first, {d} AS d,
                     translate(first, 'abcdefghijklmnopqrstuvwxyz',
                               '{_SOUNDEX_TO}') AS fc
              FROM w2),
        coded AS (SELECT word,
                    upper(first) || substr(
                      (CASE WHEN fc = '0' THEN d ELSE substr(d, 2) END)
                      || '000', 1, 3) AS code
                  FROM c),
        sizes AS (SELECT code, count(*)::BIGINT AS block_n FROM coded
                  GROUP BY 1)
        SELECT coded.word, coded.code, sizes.block_n
        FROM coded JOIN sizes USING (code)
    """


def dedup_jaccard_prefix(spark, sf_dir):
    """Exact Jaccard pairs by PREFIX FILTERING (functions.dedup.
    jaccard_pairs_prefix — AllPairs/PPJoin family): the guaranteed-
    complete candidate generator (rarest-first global shingle order,
    index only each doc's prefix) — no df-cut approximation anywhere.
    Oracle: the full no-cut inverted-index Jaccard in SQL."""
    from recrun_spark.functions.dedup import jaccard_pairs_prefix
    return _finalize(jaccard_pairs_prefix(_t(spark, sf_dir, "documents"),
                                          threshold=0.30))


def documents_tfidf_topk(spark, sf_dir):
    """Top-3 characteristic terms per document by integer-surrogate
    TF-IDF (functions.text.tfidf_top_terms): score = tf·((10⁶·N) div df),
    monotone in tf·N/df and all-int64, so the DuckDB oracle reproduces
    every score bit-for-bit (float log-idf can't be value-hashed)."""
    from recrun_spark.functions.text import tfidf_top_terms
    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def documents_bm25_topk(spark, sf_dir):
    """Top-10 documents for a 3-term query by integer-surrogate BM25
    (functions.text.bm25_topk — Robertson k1=1.2/b=0.75 as exact
    rationals, idf = the scaled (N-df+.5)/(df+.5) ratio): the retrieval
    step of a RAG / quality-mining pipeline, float-free so DuckDB
    reproduces every score bit-for-bit.  Global top-k is sort+limit
    (TakeOrdered), never a corpus-wide single-partition window."""
    from recrun_spark.functions.text import bm25_topk
    return bm25_topk(_t(spark, sf_dir, "documents"),
                     ["spark", "vector", "stream"], k=10)


def orders_skyline(spark, sf_dir):
    """Pareto frontier of orders on (order day asc, total price asc) —
    the 2-D skyline / dominance query (operators.skyline2d, Börzsönyi
    ICDE'01) via the two-phase distributed prefix-min: per-day minima,
    bucketed exclusive prefix-min through a bounded driver exchange,
    interior running min parallel per bucket — no O(n²) NOT-EXISTS, no
    global-ORDER-BY window.  Day = floor of epoch-microseconds
    (NTZ-safe, the events_zorder_key convention); price is compared,
    never computed on, so doubles value-hash exactly."""
    from recrun_spark.operators import skyline2d
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("cast(timestampdiff(MICROSECOND, "
               "timestamp'1970-01-01 00:00:00', o_orderdate) "
               "div 86400000000 as bigint)").alias("day"),
        "o_totalprice")
    return _finalize(skyline2d(o, "day", "o_totalprice", bucket_width=256))


def documents_fuzzy_aliases(spark, sf_dir):
    """Edit-distance-≤1 alias hits over distinct corpus tokens
    (functions.text.fuzzy_token_match — SymSpell deletion-neighborhood
    blocking): candidate generation is an EQUI-join on single-deletion
    variants (linear explode volume), exactness restored by a
    levenshtein verify on candidates only — never the tokens×aliases
    BroadcastNestedLoop the naive predicate join plans.  Both engines
    implement classic unit-cost Levenshtein, so distances value-hash."""
    from recrun_spark.functions.text import fuzzy_token_match
    aliases = spark.createDataFrame(FLAT_ALIASES, ["alias", "entity"])
    return fuzzy_token_match(_t(spark, sf_dir, "documents"), aliases)


def orders_sssp(spark, sf_dir):
    """Weighted shortest paths over the customer↔order-hub bipartite
    graph (operators.sssp — Bellman-Ford rounds, int64 add/min, bit-
    exact): 4 relaxation rounds from customer 1; parallel edges reduce
    to min weight up front.  Oracle: the identical rounds unrolled as
    chained CTEs (the bfs/pagerank discipline)."""
    from recrun_spark.operators import sssp
    o = _t(spark, sf_dir, "orders")
    half = o.select(F.col("o_custkey").alias("src"),
                    ((F.col("o_orderkey") % 211) + 1000000).alias("dst"),
                    ((F.col("o_orderkey") % 9) + 1).alias("w"))
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                    "w"))
    return _finalize(sssp(edges, [1], rounds=4))


def _sssp_sql(rounds: int = 4) -> str:
    """The SSSP oracle: each relaxation round = carried distances UNION
    (distances + edge weight over the src join), node-keyed min —
    unrolled as chained CTEs."""
    steps = ["d0 AS (SELECT CAST(1 AS BIGINT) AS node, "
             "CAST(0 AS BIGINT) AS dist)"]
    for i in range(1, rounds + 1):
        steps.append(f"""d{i} AS (
              SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
                SELECT p.node, p.dist FROM d{i - 1} p
                UNION ALL
                SELECT e.dst AS node, p.dist + e.w AS dist
                FROM d{i - 1} p JOIN edges e ON e.src = p.node)
              GROUP BY 1)""")
    return f"""
        WITH half AS (
          SELECT o_custkey AS src,
                 (o_orderkey % 211) + 1000000 AS dst,
                 (o_orderkey % 9) + 1 AS w
          FROM orders
          WHERE o_custkey IS NOT NULL AND o_orderkey IS NOT NULL),
        sym AS (SELECT src, dst, w FROM half
                UNION ALL SELECT dst, src, w FROM half),
        edges AS (SELECT src, dst, CAST(min(w) AS BIGINT) AS w
                  FROM sym GROUP BY 1, 2),
        {','.join(steps)}
        SELECT node, dist FROM d{rounds}
    """


def events_resample_1h(spark, sf_dir):
    """Hourly per-user time-grid resampling with forward fill
    (functions.events.resample_ffill — time_bucket_gapfill + locf as a
    batch operator): per-(user, hour) last-event reduce FIRST, grid
    exploded off each user's [min, max] hour span, last-non-null window
    per user.  Buckets are pure integer epoch-µs arithmetic (NTZ-safe);
    values pass through untouched, so doubles value-hash."""
    from recrun_spark.functions.events import resample_ffill
    return resample_ffill(_t(spark, sf_dir, "events"))


def documents_shuffle_order(spark, sf_dir):
    """Deterministic global training-shuffle order (operators.
    global_rank): every document's exact 0-based position in
    md5(doc_id) order — the epoch-shuffle layout step of a pretraining
    loader — computed by the two-phase prefix-count pattern (per-bucket
    COUNTS through a bounded driver exchange, interior ranks parallel
    per bucket), never the single-partition window a global row_number
    plans.  md5 hex is identical in both engines, so positions are
    row-exact."""
    from recrun_spark.operators import global_rank
    d = (_t(spark, sf_dir, "documents")
         .where(F.col("doc_id").isNotNull())
         .select("doc_id",
                 F.md5(F.col("doc_id").cast("string")).alias("_k")))
    return _finalize(global_rank(d, "_k")
                     .select("doc_id",
                             F.col("rank").alias("shuffle_pos")))


def customer_hierarchy(spark, sf_dir):
    """Ancestor closure with exact depths over the synthetic decimal
    customer hierarchy (parent = custkey div 10; operators.
    ancestor_closure — POINTER DOUBLING, ⌈log₂ h⌉ composition joins
    instead of the h sequential self-joins a recursive CTE walks).
    Oracle: DuckDB's actual recursive CTE — the two strategies must
    enumerate the identical (node, ancestor, dist) set."""
    from recrun_spark.operators import ancestor_closure
    c = (_t(spark, sf_dir, "customer")
         .where(F.col("c_custkey").isNotNull() & (F.col("c_custkey") >= 1))
         .select(F.col("c_custkey").alias("child"),
                 F.expr("c_custkey div 10").alias("parent")))
    return _finalize(ancestor_closure(c))


def embeddings_quantize_int8(spark, sf_dir):
    """Per-vector max-abs scalar quantization of the embedding corpus to
    int8 codes — the storage/bandwidth step of a vector pipeline (the
    SQ8 of FAISS, minus codebook training).  All math is the SAME IEEE
    double expression in both engines (float32 → float64 widening is
    exact; ×127/scale is one multiply + one divide; floor truncates the
    shared result), so codes and scales value-hash with no float fuzz.
    Zero vectors quantize to zeros (no 0/0).  Pure higher-order array
    expressions over one scan — no shuffle, no UDF."""
    emb = (_t(spark, sf_dir, "embeddings")
           .where(F.col("vec_id").isNotNull()
                  & F.col("embedding").isNotNull()))
    mx = F.array_max(F.transform(F.col("embedding"),
                                 lambda x: F.abs(x))).cast("double")
    q = (F.when(mx == 0.0,
                F.transform(F.col("embedding"), lambda x: F.lit(0)))
         .otherwise(F.transform(
             F.col("embedding"),
             lambda x: F.floor(x.cast("double") * F.lit(127.0) / mx)
             .cast("int"))))
    return emb.select("vec_id", mx.alias("scale"), q.alias("q8"))


def documents_fingerprint(spark, sf_dir):
    """Order-independent per-language table checksum — the cross-cluster
    integrity/anti-entropy primitive (diff two replicas of a 100 TB
    table by exchanging one row per partition-group, not the data):
    bit_xor of a portable md5-derived 60-bit row hash (dedup._hash60)
    plus a row count per group.  XOR is commutative/associative, so the
    checksum is independent of partitioning and row order; an EVEN
    number of copies of the same row cancels in the xor (an odd extra
    flips it) — the count column is what catches even-copy drift.
    NULL fields fold as a sentinel so (NULL) and ('') differ."""
    from recrun_spark.functions.dedup import _hash60
    d = _t(spark, sf_dir, "documents")
    row = F.concat_ws(
        "\x1f",
        F.coalesce(F.col("doc_id").cast("string"), F.lit("\x00N")),
        F.coalesce(F.col("text"), F.lit("\x00N")),
        F.coalesce(F.col("lang"), F.lit("\x00N")),
        F.coalesce(F.col("source"), F.lit("\x00N")),
        F.coalesce(F.col("n_chars").cast("string"), F.lit("\x00N")))
    return (d.groupBy(F.coalesce(F.col("lang"), F.lit("?")).alias("lang"))
            .agg(F.bit_xor(_hash60(row)).alias("checksum"),
                 F.count(F.lit(1)).cast("long").alias("n_rows")))


def join_size_estimate(spark, sf_dir):
    """Pre-shuffle join-size estimation (functions.sketch.cms_join_size
    — the CMS inner-product estimator): size events ⋈ orders on the
    user/customer key from two 4×256 sketches, next to the exact count
    the estimate bounds from above.  All-integer, so both numbers
    value-hash; the oracle rebuilds the identical sketches cell-for-cell
    and takes the same row-wise min."""
    from recrun_spark.functions.sketch import cms_join_size, count_min_sketch
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    od = _t(spark, sf_dir, "orders").where(F.col("o_custkey").isNotNull())
    est = cms_join_size(count_min_sketch(ev, "user_id"),
                        count_min_sketch(od, "o_custkey"))
    exact = (ev.join(od, ev.user_id == od.o_custkey)
             .agg(F.count(F.lit(1)).cast("long").alias("exact_rows")))
    return est.crossJoin(exact)


def bloom_join_reduce(spark, sf_dir):
    """Bloom semi-join reduction (functions.sketch.bloom_prefilter —
    predicate transfer): customers of ONE nation build a 16384-bit/6-hash
    filter; the events fact table is pre-filtered AT THE SCAN to
    maybe-members before the exact join, so the shuffle only ever sees
    true matches + the false-positive sliver.  Output: how many fact rows
    survived the Bloom filter, how many actually join, and the distinct
    matched users — all integers, and the md5-derived bit positions are
    engine-portable, so even the false-positive count value-hashes."""
    from recrun_spark.functions.sketch import bloom_bits, bloom_prefilter
    cust = (_t(spark, sf_dir, "customer")
            .where(F.col("c_nationkey") == 2).select("c_custkey"))
    # ≤ 16384 rows by construction — the sketch IS the bounded transfer
    positions = [r["pos"] for r in bloom_bits(cust, "c_custkey").collect()]
    pre = bloom_prefilter(_t(spark, sf_dir, "events"), "user_id", positions)
    j = pre.join(F.broadcast(cust), pre.user_id == cust.c_custkey, "left")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("prefiltered_rows"),
        F.count("c_custkey").cast("long").alias("joined_rows"),
        F.count_distinct(F.when(F.col("c_custkey").isNotNull(),
                                F.col("user_id"))).cast("long")
        .alias("matched_users"))


def events_kmv_overlap(spark, sf_dir):
    """Theta/KMV segment overlap (functions.sketch.kmv_sketch/
    kmv_overlap — Beyer et al. SIGMOD'07): estimate the distinct-user
    sizes of two behavioral segments (high-value purchasers vs
    high-value clickers) AND their intersection from two 64-value
    sketches, next to the exact answers.  Set intersection is the
    question HLL registers cannot answer; here it costs k rows per
    segment.  All-integer estimates (decimal-exact integral division),
    so every column value-hashes cross-engine."""
    from recrun_spark.functions.sketch import kmv_overlap, kmv_sketch
    ev = _t(spark, sf_dir, "events")

    def seg(t):
        return ev.where((F.col("event_type") == t) & (F.col("value") >= 150))

    est = kmv_overlap(kmv_sketch(seg("purchase"), "user_id"),
                      kmv_sketch(seg("click"), "user_id"))
    pa = seg("purchase").select("user_id").distinct()
    pb = seg("click").select("user_id").distinct()
    exact = (pa.agg(F.count(F.lit(1)).cast("long").alias("exact_a"))
             .crossJoin(pb.agg(F.count(F.lit(1)).cast("long")
                               .alias("exact_b")))
             .crossJoin(pa.join(pb, "user_id")
                        .agg(F.count(F.lit(1)).cast("long")
                             .alias("exact_common"))))
    return est.crossJoin(exact)


def documents_pps_sample(spark, sf_dir):
    """Importance-weighted corpus subsampling (functions.sampling.
    pps_sample — Poisson PPS, Hájek 1964): keep each document with
    probability min(1, T·n_chars/Σn_chars) at T=300, so long documents
    are preferentially retained and the expected sample size is ≤ T.
    The keep rule is an exact integer cross-multiplication in
    decimal(38)/HUGEINT, so the kept set is row-for-row identical in
    both engines."""
    from recrun_spark.functions.sampling import pps_sample
    docs = _t(spark, sf_dir, "documents")
    return (pps_sample(docs, "n_chars", 300, key_col="doc_id")
            .select("doc_id", "lang", F.col("n_chars").cast("long")
                    .alias("n_chars")))


def events_heavy_hitters(spark, sf_dir):
    """Exact heavy hitters WITHOUT a full-key groupBy (functions.sketch.
    heavy_hitters_dyadic — Cormode & Muthukrishnan hierarchical HH):
    dyadic CMS drill-down finds candidate users, an exact verify pass
    over `key IN (candidates)` removes the sketch's false positives —
    so the result equals the plain GROUP BY ... HAVING answer (the
    oracle IS that plain query), while the distributed work stays
    bounded-cells + a few-hundred-key filtered aggregate."""
    from recrun_spark.functions.sketch import heavy_hitters_dyadic
    ev = _t(spark, sf_dir, "events")
    return heavy_hitters_dyadic(ev, "user_id", threshold=80, levels=21)


def documents_interleave_mix(spark, sf_dir):
    """Deterministic data-mixing schedule (functions.sampling.
    interleave_mix — smooth weighted round-robin): interleave the
    five language corpora at 3:1:1:1:1 so every prefix of the training
    stream realizes the target mixture within ±5 items; positions come
    from the two-phase global_rank (no global sort, no per-group
    single-partition window), and the whole schedule is integer-exact,
    so it value-hashes row-for-row."""
    from recrun_spark.functions.sampling import interleave_mix
    docs = _t(spark, sf_dir, "documents")
    return interleave_mix(docs, "lang",
                          {"en": 3, "zh": 1, "es": 1, "de": 1, "fr": 1},
                          key_col="doc_id")


def documents_dup_spans(spark, sf_dir):
    """ExactSubstr-style duplicated-span profile (functions.dedup.
    duplicated_spans — Lee et al. ACL'22): per doc, how many of its
    8-token sliding windows occur verbatim in ≥2 distinct docs.  The
    cross-doc complement to whole-doc near-dup scoring; the min_docs
    threshold doubles as the df-cut that keeps the span index tiny."""
    from recrun_spark.functions.dedup import duplicated_spans
    return duplicated_spans(_t(spark, sf_dir, "documents"),
                            n=8, min_docs=2)


def documents_ngram_lm(spark, sf_dir):
    """Pruned corpus trigram count table (functions.text.ngram_counts —
    the KenLM-style LM-counts product): occurrences WITH multiplicity,
    min_count=3 prune keeps the Zipf head."""
    from recrun_spark.functions.text import ngram_counts
    return ngram_counts(_t(spark, sf_dir, "documents"), n=3, min_count=3)


def documents_lm_coverage(spark, sf_dir):
    """Per-doc LM-head coverage (functions.text.lm_coverage — the
    CCNet-style perplexity-filter stand-in): the share of each doc's
    trigram occurrences found in the min_count=3 pruned corpus table,
    in integer basis points (exact in any engine)."""
    from recrun_spark.functions.text import lm_coverage
    return lm_coverage(_t(spark, sf_dir, "documents"), n=3, min_count=3)


def customer_dim_scd2(spark, sf_dir):
    """SCD TYPE-2 dimension merge (operators.scd2_merge): a baseline
    customer dimension (priority 'NONE' since 1990) merged with one
    batch of updates — each customer's priority from their LATEST order
    (max o_orderdate, o_orderkey tie-break), effective that date.
    Customers with orders close the baseline version and open a new one;
    customers without orders pass through.  One full-outer shuffle join
    + one explode projection; the oracle is the same branch table as
    UNION ALL."""
    from pyspark.sql import Window

    from recrun_spark.operators import scd2_merge
    cust = _t(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.lit("NONE").alias("priority"),
        F.expr("TIMESTAMP_NTZ '1990-01-01 00:00:00'").alias("valid_from"),
        F.expr("CAST(NULL AS TIMESTAMP_NTZ)").alias("valid_to"),
        F.lit(True).alias("is_current"))
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    upd = (_t(spark, sf_dir, "orders")
           .withColumn("_rn", F.row_number().over(w))
           .where(F.col("_rn") == 1)
           .select(F.col("o_custkey").alias("custkey"),
                   F.col("o_orderpriority").alias("priority"),
                   F.col("o_orderdate").alias("as_of")))
    return scd2_merge(dim, upd, "custkey", ["priority"], "as_of")


def kg_entity_pmi(spark, sf_dir):
    """Entity-association strength by integer-surrogate pointwise mutual
    information over co-mentions: pmi_scaled = (10⁶·n_ab·N) div
    (n_a·n_b) — monotone in the true PMI argument P(a,b)/(P(a)P(b)), all
    int64 so the oracle reproduces it bit-for-bit.  N = docs with ≥1
    mention, riding in as a broadcast 1-row frame.  (At web scale the
    triple product needs headroom: n_ab·N ≤ ~9·10¹² at scale=10⁶ —
    drop the scale a decade per decade of corpus growth, same discipline
    as pagerank's scale parameter.)"""
    ments = _mentions_df(spark, sf_dir).select("doc_id", "entity").distinct()
    nd = ments.agg(F.countDistinct("doc_id").alias("n_corpus"))
    per = ments.groupBy("entity").agg(
        F.countDistinct("doc_id").alias("n_ent"))
    a = ments.select("doc_id", F.col("entity").alias("entity_a"))
    b = ments.select("doc_id", F.col("entity").alias("entity_b"))
    co = (a.join(b, "doc_id")
          .where(F.col("entity_a") < F.col("entity_b"))
          .groupBy("entity_a", "entity_b")
          .agg(F.count(F.lit(1)).alias("n_ab")))
    na = per.select(F.col("entity").alias("entity_a"),
                    F.col("n_ent").alias("n_a"))
    nb = per.select(F.col("entity").alias("entity_b"),
                    F.col("n_ent").alias("n_b"))
    return (co.join(na, "entity_a").join(nb, "entity_b")
            .crossJoin(F.broadcast(nd))
            .select("entity_a", "entity_b",
                    F.col("n_ab").cast("long").alias("n_ab"),
                    F.expr("1000000 * n_ab * n_corpus div (n_a * n_b)")
                    .cast("long").alias("pmi_scaled")))


def dedup_exact(spark, sf_dir):
    from recrun_spark.functions.dedup import exact_duplicates
    return exact_duplicates(_t(spark, sf_dir, "documents"))


def dedup_jaccard(spark, sf_dir):
    from recrun_spark.functions.dedup import jaccard_pairs
    return _finalize(jaccard_pairs(_t(spark, sf_dir, "documents"),
                                   threshold=0.30))


def dedup_minhash_lsh(spark, sf_dir):
    from recrun_spark.functions.dedup import minhash_lsh_pairs
    return _finalize(minhash_lsh_pairs(_t(spark, sf_dir, "documents"),
                                       threshold=0.30))


def dedup_clusters(spark, sf_dir):
    """End-to-end dedup: LSH pairs → connected components → canonical doc
    per cluster (every document mapped)."""
    from recrun_spark.functions.dedup import dedup_clusters as dc
    _ensure_pkg(spark)
    return _finalize(dc(_t(spark, sf_dir, "documents"), threshold=0.30))


def dedup_keep_best(spark, sf_dir):
    """Quality-aware canonical selection: within each exact-duplicate
    group (md5 content fingerprint), keep the HIGHEST-quality copy
    (quality_score desc, doc_id asc tie-break) instead of the arbitrary
    min-id — the selection policy a production dedup pass actually wants
    (keep the cleanest copy, not the first-crawled one).  One fp-keyed
    window (per-group heaps, no global sort) + one equi-join back."""
    from recrun_spark.functions.text import fingerprint_md5, quality_score
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select("doc_id",
                         fingerprint_md5(F.col("text")).alias("fp"),
                         quality_score(F.col("text")).alias("quality"))
    w = Window.partitionBy("fp").orderBy(F.col("quality").desc(),
                                         F.col("doc_id").asc())
    best = (scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("fp", F.col("doc_id").alias("canonical_doc_id")))
    return (scored.join(best, "fp")
            .select("doc_id", "quality", "canonical_doc_id"))


def text_stats(spark, sf_dir):
    from recrun_spark.functions.text import text_stats as ts
    return ts(_t(spark, sf_dir, "documents"))


def lang_quality_summary(spark, sf_dir):
    from recrun_spark.functions.text import lang_guess, quality_score
    docs = _t(spark, sf_dir, "documents")
    return (docs.select(lang_guess(F.col("text")).alias("lang_guess"),
                        quality_score(F.col("text")).alias("q"))
            .groupBy("lang_guess")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("q"), 6).alias("avg_quality")))


def ann_cosine_topk(spark, sf_dir):
    from recrun_spark.functions.similarity import cosine_topk
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, query_ids=list(range(10)), k=5)


def ann_ivf_topk(spark, sf_dir):
    from recrun_spark.functions.similarity import ivf_topk
    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(emb, query_ids=list(range(10)), k=5,
                    n_centroids=16, nprobe=4)


def ann_ivf_topk_2level(spark, sf_dir):
    """IVF top-k with the TWO-LEVEL coarse→fine quantizer — the
    10^8-vector assignment path (VERDICT r03 #3): vectors rank against
    ⌊√K⌋ coarse cells first, then only the fine centroids inside their
    nearest cells, ~n·√K·(1+p) comparisons instead of flat n·K.  Same
    deterministic hash-ordered centroids, rounded cosines, and ascending
    tie-breaks, so the DuckDB oracle reproduces the coarse cells, the
    fine→cell map, and the restricted ranking value-exactly."""
    from recrun_spark.functions.similarity import ivf_topk
    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(emb, query_ids=list(range(10)), k=5,
                    n_centroids=16, nprobe=4,
                    assignment="two_level", coarse_nprobe=2)


def embeddings_kmeans(spark, sf_dir):
    """Distributed Lloyd's k-means with EXACT integer arithmetic
    (similarity.kmeans_quantized, k=8, 4 rounds): the centroid-training
    step the IVF family defers (hash-sampled centroids exist precisely
    because float k-means can't be value-oracled — this closes the gap).
    Coordinates fixed-pointed by floor(x·2^20); assignment = exact
    integer squared-distance argmin (ties → lower cluster id); update =
    per-dimension sum div count TRUNCATED toward zero (the Spark div /
    DuckDB // convention — Python's // floors and must not touch
    negative sums).  Per round: one k·dim-literal broadcast against the
    corpus scan, a row-local argmin, ONE map-side-combinable keyed
    aggregate; centroids ride the driver between rounds (k·dim ints —
    the 1-row-probe convention).  The oracle replays every round as
    unrolled MATERIALIZED CTEs, bit-for-bit."""
    from recrun_spark.functions.similarity import kmeans_quantized
    return kmeans_quantized(_t(spark, sf_dir, "embeddings"),
                            k=8, iters=4)


def embeddings_pq_codes(spark, sf_dir):
    """PRODUCT-QUANTIZATION codes (similarity.pq_codes — Jégou, Douze &
    Schmid TPAMI'11, m=4 subspaces × k=8 clusters, 2 Lloyd rounds): the
    compression step a 100 TB embedding corpus needs before ANN scans —
    each 64-dim vector becomes 4 cluster ids (m·log2 k = 12 bits) plus
    its exact integer quantization error.  All m subspace k-means run
    SIMULTANEOUSLY: one corpus scan per round computes every argmin
    row-locally, one exploded (subspace, cluster)-keyed aggregate
    updates all m·k centroids, so PQ costs the job count of a single
    k-means.  Exact integer arithmetic end to end (fixed-point floor
    coords, truncated-div means) — the DuckDB oracle replays every
    training round as unrolled MATERIALIZED CTEs, bit-for-bit."""
    from recrun_spark.functions.similarity import pq_codes
    return pq_codes(_t(spark, sf_dir, "embeddings"), m=4, k=8, iters=2)


def ann_pq_topk(spark, sf_dir):
    """ADC top-k over PQ codes (similarity.pq_topk): the search half of
    product quantization — corpus vectors are compared through their
    CODES (adc = Σ_s ‖q_s − cent[s][code_s]‖², exact int64) while
    queries keep full coordinates (the asymmetry that preserves
    accuracy).  The serving scan reads only the m code columns (column
    pruning does the ~64× byte cut); centroid tables ride as one
    foldable nested-array literal; top-k is a per-query window, never a
    corpus-wide sort.  Training is shared with embeddings_pq_codes; the
    oracle replays training AND the ADC scoring join."""
    from recrun_spark.functions.similarity import pq_topk
    return pq_topk(_t(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4],
                   k=5, m=4, n_clusters=8, iters=2)


def ann_srp_topk(spark, sf_dir):
    """Multi-table signed-random-projection (hyperplane) LSH top-k
    (similarity.srp_topk — Charikar STOC'02 random-hyperplane rounding,
    Rademacher planes per Achlioptas JCSS'03): the centroid-free cosine
    ANN path.  The index build is ONE stateless projection over the
    corpus scan (no training/sampling pass — suits append-only ingest);
    probing is a broadcast of the query codes plus one (tbl, code)
    equi-join, and only bucket collisions reach the top-k window.
    Everything is exact integer arithmetic — coordinates quantized by
    floor(x·2^20) (float32→double exact, power-of-two scale exact),
    Rademacher signs from md5 parity embedded as literals in BOTH
    engines — so the DuckDB oracle reproduces every sign bit, bucket
    code, and candidate dot product bit-for-bit (a raw double
    hyperplane sum would be summation-order-dependent near 0)."""
    from recrun_spark.functions.similarity import srp_topk
    emb = _t(spark, sf_dir, "embeddings")
    return srp_topk(emb, query_ids=list(range(10)), k=5, dim=64)


def events_user_walks(spark, sf_dir):
    """Deterministic hash-seeded random walks (operators.hash_walks —
    DeepWalk corpus generation, Perozzi KDD'14, derandomized): 4 steps
    from every node of the directed consecutive-actor user graph; at
    step r the walk moves to the out-neighbor minimizing
    h60(cur|r|seed|nbr) — reproducible by any engine with md5, so the
    oracle replays every step (a true RNG would make the walk corpus
    unverifiable and non-resumable).  Per step one frontier×edges
    equi-join + one keyed (hash, dst)-struct min."""
    from recrun_spark.operators import hash_walks
    ev = _t(spark, sf_dir, "events")
    hour = F.expr("cast(timestampdiff(MICROSECOND, "
                  "timestamp'1970-01-01 00:00:00', ts) div 3600000000 "
                  "as bigint)")
    d = ev.select("event_id", "ts", "user_id", "event_type",
                  hour.alias("hr"))
    w = Window.partitionBy("event_type", "hr").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    edges = (d.withColumn("nxt", F.lead("user_id").over(w))
             .where(F.col("nxt").isNotNull()
                    & (F.col("nxt") != F.col("user_id")))
             .select(F.col("user_id").alias("src"),
                     F.col("nxt").alias("dst")).distinct())
    return hash_walks(edges, walk_len=4)


def kg_hits(spark, sf_dir):
    """Integer-arithmetic HITS (operators.hits — Kleinberg JACM'99) over
    the bipartite doc↔entity mention graph: docs are hubs (they point at
    good entities), entities are authorities.  Max-normalization with
    truncating integer division replaces the float L2 norm (ranking-
    preserving, bit-exact cross-engine); per round two equi-joins + two
    keyed sums with the normalizing max riding back as a 1-row
    broadcast.  The oracle unrolls all 3 rounds as MATERIALIZED CTEs."""
    from recrun_spark.operators import hits
    ments = _mentions_df(spark, sf_dir).select("doc_id", "entity").distinct()
    edges = ments.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src"),
        F.col("entity").alias("dst"))
    return hits(edges, iterations=3)


def events_user_scc(spark, sf_dir):
    """STRONGLY connected components (operators.scc — FW-BW min-label
    coloring, Fleischer/Hendrickson/Pinar 2000) over the DIRECTED
    consecutive-actor graph: user a → user b iff b's event immediately
    follows a's within the same (event_type, hour) stream — the directed
    twin of cc_components (undirected CC can't see direction; SCC is the
    influence/cycle structure).  scc_id = min member (the CC canonical
    convention).  No transitive closure is ever materialized on the
    Spark side — fwd/bwd min-label fixpoints with 1-row convergence
    aggregates; the ORACLE builds the closure via a recursive CTE (test
    scale only) and takes min over mutually-reachable sets, a fully
    independent formulation."""
    from recrun_spark.operators import scc
    ev = _t(spark, sf_dir, "events")
    hour = F.expr("cast(timestampdiff(MICROSECOND, "
                  "timestamp'1970-01-01 00:00:00', ts) div 3600000000 "
                  "as bigint)")
    d = ev.select("event_id", "ts", "user_id", "event_type",
                  hour.alias("hr"))
    w = Window.partitionBy("event_type", "hr").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    edges = (d.withColumn("nxt", F.lead("user_id").over(w))
             .where(F.col("nxt").isNotNull()
                    & (F.col("nxt") != F.col("user_id")))
             .select(F.col("user_id").alias("src"),
                     F.col("nxt").alias("dst")).distinct())
    return scc(edges).select(F.col("node").alias("user_id"), "scc_id")


def documents_profile(spark, sf_dir):
    """Table profiling — the data-quality summary every ingest job runs
    before training-data aggregation: per column, row count, null count,
    EXACT distinct count, and min/max (rendered as strings so one output
    schema covers all column types; min/max computed in the column's
    NATIVE type first, then cast — never string-ordered).  One aggregate
    pass: multiple count(distinct) in a single agg plans as Spark's
    Expand (k× row multiplication, the documented cost of exact multi-
    column profiling in one scan — swap to per-column HLL sketches at
    100 TB when ±2% suffices, events_user_hll family)."""
    docs = _t(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long").alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = docs.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) AS "
        "(col, n_rows, n_nulls, n_distinct, min_s, max_s)")


def documents_snapshot_diff(spark, sf_dir):
    """Snapshot reconciliation / CDC diff — classify every key as added,
    removed, or changed between two table versions (the incremental-
    ingest primitive: what changed since the last run?).  The "new"
    snapshot is a deterministic mutation of the old (doc_id % 89 == 0
    deleted, % 97 == 0 text-edited, % 131 == 0 cloned to a shifted id
    range), so the oracle rebuilds both sides exactly.  Shape: ONE keyed
    full-outer join on the key + an md5 row fingerprint comparison —
    no windows, no driver state; unchanged rows drop out so the output
    is delta-sized, not table-sized."""
    old = _t(spark, sf_dir, "documents")
    new = (old.where(F.col("doc_id") % 89 != 0)
           .withColumn("text", F.when(F.col("doc_id") % 97 == 0,
                                      F.concat(F.col("text"), F.lit(" v2")))
                       .otherwise(F.col("text")))
           .unionByName(
               old.where(F.col("doc_id") % 131 == 0)
               .withColumn("doc_id", F.col("doc_id") + F.lit(1000000))))
    fp = F.md5(F.concat_ws("\x1f", "text", "lang", "source",
                           F.col("n_chars").cast("string")))
    o = old.select("doc_id", fp.alias("old_fp"))
    n = new.select("doc_id", fp.alias("new_fp"))
    return (o.join(n, "doc_id", "full_outer")
            .withColumn("change", F.when(F.col("old_fp").isNull(), "added")
                        .when(F.col("new_fp").isNull(), "removed")
                        .when(F.col("old_fp") != F.col("new_fp"), "changed")
                        .otherwise("same"))
            .where(F.col("change") != "same")
            .select("doc_id", "change", "old_fp", "new_fp"))


def events_spatial_pairs(spark, sf_dir):
    """Grid-bucketed DISTANCE SELF-JOIN (layout.grid_distance_join —
    fixed-grid spatial blocking, the cell method): all event pairs
    within L2 distance ≤ 15 in a derived integer 2-D space (x = epoch-ms
    mod 10⁴, y = cents mod 10⁴ — deterministic coordinates at controlled
    density).  One 9× row-local explode + ONE cell-keyed equi-join +
    exact integer d² verify; each qualifying pair is produced exactly
    once by construction (only one of b's 9 exploded cells equals a's).
    The ORACLE is the brute-force inequality self-join — a fully
    independent formulation with no cells at all."""
    from recrun_spark.functions.layout import grid_distance_join
    ev = _t(spark, sf_dir, "events")
    ms = F.expr("cast(timestampdiff(MICROSECOND, "
                "timestamp'1970-01-01 00:00:00', ts) div 1000 as bigint)")
    pts = ev.select(F.col("event_id").alias("id"),
                    F.pmod(ms, F.lit(10000)).alias("x"),
                    F.pmod(F.round(F.col("value") * 100, 0).cast("long"),
                           F.lit(10000)).alias("y"))
    return grid_distance_join(pts, "id", "x", "y", radius=15)


def events_trend(spark, sf_dir):
    """Per-type linear trend (OLS slope of value vs time) as an EXACT
    RATIONAL — the drift/regression primitive of telemetry QA, float-
    free: slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) emitted as separate
    numerator/denominator (cents per millisecond, den ≥ 0 by
    Cauchy-Schwarz; a float slope can't be value-hashed cross-engine).
    x is milliseconds since the TYPE's min timestamp (per-type centering
    bounds every product inside decimal(38,0)/HUGEINT — raw epoch-µs
    squares would overflow).  Shape: one min-aggregate join + ONE
    map-side-combinable keyed sum pass — no windows, no sorts."""
    ev = _t(spark, sf_dir, "events")
    ms = F.expr("cast(timestampdiff(MICROSECOND, "
                "timestamp'1970-01-01 00:00:00', ts) div 1000 as bigint)")
    d = ev.select("event_type", ms.alias("ms"),
                  F.round(F.col("value") * 100, 0).cast("long")
                  .alias("cents"))
    mins = d.groupBy("event_type").agg(F.min("ms").alias("ms0"))
    x = (F.col("ms") - F.col("ms0")).cast("decimal(20,0)")
    y = F.col("cents").cast("decimal(20,0)")
    agg = (d.join(mins, "event_type")
           .groupBy("event_type")
           .agg(F.count(F.lit(1)).cast("decimal(12,0)").alias("n"),
                F.sum(x).cast("decimal(24,0)").alias("sx"),
                F.sum(y).cast("decimal(20,0)").alias("sy"),
                F.sum((x * y).cast("decimal(30,0)"))
                .cast("decimal(30,0)").alias("sxy"),
                F.sum((x * x).cast("decimal(30,0)"))
                .cast("decimal(30,0)").alias("sxx")))
    num = (F.col("n") * F.col("sxy")).cast("decimal(38,0)") \
        - (F.col("sx") * F.col("sy")).cast("decimal(38,0)")
    den = (F.col("n") * F.col("sxx")).cast("decimal(38,0)") \
        - (F.col("sx") * F.col("sx")).cast("decimal(38,0)")
    return agg.select("event_type",
                      F.col("n").cast("long").alias("n_events"),
                      num.cast("decimal(38,0)").alias("slope_num"),
                      den.cast("decimal(38,0)").alias("slope_den"))


def events_ema(spark, sf_dir):
    """Integer-exact exponential moving average over each user's event
    stream — the time-series smoothing feature (half-per-step decay over
    the last 8 events): ema = Σ_{j=0..7} cents_{t−j} · 2^(7−j), newest
    weighted 2^7; absent lags contribute nothing (pinned).  Power-of-two
    weights keep it pure int64 (a float α-EMA is recursively rounding
    and can't be value-hashed cross-engine).  One per-user window over
    (ts, event_id) order with 8 bounded lags — a single keyed sort, no
    unbounded state."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(),
                                              F.col("event_id").asc())
    cents = F.round(F.col("value") * 100, 0).cast("long")
    d = ev.select("event_id", "user_id", "ts", cents.alias("cents"))
    ema = F.lit(0).cast("long")
    for j in range(8):
        ema = ema + F.coalesce(F.lag("cents", j).over(w),
                               F.lit(0).cast("long")) * F.lit(1 << (7 - j))
    return d.select("event_id", "user_id", "cents", ema.alias("ema"))


def documents_source_nucleus(spark, sf_dir):
    """Per-language nucleus (top-p) source coverage — the data-mixing
    governance query: for each language, the SMALLEST prefix of sources
    (ranked by doc count desc, source asc) whose cumulative count reaches
    p = 4/5 of the language's documents.  The nucleus/top-p rule of LLM
    samplers applied to corpus composition ("which sources do I must keep
    to cover 80% of each language?").  Keep rule pinned exactly: a source
    is in the nucleus iff the cumulative count BEFORE it is still short
    of the target — (cum − n)·5 < total·4 — all integers.  Scale shape:
    one (lang, source) count aggregate (map-side combinable), then
    windows over the DISTINCT (lang, source) frame (vocabulary-scale,
    never raw rows)."""
    docs = _t(spark, sf_dir, "documents")
    counts = (docs.groupBy("lang", "source")
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    w = (Window.partitionBy("lang")
         .orderBy(F.col("n_docs").desc(), F.col("source").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot = counts.groupBy("lang").agg(F.sum("n_docs").alias("total"))
    return (counts.withColumn("cum", F.sum("n_docs").over(w))
            .withColumn("rank", F.row_number().over(
                Window.partitionBy("lang").orderBy(
                    F.col("n_docs").desc(), F.col("source").asc())))
            .join(tot, "lang")
            .where((F.col("cum") - F.col("n_docs")) * 5
                   < F.col("total") * 4)
            .select("lang", "source", "n_docs", "cum", "total", "rank"))


def events_decayed_counts(spark, sf_dir):
    """Recency-weighted per-user activity — exponentially decayed counts
    with power-of-two weights (the freshness feature of ranking/feature
    stores, kept EXACT): weight = 2^max(0, 7 − age_days) with age
    anchored at the corpus max timestamp, so Σ value_cents · weight is
    pure int64 arithmetic (a float e^{−λt} decay can't be value-hashed
    cross-engine).  Time is epoch-microsecond arithmetic (NTZ-safe — the
    zorder/sessionizer convention), the anchor is a 1-row max aggregate
    broadcast into the plan, and the whole query is one scan + one keyed
    sum — map-side combinable, zero windows."""
    ev = _t(spark, sf_dir, "events")
    us = ("cast(timestampdiff(MICROSECOND, "
          "timestamp'1970-01-01 00:00:00', ts) as bigint)")
    anchor = ev.agg(F.expr(f"max({us})").alias("anchor_us"))
    return (ev.crossJoin(F.broadcast(anchor))
            .withColumn("age_days",
                        F.expr(f"(anchor_us - {us}) div 86400000000"))
            .withColumn("w", F.expr(
                "shiftleft(cast(1 as bigint), "
                "cast(greatest(0, 7 - age_days) as int))"))
            .groupBy("user_id")
            .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")
                       * F.col("w")).alias("decayed_cents"),
                 F.sum("w").alias("weight_sum"),
                 F.count(F.lit(1)).cast("long").alias("n_events")))


def documents_bpe_vocab(spark, sf_dir):
    """Distributed BPE vocabulary induction (text.bpe_learn — Sennrich
    ACL'16 word-level byte-pair encoding, 12 merges): the tokenizer-
    training step of an LLM data pipeline, made distributed via the
    classic trick — pair counting and merging run over the DISTINCT-WORD
    vocabulary weighted by word frequency (vocab ≪ corpus), reduced from
    the corpus by one groupBy(word).  Each round is one vocabulary-scale
    pair aggregate plus a 1-ROW driver argmax (the sequential dependency
    is inherent to BPE); the merge is a pure per-row string replace over
    a boundary-fenced symbol encoding whose left-to-right non-overlapping
    replace semantics are IDENTICAL in Java and DuckDB — the oracle
    re-learns all 12 merges independently as unrolled CTE rounds and the
    final tokenization matches string-for-string."""
    from recrun_spark.functions.text import bpe_learn
    out, _ = bpe_learn(_t(spark, sf_dir, "documents"), n_merges=12)
    return out


def documents_bpe_tokens(spark, sf_dir):
    """BPE tokenizer APPLICATION (text.bpe_encode): the vocabulary is
    trained on the English slice only (8 merges) and then applied to the
    WHOLE corpus — the train-on-a-sample / tokenize-everything split of a
    real LLM data pipeline, with OOV words handled by the inference rule
    (start character-split, apply each merge where its pair occurs).
    Per-doc token counts are computed over DISTINCT words (vocab ≪
    corpus); the merge chain is ONE projection of 8 chained replaces
    (the merges are known literals — no per-round jobs, unlike
    learning), then one word-keyed join + one per-doc sum.  The oracle
    re-learns the merges on the same slice and replays the application
    chain, count-exact."""
    from recrun_spark.functions.text import bpe_encode, bpe_learn
    docs = _t(spark, sf_dir, "documents")
    _, merges = bpe_learn(docs.where(F.col("lang") == "en"), n_merges=8)
    return bpe_encode(docs, merges)


def customer_blocking_pairs(spark, sf_dir):
    """Sorted-neighborhood ER blocking (dedup.sorted_neighborhood_pairs —
    Hernández & Stolfo SIGMOD'95) over customer names: sort by the
    blocking key, slide a window of 4, verify every in-window pair with
    exact Levenshtein — n·3 candidates instead of the n² cross join,
    the third classic candidate-generation strategy in the repo after
    SymSpell deletion variants (documents_fuzzy_aliases) and LSH
    banding.  The global sort position comes from the two-phase prefix-
    offset rank (operators.global_rank) — NO single-partition window;
    the slide is a row-local explode + one integer equi-join.  Oracle:
    row_number + rank-difference self-join + levenshtein, row-exact."""
    from recrun_spark.functions.dedup import sorted_neighborhood_pairs
    cust = _t(spark, sf_dir, "customer")
    return _finalize(sorted_neighborhood_pairs(
        cust, key_col="c_name", id_col="c_custkey", window=4))


_BLOCKING_SQL = """
WITH r AS (
  SELECT c_custkey, c_name,
         row_number() OVER (ORDER BY c_name ASC) - 1 AS rank
  FROM customer WHERE c_name IS NOT NULL)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_name AS key_a, b.c_name AS key_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM r a JOIN r b ON b.rank > a.rank AND b.rank <= a.rank + 3
"""


def events_markov(spark, sf_dir):
    """First-order MARKOV transition model over per-user event sequences
    — the 'what happens next' table sequence miners and session
    recommenders consume: for every (from_type → to_type) pair, the
    transition count and the conditional probability in integer BASIS
    POINTS ((10⁴·n) div Σ_b n — exact cross-engine, where a float ratio
    can't be value-hashed).  Shape: ONE user-keyed window (lead over
    (ts, event_id) — the repo's pinned event order) + ONE map-side-
    combinable pair aggregate; the per-from denominator is a window over
    the AGGREGATED pair table (|types|² rows — metadata-scale), never
    over raw events."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(),
                                              F.col("event_id").asc())
    seq = ev.select("user_id", "event_type",
                    F.lead("event_type").over(w).alias("nxt"))
    pairs = (seq.where(F.col("nxt").isNotNull())
             .groupBy(F.col("event_type").alias("from_type"),
                      F.col("nxt").alias("to_type"))
             .agg(F.count(F.lit(1)).cast("long").alias("n")))
    wf = Window.partitionBy("from_type")
    return (pairs
            .withColumn("from_total", F.sum("n").over(wf))
            .select("from_type", "to_type", "n",
                    F.expr("10000 * n div from_total").cast("long")
                    .alias("conf_bp")))


_MARKOV_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS nxt
  FROM events),
pairs AS (
  SELECT event_type AS from_type, nxt AS to_type, count(*)::BIGINT AS n
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, n,
       CAST(10000 * n // sum(n) OVER (PARTITION BY from_type) AS BIGINT)
         AS conf_bp
FROM pairs
"""


def events_outliers_mad(spark, sf_dir):
    """Robust per-type outlier detection — the Hampel filter
    (events.mad_outliers): flag events whose deviation from the type
    median exceeds 5 × MAD.  Exact integers end-to-end (values
    fixed-pointed to cents, both medians via the pinned lower-median
    rank rule over PER-VALUE COUNT tables — the rank scan windows over
    distinct values per group, never raw rows, so a 10^10-row group
    costs two keyed aggregates, not a sort).  The quality gate an event/
    telemetry ingest runs before training-data aggregation."""
    from recrun_spark.functions.events import mad_outliers
    return mad_outliers(_t(spark, sf_dir, "events"))


def kg_adjacency(spark, sf_dir):
    """Adjacency-list materialization of the entity co-mention graph —
    the CSR-style export format a KG hands to downstream graph trainers
    (GraphSAGE/DeepWalk neighbor tables): per entity, its degree and the
    sorted neighbor list, capped at ``max_neighbors`` per node.  The cap
    is applied with a per-src window BEFORE the list aggregate, so a
    mega-degree hub never has to materialize its full neighbor set in
    one aggregation buffer (the groupBy-collect_set OOM trap at 100 TB);
    neighbors are rendered as a comma-joined sorted string so the value
    hash is order-independent-proof by construction."""
    ments = _mentions_df(spark, sf_dir).select("doc_id", "entity").distinct()
    a = ments.select("doc_id", F.col("entity").alias("src"))
    b = ments.select("doc_id", F.col("entity").alias("dst"))
    edges = (a.join(b, "doc_id")
             .where(F.col("src") != F.col("dst"))
             .select("src", "dst").distinct())
    cap = 100
    w = Window.partitionBy("src").orderBy(F.col("dst").asc())
    kept = (edges.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= cap))
    return (kept.groupBy("src")
            .agg(F.count(F.lit(1)).cast("long").alias("degree"),
                 F.array_join(F.array_sort(F.collect_list("dst")), ",")
                 .alias("neighbors"))
            .select(F.col("src").alias("entity"), "degree", "neighbors"))


def documents_sim_pairs(spark, sf_dir):
    """All-pairs TF-IDF cosine similarity join at τ = 9/10 over the
    df ≤ 250 vocabulary (text.tfidf_cosine_pairs — the inverted-index +
    threshold shape of DIMSUM, Zadeh & Carlsson 2013): related-document /
    weighted near-dup mining, the weighted-vector twin of the Jaccard
    pair joins.  The threshold test is exact integer arithmetic —
    (den·dot)² ≥ num²·‖a‖²·‖b‖² in decimal(38,0), HUGEINT in the oracle —
    no floats, no square roots.  Candidates come only from shared terms
    (one term-keyed self-join with map-side partial dot sums); the df cut
    bounds the m² fan-out of frequent terms."""
    from recrun_spark.functions.text import tfidf_cosine_pairs
    return tfidf_cosine_pairs(_t(spark, sf_dir, "documents"),
                              threshold_num=9, threshold_den=10,
                              df_cut=250)


def kg_negative_samples(spark, sf_dir):
    """Filtered uniform negative sampling over the positive
    (entity, doc) mention pairs (operators.negative_samples — the
    TransE-style corrupted-triple generator, Bordes NeurIPS'13): for
    each positive and slot i, the corrupted doc is
    h60(entity|doc|17|i) mod (max_doc+1), validated against the doc
    universe and anti-joined against the positives.  Deterministic
    md5-derived corruption, so the DuckDB oracle reproduces every
    sampled negative row-for-row.  Scale shape: row-local k-way
    explode + two keyed joins; the only driver exchange is the 1-row
    max(doc_id) probe."""
    from recrun_spark.operators import negative_samples
    ments = (_mentions_df(spark, sf_dir)
             .select(F.col("entity").alias("head"),
                     F.col("doc_id").alias("item")))
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("item"))
    out = negative_samples(ments, docs, k=4)
    return out.select(F.col("head").alias("subj"),
                      F.col("pos_item").alias("pos_doc_id"),
                      F.col("neg_item").alias("neg_doc_id"),
                      "sample_i")


def ann_near_dups(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (dedup family #5) — bucketed
    IVF multi-probe candidates + exact-cosine verify; every join is an
    equi-join (no all-pairs nested loop)."""
    from recrun_spark.functions.similarity import embedding_near_dups
    emb = _t(spark, sf_dir, "embeddings")
    # n_centroids/nprobe pinned so the DuckDB oracle (16 hash-sampled
    # centroids, 8 probes — recall 1.0 vs exact at this scale) stays
    # corpus-size independent; the None default derives K from
    # corpus/target_bucket_size for production use
    return _finalize(embedding_near_dups(emb, threshold=0.45,
                                         n_centroids=16, nprobe=8))


def ann_dedup_clusters(spark, sf_dir):
    """End-to-end embedding dedup (the embedding-side twin of
    dedup_clusters): bucketed near-dup pairs → CC transitive closure →
    canonical vector per cluster, every vector mapped."""
    from recrun_spark.functions.similarity import embedding_dedup_clusters
    _ensure_pkg(spark)
    emb = _t(spark, sf_dir, "embeddings")
    return _finalize(embedding_dedup_clusters(emb, threshold=0.45,
                                              n_centroids=16, nprobe=8))


def events_quantiles(spark, sf_dir):
    """Exact distributed quantiles (percentile with linear interpolation —
    the numeric-summary family): per event_type p25/p50/p75/p95 of value.
    Exact (not approx_percentile) so DuckDB's quantile_cont reproduces it."""
    ev = _t(spark, sf_dir, "events")
    q = F.expr("percentile(value, array(0.25, 0.5, 0.75, 0.95))")
    return (ev.groupBy("event_type")
            .agg(F.round(q[0], 6).alias("p25"),
                 F.round(q[1], 6).alias("p50"),
                 F.round(q[2], 6).alias("p75"),
                 F.round(q[3], 6).alias("p95"),
                 F.count(F.lit(1)).alias("n_events")))


def parts_with_orders(spark, sf_dir):
    """Left-semi join (the EXISTS shape, complement of the J2 anti-join):
    parts that appear in at least one lineitem, summarized per brand."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (part.join(li, part.p_partkey == li.l_partkey, "left_semi")
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n_parts")))


def rollup_pricing(spark, sf_dir):
    """Hierarchical aggregation (ROLLUP) — subtotals per returnflag and
    grand total; grouping ids disambiguate NULL dimension values."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.count(F.lit(1)).alias("n_rows"),
                 F.grouping_id().alias("gid")))


def events_props_json(spark, sf_dir):
    """Semi-structured family: parse the JSON props payload JVM-side
    (get_json_object — no Python in the path) and aggregate the extracted
    field per event_type."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (ev.groupBy("event_type")
            .agg(F.sum(k).cast("long").alias("sum_k"),
                 F.round(F.avg(k), 6).alias("avg_k"),
                 F.sum(F.when(k > 50, 1).otherwise(0)).cast("long")
                 .alias("n_high"),
                 F.count(F.lit(1)).alias("n_events")))


def cube_pricing(spark, sf_dir):
    """CUBE (all grouping-set combinations, complementing ROLLUP's
    hierarchy) with grouping_id to disambiguate NULL dimension values."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.count(F.lit(1)).alias("n_rows"),
                 F.grouping_id().alias("gid")))


def nation_order_balance(spark, sf_dir):
    """FULL OUTER join family: per-nation customer count vs order revenue,
    keeping nations that appear on only one side (coalesced key)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    by_cust = (cust.groupBy(F.col("c_nationkey").alias("nk"))
               .agg(F.count(F.lit(1)).alias("n_customers")))
    by_rev = (orders.join(cust, orders.o_custkey == cust.c_custkey)
              .groupBy(F.col("c_nationkey").alias("nk"))
              .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue")))
    return (by_cust.join(by_rev, "nk", "full_outer")
            .select(F.col("nk").cast("int").alias("nationkey"),
                    F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
                    F.coalesce("revenue", F.lit(0.0)).alias("revenue")))


def simhash_near_dups(spark, sf_dir):
    """Banded SimHash near-duplicate pairs: EXACT Hamming-<=3 result at LSH
    cost (pigeonhole over the block subsets guarantees every qualifying
    pair shares a key — no recall loss, no all-pairs join).  The block
    count is DERIVED from the corpus size (dedup.derive_simhash_blocks):
    small corpora keep the classic k+1 bands, huge corpora automatically
    widen keys so collision volume stays ~linear in n.  Oracle: the
    brute-force all-pairs Hamming filter over the same portable
    md5-derived signatures — independent of any banding choice."""
    from recrun_spark.functions.dedup import simhash_near_dups as snd
    return snd(_t(spark, sf_dir, "documents"), max_hamming=3)


def events_asof_orders(spark, sf_dir):
    """AS-OF JOIN (backward, inclusive): each event picks the user's most
    recent order at-or-before the event time (operators.asof_join — union +
    single keyed window, no range/nested-loop join).  Events are shifted
    back 26 years so they interleave the 1995-2001 order dates (the
    testdata events all post-date every order otherwise).  Oracle: DuckDB's
    native ASOF LEFT JOIN — an independent implementation of the same
    semantics."""
    from recrun_spark.operators import asof_join
    _ensure_pkg(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.expr("ts - INTERVAL 26 YEARS").alias("ets"))
    orders = (_t(spark, sf_dir, "orders")
              .groupBy(F.col("o_custkey").alias("user_id"),
                       F.col("o_orderdate").alias("order_ts"))
              .agg(F.max("o_orderkey").alias("order_key")))
    j = asof_join(ev, orders, key="user_id",
                  left_ts="ets", right_ts="order_ts")
    return j.select("event_id", "user_id", "order_key", "order_ts")


def events_after_orders_range(spark, sf_dir):
    """RANGE JOIN family: events within 3 days at-or-after the same user's
    order (equality on the user key + a time-range predicate).  Declared
    as a plain join so Catalyst executes a sort-merge join on the equality
    key with the range as a join filter — the scale-safe plan (never a
    cartesian/BNLJ; the equality key bounds the pair space).  Events are
    shifted back 26 years to interleave the order dates (see
    events_asof_orders)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts - INTERVAL 26 YEARS").alias("ets"), "value")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey")
    j = ev.join(orders,
                (ev["user_id"] == orders["user_id"])
                & (ev["ets"] >= orders["o_orderdate"])
                & (ev["ets"] < orders["o_orderdate"]
                   + F.expr("INTERVAL 3 DAYS")))
    return (j.groupBy(F.col("o_orderkey").alias("order_key"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


def events_running_stats(spark, sf_dir):
    """Window-function family beyond argmax: per-user event sequence with
    rank, running sum, and gap to the previous event — the building blocks
    of feature backfills (all JVM window expressions, one shuffle on the
    partition key)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "event_id", "user_id",
        F.row_number().over(w).alias("seq"),
        F.round(F.sum("value").over(run), 4).alias("running_value"),
        F.coalesce(
            F.expr("timestampdiff(MICROSECOND, lag(ts) over "
                   "(partition by user_id order by ts asc, event_id asc), ts)"),
            F.lit(-1)).alias("gap_us"))


def events_time_rollup(spark, sf_dir):
    """Hypertable-style multi-granularity time rollup: ONE pass emits
    hourly rows, daily subtotals, and the grand total (ROLLUP over derived
    day/hour buckets) — the continuous-aggregate shape where coarser
    granularities ride the same shuffle instead of re-scanning the fact
    table per granularity."""
    ev = _t(spark, sf_dir, "events")
    return (ev.select(F.date_trunc("day", F.col("ts")).alias("day"),
                      F.date_trunc("hour", F.col("ts")).alias("hour"),
                      "value")
            .rollup("day", "hour")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value"),
                 F.grouping_id().alias("gid")))


def events_user_cms(spark, sf_dir):
    """COUNT-MIN SKETCH of per-user event frequency (functions/sketch.py):
    fixed depth x width state regardless of key cardinality — the sketch
    family's scale answer to exact per-key counts.  md5-derived hash rows
    make the sketch engine-portable, so the oracle rebuilds the IDENTICAL
    cell table in SQL and the driver value-checks it cell-for-cell."""
    from recrun_spark.functions.sketch import count_min_sketch
    cells = count_min_sketch(_t(spark, sf_dir, "events"), "user_id")
    return cells.select(F.col("i").cast("int").alias("i"), "bucket", "cnt")


def documents_hash_split(spark, sf_dir):
    """Deterministic content-keyed train/val/test split (functions/
    sampling.py::hash_split, 0.8/0.1/0.1): each doc's label is a pure
    function of md5(doc_id), so it never changes across runs, engines,
    repartitioning, or corpus growth — the reproducibility property
    rand()-based splits lack.  Zero shuffle (a projection).  Oracle:
    the identical hash-range CASE in DuckDB, checked row-for-row."""
    from recrun_spark.functions.sampling import hash_split
    return hash_split(_t(spark, sf_dir, "documents").select("doc_id"),
                      {"train": 0.8, "val": 0.1, "test": 0.1})


def documents_corpus_filter(spark, sf_dir):
    """END-TO-END corpus quality filter — the keep/drop decision a
    training-data pipeline actually materializes, composing this suite's
    signals in one pass: English (lang_guess), quality score >= 0.5,
    most-frequent-2-gram share <= 0.2 (repetition/boilerplate cut), and
    >= 20 tokens.  Pure projections + the one (doc, gram) shuffle from
    repetition_stats.  Oracle: the same predicate over the combined
    text-stats + repetition CTEs in DuckDB."""
    from recrun_spark.functions.text import (lang_guess, quality_score,
                                             repetition_stats, token_count)
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id",
                    token_count(F.col("text")).alias("n_tokens"),
                    F.round(quality_score(F.col("text")), 6)
                    .alias("quality"),
                    lang_guess(F.col("text")).alias("lang_guess"))
    rep = repetition_stats(d).select("doc_id", "top_ngram_frac")
    return (base.join(rep, "doc_id")
            .where((F.col("lang_guess") == "en")
                   & (F.col("quality") >= 0.5)
                   & (F.col("top_ngram_frac") <= 0.2)
                   & (F.col("n_tokens") >= 20))
            .select("doc_id", "n_tokens", "quality", "top_ngram_frac"))


def documents_stratified_sample(spark, sf_dir):
    """Per-language corpus REBALANCING (functions/sampling.py::
    hash_sample_stratified): keep 100% of de, 50% of en, 20% of
    everything else — content-keyed hash ranges, so the kept set is
    stable under corpus growth and nested across fractions.  Zero
    shuffle.  Oracle: the identical per-stratum CASE thresholds in
    DuckDB (integer literals shared via sampling.stratum_threshold)."""
    from recrun_spark.functions.sampling import hash_sample_stratified
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_sample_stratified(d, {"de": 1.0, "en": 0.5}, "lang",
                                  default=0.2)


def documents_temperature_mix(spark, sf_dir):
    """Temperature-based mixture rebalancing at alpha = 1/2
    (functions/sampling.py::temperature_rebalance — mT5/XLM-R
    alpha-sampling): each language's share of a 200-doc budget is
    proportional to isqrt(count), so the dominant language is
    downsampled and the tail keeps everything.  ALL-INTEGER derivation
    (exact isqrt + rational keep rule on 30-bit hash buckets), so the
    oracle recomputes the same targets and sample with no
    driver-computed constants."""
    from recrun_spark.functions.sampling import temperature_rebalance
    return temperature_rebalance(_t(spark, sf_dir, "documents"), 200,
                                 group_col="lang", key_col="doc_id")


def documents_domain_cap(spark, sf_dir):
    """Per-domain document caps (functions/sampling.py::cap_per_group —
    the defense against one crawler-friendly site dominating a corpus):
    keep at most 10 docs per source, chosen deterministically as the
    smallest (md5(doc_id), doc_id) within each source.  One shuffle keyed
    on source + an in-partition sort; the opt-in mega-domain hash
    prefilter is unit-tested for path equality.  Oracle: the identical
    row_number window in DuckDB."""
    from recrun_spark.functions.sampling import cap_per_group
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(d, cap=10, group_col="source")


def documents_decontaminate(spark, sf_dir):
    """Benchmark decontamination (functions/dedup.py::decontaminate): flag
    corpus docs sharing any word 3-gram with a held-out eval set — here a
    deterministic stand-in benchmark, the 5 docs with the smallest
    (md5(doc_id), doc_id), anti-joined out of the corpus side.  The
    benchmark shingle set broadcasts, so the corpus shingle stream is
    filtered map-side with zero corpus shuffle before the per-doc hit
    aggregate.  Oracle: the same shingle CTE + join in DuckDB."""
    from recrun_spark.functions.dedup import decontaminate
    docs = _t(spark, sf_dir, "documents")
    bench = (docs.orderBy(F.md5(F.col("doc_id").cast("string")).asc(),
                          F.col("doc_id").asc()).limit(5))
    corpus = docs.join(bench.select("doc_id"), "doc_id", "left_anti")
    return decontaminate(corpus, bench)


def documents_chunks(spark, sf_dir):
    """Context-window chunking (functions/text.py::chunk_windows): 64-token
    windows at stride 32 (50% overlap) — one row per (doc, window), raw
    whitespace tokens, zero shuffle.  Oracle: identical
    sequence + list_slice windows in DuckDB."""
    from recrun_spark.functions.text import chunk_windows
    return chunk_windows(_t(spark, sf_dir, "documents"),
                         window_tokens=64, stride=32)


def documents_repetition_stats(spark, sf_dir):
    """Word-2-gram repetition signals (functions/text.py::
    repetition_stats — the Gopher-style boilerplate/spam filters): share
    of all 2-grams carried by the most frequent one, and the distinct
    share.  One combinable shuffle keyed (doc, gram) + a per-doc
    aggregate.  Oracle: identical n-gram generation + aggregates in
    DuckDB over the shared token expression."""
    from recrun_spark.functions.text import repetition_stats
    return repetition_stats(_t(spark, sf_dir, "documents"))


def documents_pii_scrub(spark, sf_dir):
    """PII redaction (functions/text.py::pii_scrub): emails, IPv4s, and
    phone numbers replaced by typed tokens — pure chained regexp_replace,
    zero shuffle, patterns restricted to the Java-regex ∩ RE2 dialect so
    DuckDB reproduces the scrub byte-for-byte.  The fixture corpus has no
    PII, so each doc gets a DETERMINISTIC synthetic contact line
    (doc_id-derived email/phone/IP, identical arithmetic on both sides);
    the oracle checks the scrubbed-text fingerprint and per-kind counts
    row-for-row."""
    from recrun_spark.functions.text import pii_count, pii_scrub
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), did.cast("string"),
        F.lit("@mail.example ph 555-"),
        (did % 900 + 100).cast("string"),
        F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."), (did % 256).cast("string"),
        F.lit("."), ((did * 7) % 256).cast("string"))
    return d.select(
        "doc_id",
        F.substring(F.md5(pii_scrub(injected)), 1, 16).alias("scrub_fp"),
        pii_count(injected, "email").cast("int").alias("n_email"),
        pii_count(injected, "ip").cast("int").alias("n_ip"),
        pii_count(injected, "phone").cast("int").alias("n_phone"))


def documents_pack_blocks(spark, sf_dir):
    """SEQUENCE PACKING (functions/pack.py): concatenate the corpus's
    tokens in a deterministic order and cut every 512 — one row per
    (document, spanned training block) with the block offset and token
    count a loader needs.  The global running offset is a two-phase
    DISTRIBUTED PREFIX SUM (per-bucket totals → driver → broadcast
    offsets → per-bucket windows) — never a global single-partition
    window.  Oracle: a plain global-window cumsum in DuckDB, which is
    exactly what the distributed decomposition must equal."""
    from recrun_spark.functions.pack import pack_blocks
    return _finalize(pack_blocks(_t(spark, sf_dir, "documents"),
                                 block_tokens=512))


def events_user_hll(spark, sf_dir):
    """HYPERLOGLOG distinct-count sketch of events.user_id
    (functions/sketch.py::hll_registers): 2^9 = 512 registers of fixed
    state at any key cardinality — the sketch family's scale answer to
    exact COUNT DISTINCT (which shuffles every distinct key).  The bit
    rank is computed via integer base-2 string length (no float log2), so
    the oracle rebuilds the IDENTICAL register table in SQL and the
    driver value-checks it register-for-register; register tables merge
    by cell-wise MAX (property-tested)."""
    from recrun_spark.functions.sketch import hll_registers
    return hll_registers(_t(spark, sf_dir, "events"), "user_id")


def events_user_bloom(spark, sf_dir):
    """BLOOM FILTER membership sketch of events.user_id
    (functions/sketch.py::bloom_bits): the distinct set-bit positions of
    a 16384-bit / 6-hash filter — bounded output at any key cardinality,
    mergeable by position-set union (bitwise OR).  Same md5-derived
    row-hash scheme as the CMS, so the oracle rebuilds the IDENTICAL bit
    set in SQL (checked position-for-position)."""
    from recrun_spark.functions.sketch import bloom_bits
    return bloom_bits(_t(spark, sf_dir, "events"), "user_id")


def events_value_hdr(spark, sf_dir):
    """HDR-style MERGEABLE QUANTILE HISTOGRAM of events.value per
    event_type (functions/sketch.py::hdr_histogram) — the fourth classic
    sketch next to CMS/HLL/Bloom: bounded state for quantiles, where the
    exact path (events_quantiles) sort-shuffles every row.  Bucketing is
    msb + top-5 mantissa bits in PURE INTEGER arithmetic (the HLL
    base-2-string-length idiom; no float log like DDSketch's log-gamma),
    so the oracle rebuilds the identical cell table and the driver checks
    it cell-for-cell.  Relative error <= 2^-5; merge = cell-wise cnt sum."""
    from recrun_spark.functions.sketch import hdr_histogram
    return hdr_histogram(_t(spark, sf_dir, "events"), "value",
                         group_cols=["event_type"])


def events_hdr_quantiles(spark, sf_dir):
    """p50/p90/p99 of events.value per event_type READ OFF the HDR
    histogram (functions/sketch.py::hdr_quantiles): integer rank rule
    (min bucket with 100*cum >= p*total), bounds derived from the bucket
    index arithmetically — no join back, one window over the bounded
    histogram.  The exact value provably lies in [q_lo, q_hi]
    (property-tested vs exact sort in tests/test_functions.py)."""
    from recrun_spark.functions.sketch import hdr_histogram, hdr_quantiles
    hist = hdr_histogram(_t(spark, sf_dir, "events"), "value",
                         group_cols=["event_type"])
    return hdr_quantiles(hist, [50, 90, 99], group_cols=["event_type"])


def events_zorder_key(spark, sf_dir):
    """Z-ORDER (Morton) layout keys over (user_id, day) — the lakehouse
    multidimensional-clustering technique (Delta/Iceberg OPTIMIZE ZORDER):
    interleave the bits of several columns so ONE range-sort gives tight
    per-file min/max boxes on EVERY clustered column
    (functions/layout.py::zorder_key).  Pure integer expressions (one
    aggregate over a bit-index sequence per column, no UDF) so the oracle
    rebuilds keys bit-for-bit; the decoded round-trip columns (ru, rd)
    witness bijectivity inside the value check itself.  Day = floor of
    epoch-microseconds (NTZ-safe: timestampdiff vs a calendar datediff,
    which counts boundary crossings and diverges across engines)."""
    from recrun_spark.functions.layout import zorder_decode, zorder_key
    mask = (1 << 21) - 1
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.expr(f"cast(user_id as bigint) & {mask}").alias("zu"),
        F.expr("cast(timestampdiff(MICROSECOND, "
               "timestamp'1970-01-01 00:00:00', ts) div 86400000000 "
               f"as bigint) & {mask}").alias("zd"))
    keyed = ev.withColumn("zkey", zorder_key(["zu", "zd"]))
    ru, rd = zorder_decode("zkey", 2)
    return keyed.select("event_id", "zu", "zd", "zkey",
                        ru.alias("ru"), rd.alias("rd"))


def salted_join_revenue(spark, sf_dir):
    """Pins the SALTED repartition-join path (operators.salted_join) under
    the value oracle, the way cc_components pins distributed CC: orders ⋈
    customer on custkey through explicit key salting (big side salted in
    [0,8), small side replicated 8x), then revenue per market segment.
    Salting is a physical rewrite only — the oracle is the plain join."""
    from recrun_spark.operators import salted_join
    _ensure_pkg(spark)
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = salted_join(orders, cust, "o_custkey", "c_custkey", buckets=8)
    return (j.groupBy("c_mktsegment")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count(F.lit(1)).alias("n_orders")))


def events_sessionized(spark, sf_dir):
    """Sessionization via lag + cumulative gap counting (the batch analog
    of stateful streaming sessions): new session when >30 min idle."""
    ev = _t(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    # timestampdiff is pure calendar arithmetic on the NTZ values — unlike a
    # cast-to-timestamp (which applies the session timezone and could flip a
    # gap across a DST transition under a non-UTC harness session).  The
    # comparison runs at exact integer MICROSECONDS (ts carries sub-second
    # precision) so it matches DuckDB's epoch_us() arithmetic with no
    # floor-of-difference vs difference-of-floors ambiguity.
    gap = F.expr("timestampdiff(MICROSECOND, _prev_ts, ts)")
    with_gap = (ev.withColumn("_prev_ts", F.lag("ts").over(w_ord))
                .withColumn(
                    "new_sess",
                    F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1)
                    .otherwise(0))
                .drop("_prev_ts"))
    sess = with_gap.withColumn(
        "session_id",
        F.sum("new_sess").over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)))
    return (sess.groupBy("user_id")
            .agg(F.max("session_id").cast("long").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


def events_hourly(spark, sf_dir):
    """Streaming-shaped windowed aggregation (batch equivalent of the
    Structured-Streaming path in recrun_spark.streaming)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.col("user_id"),
                       F.window("ts", "1 hour")["start"].alias("hour_start"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


def events_bursts(spark, sf_dir):
    """Trailing-window burst detection per event type (functions.events.
    hourly_bursts — the Kleinberg burst problem in its monitoring form):
    an hour bursts when its count reaches 2× the trailing 3-hour
    average, with the ratio kept as the exact integer
    (10⁴·3·n) div trail_n so it value-hashes.  The RANGE window runs on
    calendar hour ids over the ALREADY-AGGREGATED (type, hour) table —
    silent hours shrink the trailing mass rather than being skipped."""
    from recrun_spark.functions.events import hourly_bursts
    return hourly_bursts(_t(spark, sf_dir, "events"))


def documents_containment(spark, sf_dir):
    """Directed quote/subset detection (functions.dedup.containment_pairs
    — Broder's containment, the asymmetric companion of the Jaccard
    resemblance ops): docs whose kept-shingle set is ≥50% inside another
    doc's, via the same inverted-index co-occurrence join + df-cut as
    dedup_jaccard but scored against the SOURCE size only — the
    pretraining catch for small docs embedded in larger hosts, where
    Jaccard stays under every dedup threshold."""
    from recrun_spark.functions.dedup import containment_pairs
    return _finalize(containment_pairs(_t(spark, sf_dir, "documents")))


def documents_phonetic_keys(spark, sf_dir):
    """Phonetic ER blocking over the corpus vocabulary (text.
    phonetic_blocks — classic American Soundex built from translate +
    anchored Java∩RE2 regexp chains, NO backreferences, so DuckDB
    reproduces every code character-for-character): distinct words keyed
    by sound-alike class with block sizes — spelling-variant candidates
    without any pair join, the fourth blocking strategy in the repo
    after SymSpell deletions, LSH bands, and sorted neighborhoods."""
    from recrun_spark.functions.text import phonetic_blocks
    return phonetic_blocks(_t(spark, sf_dir, "documents"))


def events_equidepth_bins(spark, sf_dir):
    """Exact EQUI-DEPTH histogram of event values (16 bins): bin =
    rank·16 div n over the exact global value order — the feature-
    bucketization / percentile-binning primitive, positional so ties
    split deterministically (event_id tiebreak).  The rank comes from
    operators.global_rank (two-phase prefix offsets — NO single-
    partition window at any scale; the zero-padded cents+id key makes
    string order = numeric order); n is one count aggregate (the 1-row
    probe convention).  All integer output: per bin its row count and
    inclusive cents bounds."""
    from recrun_spark.operators import global_rank
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_id",
                  F.round(F.col("value") * 100, 0).cast("long")
                  .alias("cents"))
    keyed = d.withColumn("_k", F.concat(
        F.lpad(F.col("cents").cast("string"), 8, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0")))
    n = keyed.count()
    ranked = global_rank(keyed, "_k", bucket_prefix_len=3)
    out = (ranked.select("cents",
                         F.expr(f"rank * 16 div {n}").cast("int")
                         .alias("bin"))
           .groupBy("bin")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.min("cents").alias("lo_cents"),
                F.max("cents").alias("hi_cents")))
    return _finalize(out)


def events_seasonality(spark, sf_dir):
    """Hour-of-day seasonality profile per event type — the diurnal
    shape a monitoring/forecast baseline needs: per (type, hour-of-day)
    its count, share of the type's traffic in exact integer basis
    points, and a deterministic peak flag (max n, smallest hour on
    ties).  hod = (epoch-µs div 3600000000) mod 24 (NTZ-safe); events
    reduce to the ≤|types|·24 profile table FIRST, so the share/peak
    windows run over 120 rows, never raw events."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    us = ("cast(timestampdiff(MICROSECOND, "
          "timestamp'1970-01-01 00:00:00', ts) as bigint)")
    c = (ev.groupBy(F.col("event_type"),
                    F.expr(f"(({us}) div 3600000000) % 24").cast("int")
                    .alias("hod"))
         .agg(F.count(F.lit(1)).cast("long").alias("n")))
    wt = Window.partitionBy("event_type")
    wr = Window.partitionBy("event_type").orderBy(F.col("n").desc(),
                                                  F.col("hod").asc())
    return (c.withColumn("share_bp",
                         F.expr("10000 * n div sum(n) over "
                                "(partition by event_type)")
                         .cast("long"))
            .withColumn("is_peak", F.row_number().over(wr) == 1)
            .select("event_type", "hod", "n", "share_bp", "is_peak"))


def kg_walk_counts(spark, sf_dir):
    """Exact length-3 WALK counts from the seed entity E_SPARK over the
    mention graph — the adjacency-matrix power A³ row (walks, not simple
    paths: revisits allowed — the Katz/graph-kernel building block,
    integer-exact where simple-path enumeration is #P-hard).  Three
    chained equi-joins, ONE final count aggregate: each join step
    enumerates walk continuations, so the final per-endpoint count IS
    the A³ entry.  All int64 (3-hop walk counts over this graph are
    ≪ 2^63)."""
    ments = _mentions_df(spark, sf_dir).select("doc_id", "entity").distinct()
    de = ments.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src"),
        F.col("entity").alias("dst"))
    # checkpoint the edge list: it feeds all three hops (the lazy union
    # subtree would re-run the mention regex scan twice per consumer —
    # six corpus scans per action)
    edges = (de.union(de.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")))
             .localCheckpoint(eager=True))
    # matrix-vector form of the A³ row: aggregate walk COUNTS at every
    # hop instead of enumerating walks — each join then carries ≤|V|
    # (node, count) rows, never the walk tuples themselves, and the final
    # per-endpoint sum is the identical A³ entry (Σ over intermediate
    # nodes of count·adjacency ≡ the walk count, exactly).  The former
    # enumerate-then-count shape shipped every 3-walk through two joins
    # and one giant count — the candidate-explosion anti-pattern the
    # optimization guide's §2.3 "aggregate before you shuffle" names.
    w1 = (edges.where(F.col("src") == "E_SPARK")
          .groupBy(F.col("dst").alias("n1"))
          .agg(F.count(F.lit(1)).alias("c1")))
    w2 = (w1.join(edges.select(F.col("src").alias("n1"),
                               F.col("dst").alias("n2")), "n1")
          .groupBy("n2").agg(F.sum("c1").alias("c2")))
    w3 = (w2.join(edges.select(F.col("src").alias("n2"),
                               F.col("dst").alias("n3")), "n2")
          .groupBy(F.col("n3").alias("node"))
          .agg(F.sum("c2").cast("long").alias("n_walks")))
    return w3


def kg_partition_plan(spark, sf_dir):
    """VERTEX-CUT partition planning diagnostics (PowerGraph, Gonzalez
    et al. OSDI'12): assign every mention-graph edge to a 4×4 GRID
    partition — pid = (h(src) mod 4)·4 + (h(dst) mod 4) with the
    portable md5 hash — and report per-partition load (edges) and
    vertex replication (distinct incident vertices).  Grid (2D)
    partitioning bounds any vertex's replication at R+C−1 = 7 of 16
    partitions vs up-to-16 under random edge hashing — THE question a
    1000-executor deployment asks of a skewed KG (hub entities touch
    every partition under 1D hashing; under the grid they touch one
    row + one column).  Σ n_vertices over partitions ÷ |V| is the
    replication factor; all arithmetic integer and oracle-exact."""
    from recrun_spark.functions.dedup import _hash60
    ments = _mentions_df(spark, sf_dir).select("doc_id", "entity").distinct()
    de = ments.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src"),
        F.col("entity").alias("dst"))
    pid = (F.pmod(_hash60(F.col("src")), F.lit(4)) * 4
           + F.pmod(_hash60(F.col("dst")), F.lit(4))).cast("int")
    e = de.select("src", "dst", pid.alias("pid"))
    loads = e.groupBy("pid").agg(F.count(F.lit(1)).cast("long")
                                 .alias("n_edges"))
    verts = (e.select("pid", F.col("src").alias("vertex"))
             .union(e.select("pid", F.col("dst").alias("vertex")))
             .distinct()
             .groupBy("pid").agg(F.count(F.lit(1)).cast("long")
                                 .alias("n_vertices")))
    return loads.join(verts, "pid")


def events_user_active_time(spark, sf_dir):
    """GAPS-AND-ISLANDS interval coverage per user: each event opens a
    5-minute activity interval [ts, ts+300s); overlapping or touching
    intervals merge into islands (new island iff the start strictly
    exceeds the running max end of everything before it — the classic
    cumulative-max island rule), and the output is each user's total
    covered time, island count, and event count — the
    session-coverage/billing primitive, all epoch-µs integers.  The
    only window is per-user (partitioned, never global); islands
    aggregate by (user, island_id) before the final per-user rollup."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    us = ("cast(timestampdiff(MICROSECOND, "
          "timestamp'1970-01-01 00:00:00', ts) as bigint)")
    d = ev.select("user_id", F.expr(us).alias("s"),
                  (F.expr(us) + F.lit(300_000_000)).alias("e"))
    w = (Window.partitionBy("user_id").orderBy("s", "e")
         .rowsBetween(Window.unboundedPreceding, -1))
    flagged = d.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(F.max("e").over(w),
                                       F.lit(-1)), 1).otherwise(0))
    wi = (Window.partitionBy("user_id").orderBy("s", "e")
          .rowsBetween(Window.unboundedPreceding, 0))
    isl = flagged.withColumn("island", F.sum("new_island").over(wi))
    per_island = (isl.groupBy("user_id", "island")
                  .agg((F.max("e") - F.min("s")).alias("covered"),
                       F.count(F.lit(1)).alias("n")))
    return (per_island.groupBy("user_id")
            .agg(F.sum("covered").cast("long").alias("active_us"),
                 F.count(F.lit(1)).cast("long").alias("n_islands"),
                 F.sum("n").cast("long").alias("n_events")))


def orders_brand_rules(spark, sf_dir):
    """MARKET-BASKET ASSOCIATION RULES over order contents (Agrawal &
    Srikant VLDB'94, the support/confidence/lift triple in exact
    integers): directed brand pairs co-occurring in ≥5 orders, with
    confidence = 10⁴·n_ab div n_a basis points and lift = 10⁶·n_ab·N
    div (n_a·n_b) ppm — the co-purchase affinity the PMI entry computes
    for co-MENTIONS, here over the TPC-H basket structure.  Baskets
    reduce to DISTINCT (order, brand) FIRST (the dimension join is a
    broadcast — part is the small side), the pair join is keyed on the
    shared order (inverted-index shape, per-order fan-out bounded by
    the brand count), and N is a 1-row probe."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (li.join(F.broadcast(part),
                  li["l_partkey"] == part["p_partkey"])
          .select(F.col("l_orderkey").alias("o"),
                  F.col("p_brand").alias("b")).distinct().persist())
    n_orders = ob.select("o").distinct().count()
    counts = ob.groupBy("b").agg(F.count(F.lit(1)).alias("n"))
    # ordered brand pairs from the per-order brand set, expanded
    # row-locally (the stage-4 co-mention pattern) — one order-keyed
    # aggregate instead of the ob×ob self-join (two exchanges + join for
    # pairs whose per-order fan-out is bounded by the brand count);
    # identical (ante, cons) multiset
    bsets = (ob.groupBy("o")
             .agg(F.sort_array(F.collect_set("b")).alias("bs"))
             .where(F.size("bs") >= 2))
    pairs = (bsets
             .select(F.explode(F.flatten(F.transform(
                 "bs", lambda x: F.transform(
                     F.filter("bs", lambda y: y != x),
                     lambda y: F.struct(x.alias("ante"),
                                        y.alias("cons")))))).alias("p"))
             .select(F.col("p.ante").alias("ante"),
                     F.col("p.cons").alias("cons"))
             .groupBy("ante", "cons")
             .agg(F.count(F.lit(1)).alias("n_ab"))
             .where(F.col("n_ab") >= 5))
    out = (pairs
           .join(counts.select(F.col("b").alias("ante"),
                               F.col("n").alias("n_a")), "ante")
           .join(counts.select(F.col("b").alias("cons"),
                               F.col("n").alias("n_c")), "cons")
           .select("ante", "cons",
                   F.col("n_ab").cast("long").alias("n_ab"),
                   F.col("n_a").cast("long").alias("n_a"),
                   F.col("n_c").cast("long").alias("n_c"),
                   F.expr("10000 * n_ab div n_a").cast("long")
                   .alias("conf_bp"),
                   F.expr(f"1000000 * n_ab * {n_orders} "
                          "div (n_a * n_c)").cast("long")
                   .alias("lift_ppm")))
    out._recrun_caches = [ob]
    return _finalize(out)


def documents_dup_evidence(spark, sf_dir):
    """EVIDENCE table for near-dup pairs — the explainability view a
    production dedup reviewer needs: for every exact-Jaccard pair at the
    dedup_jaccard threshold, its 3 RAREST shared shingles (df asc,
    shingle asc — rare shingles are the distinctive evidence; common
    ones are boilerplate).  One persisted kept-shingle frame feeds the
    pair generation AND the evidence join (the LSH one-cache
    discipline); the rank window is partitioned per pair."""
    from pyspark.sql import Window

    from recrun_spark.functions.dedup import (_jaccard_of_pairs,
                                              _kept_shingles)
    docs = _t(spark, sf_dir, "documents")
    sh = _kept_shingles(docs, 3, "text", "doc_id", 1000).persist()
    pairs = (_jaccard_of_pairs(None, sh, 0.30)
             .select("doc_a", "doc_b"))
    df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    shared = (pairs
              .join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"),
                    "doc_a")
              .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
                    ["doc_b", "shingle"]))
    w = Window.partitionBy("doc_a", "doc_b").orderBy(
        F.col("df").asc(), F.col("shingle").asc())
    out = (shared.join(df_tbl, "shingle")
           .withColumn("ev_rank", F.row_number().over(w))
           .where(F.col("ev_rank") <= 3)
           .select("doc_a", "doc_b", "shingle",
                   F.col("df").cast("long").alias("df"),
                   F.col("ev_rank").cast("int").alias("ev_rank")))
    out._recrun_caches = [sh]
    return _finalize(out)


def events_skew_report(spark, sf_dir):
    """JOIN-SKEW ADVISOR — the one-row report that decides whether a
    user-keyed shuffle needs salting (the salted_join operator's sizing
    input): per-key counts reduce to a COUNT-OF-COUNTS table (≤ distinct
    count values — tiny by construction, the mad_outliers discipline),
    exact p50/p99 come from the rank rule over its cumulative sums
    (percentile_disc semantics: smallest value whose cumulative count
    reaches the quantile), and the recommendation is
    salt_buckets = ⌈max div p99⌉ in pure integers.  The only windows
    run over the count-of-counts table."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    cc = c.groupBy("n").agg(F.count(F.lit(1)).alias("k"))
    w = Window.orderBy("n").rowsBetween(Window.unboundedPreceding, 0)
    cum = cc.withColumn("cum", F.sum("k").over(w))
    tot = cum.agg(F.max("cum").alias("n_keys"),
                  F.max("n").alias("max_n"))
    q = (cum.crossJoin(F.broadcast(tot))
         .agg(F.min(F.when(2 * F.col("cum") >= F.col("n_keys"),
                           F.col("n"))).alias("median_n"),
              F.min(F.when(100 * F.col("cum") >= 99 * F.col("n_keys"),
                           F.col("n"))).alias("p99_n"),
              F.max("n_keys").alias("n_keys"),
              F.max("max_n").alias("max_n")))
    return (q.select(F.col("n_keys").cast("long").alias("n_keys"),
                     F.col("median_n").cast("long").alias("median_n"),
                     F.col("p99_n").cast("long").alias("p99_n"),
                     F.col("max_n").cast("long").alias("max_n"),
                     F.expr("10000 * max_n div median_n").cast("long")
                     .alias("skew_ratio_bp"),
                     F.expr("(max_n + p99_n - 1) div p99_n").cast("long")
                     .alias("salt_buckets")))


def events_funnel(spark, sf_dir):
    """Ordered funnel view -> click -> purchase: a user reaches a stage only
    via an event STRICTLY AFTER a qualifying event of the previous stage
    (ts order, event_id tiebreak).  One Exchange + one Sort for the whole
    cascade — every stage is a window over the same per-user sort."""
    from recrun_spark.functions.events import funnel_stages
    return funnel_stages(_t(spark, sf_dir, "events"),
                         ["view", "click", "purchase"])


def events_retention_cohorts(spark, sf_dir):
    """Cohort retention triangle: cohort = day of first event per user;
    n_users active at each day offset.  Events reduce to distinct
    (user, day) BEFORE any per-user work, so the wide raw-event shuffle
    never happens and the final count is a plain count(*)."""
    from recrun_spark.functions.events import retention_cohorts
    return retention_cohorts(_t(spark, sf_dir, "events"))


def events_type_pivot(spark, sf_dir):
    """PIVOT surface: per-user event-type counts as columns.  The value
    list is explicit, so Spark plans ONE pass (no distinct-values pre-job)
    and the aggregate is map-side combinable."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    piv = (ev.groupBy("user_id")
           .pivot("event_type", types)
           .agg(F.count(F.lit(1))))
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
          for t in types])


def simhash_sigs(spark, sf_dir):
    """SimHash signatures — portable md5-derived token hash (dedup._hash60),
    so the DuckDB oracle reproduces the 60-bit signature exactly."""
    from recrun_spark.functions.dedup import simhash
    return simhash(_t(spark, sf_dir, "documents"))


def minhash_sigs(spark, sf_dir):
    """MinHash signatures, exploded to (doc_id, i, h) rows — scalar columns
    the driver's canonicalizer can sort/hash, and a portable md5-derived
    shingle hash the DuckDB oracle reproduces value-for-value."""
    from recrun_spark.functions.dedup import minhash_signatures
    sig = minhash_signatures(_t(spark, sf_dir, "documents"))
    return sig.select("doc_id", F.posexplode("sig").alias("i", "h"))


def media_features(spark, sf_dir):
    """Multimodal plumbing: binary payloads → Arrow-batched feature
    extraction (decode kernel stubbed — functions/multimodal.py).  The
    array<float> feature is exploded to (idx, val float64) rows — scalar
    columns for the driver, exact float32→float64 widening — and checked
    against a single-node golden evaluation of the same kernel
    (tools/oracle/make_entry_golden.py)."""
    from recrun_spark.functions.multimodal import extract_features, synth_media
    _ensure_pkg(spark)
    # use_real=False pins the stub kernel the golden was generated with —
    # a codec-equipped cluster would otherwise auto-route to the real
    # decoder and (correctly) diverge from the stub golden
    feats = extract_features(synth_media(spark, n=64), use_real=False)
    return feats.select(
        "media_id", "doc_id", "modality", "n_bytes", "sha1",
        F.posexplode(F.col("feature").cast("array<double>"))
        .alias("idx", "val"))


def _entry_corpus_path():
    """Build (once) and return the 60-doc interleaved entry corpus path
    (cache keyed on GEN_VERSION so a generator change invalidates it)."""
    import tempfile

    from recrun_spark.fixtures.generator import (GEN_VERSION,
                                                 write_corpus_parquet)
    path = os.path.join(tempfile.gettempdir(),
                        f"entry_corpus_v{GEN_VERSION}_60.parquet")
    if not os.path.exists(path):
        write_corpus_parquet(path, 60)
    return path


def _entry_corpus(spark):
    return spark.read.parquet(_entry_corpus_path())


def render_overlay(spark, sf_dir):
    """Render-egress (reference iframe.js sanitize + figure wrap —
    T6/T7/F11): stage-1 html renders → sanitized overlay html, distributed
    as a zero-shuffle Arrow map.  Oracle: single-node extract+sanitize of
    the same corpus (tools/oracle/make_entry_golden.py)."""
    from recrun_spark.render import render_overlays
    from recrun_spark.stage1 import extract_documents
    _ensure_pkg(spark)
    ex = extract_documents(_entry_corpus(spark))
    return render_overlays(ex, base_uri="http://news.example/a/b?x=1")


def events_sessions_stream(spark, sf_dir):
    """STATEFUL Structured Streaming sessionization (applyInPandasWithState
    + EVENT-TIME TIMEOUT, recrun_spark/streaming/sessions.py): events
    replayed as 3 time-ranged files → 3 micro-batches with per-user state
    carried across them; events buffer in state until the watermark passes
    them (order-tolerant within the delay, across batches), and a session
    is emitted once the watermark passes its gap deadline (idle users are
    then EVICTED from state — bounded state at any key cardinality).
    session_id is derived
    at read time (row_number per user over start_us) — the operator itself
    keeps no counter, which would restart after an eviction.  The oracle is
    plain SQL mirroring the pinned timeout semantics (closed_sessions_sql)."""
    import hashlib
    import shutil
    import tempfile

    from recrun_spark.streaming.sessions import (prepare_ranged_events,
                                                 run_sessionize_available_now)
    from recrun_spark.pipeline import _code_digest
    _ensure_pkg(spark)
    # Reuse the drained sink across oracle runs instead of leaking a fresh
    # /tmp dir + full replay per invocation.  The key covers the SOURCE
    # identity (path+size+mtime) AND every engine source file
    # (pipeline._code_digest: the runner and each module it calls; same
    # staleness class _ensure_pkg content-hashes the package zip for) —
    # an edited operator rebuilds instead of silently replaying old
    # behavior.  The build happens in a private mkdtemp and is atomically
    # renamed into the keyed path, so concurrent processes cannot observe
    # (or poison) a half-built sink: presence of the final dir == complete.
    src_file = f"{sf_dir}/events.parquet"
    st = os.stat(src_file)
    digest = hashlib.sha1(
        f"{src_file}:{st.st_size}:{st.st_mtime_ns}:3files".encode())
    digest.update(_code_digest().encode())
    work = os.path.join(tempfile.gettempdir(),
                        f"recrun_sess_stream_{digest.hexdigest()[:12]}")
    if not os.path.isdir(work):
        build = tempfile.mkdtemp(prefix="recrun_sess_build_")
        try:
            src = prepare_ranged_events(src_file, os.path.join(build, "in"),
                                        n_files=3)
            schema = spark.read.parquet(src_file).schema
            sink = run_sessionize_available_now(spark, src,
                                                os.path.join(build, "out"),
                                                schema)
            # the FileStreamSink metadata log records ABSOLUTE paths that
            # the rename below would orphan — drop it; the parquet files
            # are self-contained and list normally without it
            shutil.rmtree(os.path.join(sink, "_spark_metadata"),
                          ignore_errors=True)
            try:
                os.rename(build, work)   # atomic publish; loser keeps build
            except OSError:
                pass                     # another process published first
        finally:
            if os.path.isdir(build) and os.path.isdir(work) and build != work:
                shutil.rmtree(build, ignore_errors=True)
    sessions = spark.read.parquet(os.path.join(work, "out", "sessions"))
    w = Window.partitionBy("user_id").orderBy(F.col("start_us").asc())
    return sessions.select(
        "user_id", F.row_number().over(w).cast("int").alias("session_id"),
        "n_events", "start_us", "end_us")


def events_windowed_stream(spark, sf_dir):
    """Watermarked tumbling-window streaming aggregation in APPEND mode
    (streaming/windows.py): events replayed as 3 time-ranged files →
    hourly counts per event_type land in the sink only once the
    event-time watermark (10 min delay) passes the window.  The oracle is
    a plain GROUP BY restricted to FINALIZED windows — window_end <= the
    ms-floored global max ts minus the delay, the engine rule pinned by
    test_windowed_counts_finalization_semantics.  Same digest-keyed
    cached-workdir pattern as the other streaming rows."""
    import hashlib
    import shutil
    import tempfile

    import recrun_spark.streaming.windows as swin
    from recrun_spark.streaming.sessions import prepare_ranged_events
    from recrun_spark.pipeline import _code_digest
    _ensure_pkg(spark)
    src_file = f"{sf_dir}/events.parquet"
    st = os.stat(src_file)
    digest = hashlib.sha1(
        f"{src_file}:{st.st_size}:{st.st_mtime_ns}:3files:1h:10m".encode())
    digest.update(_code_digest().encode())
    work = os.path.join(tempfile.gettempdir(),
                        f"recrun_win_stream_{digest.hexdigest()[:12]}")
    if not os.path.isdir(work):
        build = tempfile.mkdtemp(prefix="recrun_win_build_")
        try:
            src = prepare_ranged_events(src_file, os.path.join(build, "in"),
                                        n_files=3)
            schema = spark.read.parquet(src_file).schema
            sink = swin.run_windowed_counts_available_now(
                spark, src, os.path.join(build, "out"), schema,
                window="1 hour", delay="10 minutes")
            # the FileStreamSink metadata log records ABSOLUTE paths the
            # rename below would orphan — the parquet files are
            # self-contained without it
            shutil.rmtree(os.path.join(sink, "_spark_metadata"),
                          ignore_errors=True)
            try:
                os.rename(build, work)   # atomic publish; loser keeps build
            except OSError:
                pass
        finally:
            if os.path.isdir(build) and os.path.isdir(work) and build != work:
                shutil.rmtree(build, ignore_errors=True)
    return (spark.read.parquet(os.path.join(work, "out", "windows"))
            .select("window_start", "window_end", "event_type", "n_events"))


def events_enriched_stream(spark, sf_dir):
    """STREAM-STATIC broadcast enrichment + watermarked windowed
    aggregation in APPEND mode (streaming/windows.py::
    enriched_windowed_counts — the remaining Structured Streaming join
    surface: the static nation dimension broadcasts into every
    micro-batch, NO state store, and the watermark passes through the
    stateless join untouched).  Events replayed as 3 time-ranged files,
    keyed user_id % 25 → nation; hourly counts per nation land in the
    sink only when finalized (window_end ≤ ms-floored max ts − delay,
    inclusive — the SAME pinned rule as events_windowed_stream, because
    a stateless join cannot change finalization).  Oracle: the batch
    join + GROUP BY under that predicate.  Same digest-keyed
    cached-workdir pattern as the other streaming rows."""
    import hashlib
    import shutil
    import tempfile

    import recrun_spark.streaming.windows as swin
    from recrun_spark.streaming.sessions import prepare_ranged_events
    from recrun_spark.pipeline import _code_digest
    _ensure_pkg(spark)
    src_file = f"{sf_dir}/events.parquet"
    st = os.stat(src_file)
    digest = hashlib.sha1(
        f"{src_file}:{st.st_size}:{st.st_mtime_ns}:enr:3f:1h:10m".encode())
    digest.update(_code_digest().encode())
    work = os.path.join(tempfile.gettempdir(),
                        f"recrun_enr_stream_{digest.hexdigest()[:12]}")
    if not os.path.isdir(work):
        build = tempfile.mkdtemp(prefix="recrun_enr_build_")
        try:
            keyed_src = os.path.join(build, "keyed.parquet")
            (spark.read.parquet(src_file)
             .withColumn("dim_key", F.col("user_id") % 25)
             .coalesce(1).write.mode("overwrite").parquet(keyed_src))
            src = prepare_ranged_events(keyed_src, os.path.join(build, "in"),
                                        n_files=3)
            schema = spark.read.parquet(keyed_src).schema
            dim = _t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").cast("long").alias("dim_key"),
                F.col("n_name").alias("label"))
            sink = swin.run_enriched_counts_available_now(
                spark, src, os.path.join(build, "out"), schema, dim,
                window="1 hour", delay="10 minutes")
            shutil.rmtree(os.path.join(sink, "_spark_metadata"),
                          ignore_errors=True)
            try:
                os.rename(build, work)
            except OSError:
                pass
        finally:
            if os.path.isdir(build) and os.path.isdir(work) and build != work:
                shutil.rmtree(build, ignore_errors=True)
    return (spark.read.parquet(os.path.join(work, "out", "enriched"))
            .select("window_start", "window_end",
                    F.col("label").alias("nation"), "n_events"))


def events_attribution_stream(spark, sf_dir):
    """STREAM-STREAM watermarked interval join (streaming/join.py — the
    symmetric-hash-join state surface): purchases and clicks replayed as
    two independent 3-file ascending streams; each purchase matched to
    the SAME user's clicks within the preceding hour (inclusive both
    ends).  Under ascending ranged replay the inner join is COMPLETE —
    the sink equals the batch join with no finalization predicate
    (eviction argument in the module docstring, pinned by
    test_interval_join_stream_equals_batch) — so the oracle is the plain
    batch self-join in SQL.  lag_us is the exact µs difference (whole-
    second lag functions diverge across engines on sub-second parts).
    Same digest-keyed cached-workdir pattern as the other streaming
    rows."""
    import hashlib
    import shutil
    import tempfile

    import recrun_spark.streaming.join as sjoin
    from recrun_spark.streaming.sessions import prepare_ranged_events
    from recrun_spark.pipeline import _code_digest
    _ensure_pkg(spark)
    src_file = f"{sf_dir}/events.parquet"
    st = os.stat(src_file)
    digest = hashlib.sha1(
        f"{src_file}:{st.st_size}:{st.st_mtime_ns}:3files:1h:10m:attr"
        .encode())
    digest.update(_code_digest().encode())
    work = os.path.join(tempfile.gettempdir(),
                        f"recrun_attr_stream_{digest.hexdigest()[:12]}")
    if not os.path.isdir(work):
        import pyarrow.parquet as pq
        build = tempfile.mkdtemp(prefix="recrun_attr_build_")
        try:
            tbl = pq.read_table(src_file)
            sides = {}
            for side, etype in (("purchases", "purchase"),
                                ("clicks", "click")):
                import pyarrow.compute as pc
                part = tbl.filter(pc.equal(tbl["event_type"], etype))
                fp = os.path.join(build, f"{side}.parquet")
                pq.write_table(part, fp)
                sides[side] = prepare_ranged_events(
                    fp, os.path.join(build, f"in_{side}"), n_files=3)
            schema = spark.read.parquet(
                os.path.join(build, "purchases.parquet")).schema
            sink = sjoin.run_interval_join_available_now(
                spark, sides["purchases"], sides["clicks"],
                os.path.join(build, "out"), schema, key_col="user_id",
                ts_col="ts", max_lag="1 hour", delay="10 minutes")
            shutil.rmtree(os.path.join(sink, "_spark_metadata"),
                          ignore_errors=True)
            try:
                os.rename(build, work)   # atomic publish; loser keeps build
            except OSError:
                pass
        finally:
            if os.path.isdir(build) and os.path.isdir(work) and build != work:
                shutil.rmtree(build, ignore_errors=True)
    return (spark.read.parquet(os.path.join(work, "out", "joined"))
            .select("user_id",
                    F.col("l_event_id").alias("purchase_id"),
                    F.col("r_event_id").alias("click_id"),
                    F.col("l_ts").alias("purchase_ts"),
                    F.col("r_ts").alias("click_ts"),
                    "lag_us"))


def documents_dedup_stream(spark, sf_dir):
    """STREAMING first-seen exact dedup (streaming/dedup.py): documents
    replayed as 3 doc_id-ranged files → 3 micro-batches; each batch
    reduces to (fp, min doc_id) and appends only fingerprints the unique
    sink has never seen (foreachBatch + anti-join — idempotent on batch
    retry, no state-store growth).  With id-ordered ranges the
    first-batch winner IS the global min doc_id, so the oracle is a plain
    GROUP BY.  Same digest-keyed cached-workdir pattern as
    events_sessions_stream (atomic publish; keyed on source identity +
    operator source)."""
    import hashlib
    import shutil
    import tempfile

    import recrun_spark.streaming.dedup as sdedup
    from recrun_spark.pipeline import _code_digest
    _ensure_pkg(spark)
    src_file = f"{sf_dir}/documents.parquet"
    st = os.stat(src_file)
    digest = hashlib.sha1(
        f"{src_file}:{st.st_size}:{st.st_mtime_ns}:3files".encode())
    digest.update(_code_digest().encode())
    work = os.path.join(tempfile.gettempdir(),
                        f"recrun_dedup_stream_{digest.hexdigest()[:12]}")
    if not os.path.isdir(work):
        build = tempfile.mkdtemp(prefix="recrun_dedup_build_")
        try:
            src = sdedup.prepare_ranged_docs(src_file,
                                             os.path.join(build, "in"),
                                             n_files=3)
            schema = spark.read.parquet(src_file).schema
            sdedup.run_dedup_available_now(spark, src,
                                           os.path.join(build, "out"),
                                           schema)
            try:
                os.rename(build, work)   # atomic publish; loser keeps build
            except OSError:
                pass
        finally:
            if os.path.isdir(build) and os.path.isdir(work) and build != work:
                shutil.rmtree(build, ignore_errors=True)
    return spark.read.parquet(os.path.join(work, "out", "unique")) \
        .select("fp", "doc_id")


def kg_triples_stream(spark, sf_dir):
    """END-TO-END STREAMING KG parity (streaming/kg.py): the SAME 60-doc
    interleaved corpus as the flagship, replayed as 3 doc_id-ranged files
    → 3 foreachBatch micro-batches through the full extract→link→
    canonicalize→triples flow — and the UNION of the per-batch outputs
    must hash-equal the SAME Node-reference golden the batch flagship is
    checked against (every triple rule is doc-scoped and each doc lands
    in exactly one batch, so stream == batch EXACTLY).  This puts the
    streaming end-to-end path in the driver's hard signal, not just the
    unit suite.  Cached-workdir pattern as events_sessions_stream."""
    import hashlib
    import shutil
    import tempfile

    import recrun_spark.streaming.kg as skg
    from recrun_spark.stage2 import load_aliases
    from recrun_spark.streaming.dedup import prepare_ranged_docs
    from recrun_spark.pipeline import _code_digest
    _ensure_pkg(spark)
    corpus_path = _entry_corpus_path()
    st = os.stat(corpus_path)
    digest = hashlib.sha1(
        f"{corpus_path}:{st.st_size}:{st.st_mtime_ns}:3files".encode())
    digest.update(_code_digest().encode())
    work = os.path.join(tempfile.gettempdir(),
                        f"recrun_kg_stream_{digest.hexdigest()[:12]}")
    if not os.path.isdir(work):
        build = tempfile.mkdtemp(prefix="recrun_kgs_build_")
        try:
            src = prepare_ranged_docs(corpus_path,
                                      os.path.join(build, "in"), n_files=3)
            skg.run_kg_available_now(spark, src, os.path.join(build, "out"),
                                     aliases_df=load_aliases(spark))
            try:
                os.rename(build, work)   # atomic publish; loser keeps build
            except OSError:
                pass
        finally:
            if os.path.isdir(build) and os.path.isdir(work) and build != work:
                shutil.rmtree(build, ignore_errors=True)
    return (spark.read.parquet(os.path.join(work, "out", "triples"))
            .select("subj", "pred", "obj", "doc_id"))


def kg_triples_interleaved(spark, sf_dir):
    """The real interleaved KG pipeline end-to-end on a synthesized corpus.
    Value oracle: data/golden/entry_triples_60.parquet — the Node reference
    oracle's retained spans run through the same fixed linking rules
    single-node (tools/oracle/make_entry_golden.py), so this row measures
    distributed-vs-reference triple parity in the driver's hard signal."""
    from recrun_spark.stage1 import extract_documents
    from recrun_spark.stage2 import detect_mentions, link_mentions, load_aliases
    from recrun_spark.stage3 import canonicalize
    from recrun_spark.stage4 import assemble_triples
    _ensure_pkg(spark)
    docs = _entry_corpus(spark)
    dictionary = canonicalize(load_aliases(spark))
    ex = extract_documents(docs)
    linked = link_mentions(detect_mentions(ex, dictionary), dictionary)
    return assemble_triples(ex, linked, dictionary.canonical)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # flagship first: the end-to-end KG parity row must land in the
        # driver artifact even if a later-query budget/timeout trims the
        # tail of the dict (r4 lost exactly this row by registering it last)
        "kg_triples_interleaved": kg_triples_interleaved,
        # round-5 additions next: new rows get witnessed by the driver
        # artifact even if a per-round budget trims the tail of the dict
        "kg_triples_stream": kg_triples_stream,
        "kg_entity_pagerank": kg_entity_pagerank,
        "kg_entity_pagerank_weighted": kg_entity_pagerank_weighted,
        "kg_entity_ppr": kg_entity_ppr,
        "orders_dim_asof": orders_dim_asof,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "q18_large_volume_customer": q18_large_volume_customer,
        "q10_returned_items": q10_returned_items,
        "kg_label_prop": kg_label_prop,
        "documents_bm25_topk": documents_bm25_topk,
        "orders_skyline": orders_skyline,
        "documents_fuzzy_aliases": documents_fuzzy_aliases,
        "orders_sssp": orders_sssp,
        "events_resample_1h": events_resample_1h,
        "documents_shuffle_order": documents_shuffle_order,
        "customer_hierarchy": customer_hierarchy,
        "embeddings_quantize_int8": embeddings_quantize_int8,
        "documents_fingerprint": documents_fingerprint,
        "join_size_estimate": join_size_estimate,
        "bloom_join_reduce": bloom_join_reduce,
        "events_kmv_overlap": events_kmv_overlap,
        "documents_pps_sample": documents_pps_sample,
        "events_heavy_hitters": events_heavy_hitters,
        "documents_interleave_mix": documents_interleave_mix,
        "kg_bfs_neighborhood": kg_bfs_neighborhood,
        "kg_triangles": kg_triangles,
        "kg_clustering_coeff": kg_clustering_coeff,
        "documents_keywords_textrank": documents_keywords_textrank,
        "kg_entity_jaccard": kg_entity_jaccard,
        "kg_entity_pmi": kg_entity_pmi,
        "kg_kcore": kg_kcore,
        "kg_truss": kg_truss,
        "kg_entity_matching": kg_entity_matching,
        "kg_neighborhood_hll": kg_neighborhood_hll,
        "customer_mst": customer_mst,
        "dedup_jaccard_prefix": dedup_jaccard_prefix,
        "documents_tfidf_topk": documents_tfidf_topk,
        "documents_dup_spans": documents_dup_spans,
        "documents_ngram_lm": documents_ngram_lm,
        "documents_lm_coverage": documents_lm_coverage,
        "customer_dim_scd2": customer_dim_scd2,
        "dedup_keep_best": dedup_keep_best,
        "documents_domain_cap": documents_domain_cap,
        "documents_decontaminate": documents_decontaminate,
        "documents_dedup_stream": documents_dedup_stream,
        "events_windowed_stream": events_windowed_stream,
        "events_attribution_stream": events_attribution_stream,
        "documents_chunks": documents_chunks,
        "q1_pricing": q1_pricing,
        "revenue_by_region": revenue_by_region,
        "top_customer_per_nation": top_customer_per_nation,
        "link_score_agg": link_score_agg,
        "sibling_theta_join": sibling_theta_join,
        "customers_without_orders": customers_without_orders,
        "title_clean": title_clean,
        "word_counts": word_counts,
        "cc_components": cc_components,
        "kg_mentions_flat": kg_mentions_flat,
        "kg_comentions_flat": kg_comentions_flat,
        "dedup_exact": dedup_exact,
        "dedup_jaccard": dedup_jaccard,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_clusters": dedup_clusters,
        "text_stats": text_stats,
        "lang_quality_summary": lang_quality_summary,
        "ann_cosine_topk": ann_cosine_topk,
        "ann_ivf_topk": ann_ivf_topk,
        "ann_ivf_topk_2level": ann_ivf_topk_2level,
        "ann_srp_topk": ann_srp_topk,
        "embeddings_kmeans": embeddings_kmeans,
        "embeddings_pq_codes": embeddings_pq_codes,
        "ann_pq_topk": ann_pq_topk,
        "kg_negative_samples": kg_negative_samples,
        "documents_sim_pairs": documents_sim_pairs,
        "kg_adjacency": kg_adjacency,
        "events_outliers_mad": events_outliers_mad,
        "documents_bpe_vocab": documents_bpe_vocab,
        "documents_bpe_tokens": documents_bpe_tokens,
        "events_markov": events_markov,
        "customer_blocking_pairs": customer_blocking_pairs,
        "documents_source_nucleus": documents_source_nucleus,
        "events_decayed_counts": events_decayed_counts,
        "documents_profile": documents_profile,
        "documents_snapshot_diff": documents_snapshot_diff,
        "events_ema": events_ema,
        "events_trend": events_trend,
        "events_spatial_pairs": events_spatial_pairs,
        "events_user_scc": events_user_scc,
        "events_enriched_stream": events_enriched_stream,
        "kg_hits": kg_hits,
        "events_user_walks": events_user_walks,
        "ann_near_dups": ann_near_dups,
        "ann_dedup_clusters": ann_dedup_clusters,
        "events_quantiles": events_quantiles,
        "parts_with_orders": parts_with_orders,
        "rollup_pricing": rollup_pricing,
        "events_props_json": events_props_json,
        "cube_pricing": cube_pricing,
        "nation_order_balance": nation_order_balance,
        "simhash_near_dups": simhash_near_dups,
        "events_asof_orders": events_asof_orders,
        "events_after_orders_range": events_after_orders_range,
        "events_running_stats": events_running_stats,
        "events_time_rollup": events_time_rollup,
        "events_user_cms": events_user_cms,
        "events_user_hll": events_user_hll,
        "events_user_bloom": events_user_bloom,
        "events_value_hdr": events_value_hdr,
        "events_hdr_quantiles": events_hdr_quantiles,
        "events_zorder_key": events_zorder_key,
        "documents_hash_split": documents_hash_split,
        "documents_pack_blocks": documents_pack_blocks,
        "documents_pii_scrub": documents_pii_scrub,
        "documents_repetition_stats": documents_repetition_stats,
        "documents_stratified_sample": documents_stratified_sample,
        "documents_temperature_mix": documents_temperature_mix,
        "documents_corpus_filter": documents_corpus_filter,
        "salted_join_revenue": salted_join_revenue,
        "events_sessionized": events_sessionized,
        "events_hourly": events_hourly,
        "events_funnel": events_funnel,
        "events_bursts": events_bursts,
        "documents_containment": documents_containment,
        "documents_phonetic_keys": documents_phonetic_keys,
        "events_equidepth_bins": events_equidepth_bins,
        "events_seasonality": events_seasonality,
        "kg_walk_counts": kg_walk_counts,
        "kg_partition_plan": kg_partition_plan,
        "events_user_active_time": events_user_active_time,
        "orders_brand_rules": orders_brand_rules,
        "documents_dup_evidence": documents_dup_evidence,
        "events_skew_report": events_skew_report,
        "events_retention_cohorts": events_retention_cohorts,
        "events_type_pivot": events_type_pivot,
        "simhash_sigs": simhash_sigs,
        "minhash_sigs": minhash_sigs,
        "media_features": media_features,
        "render_overlay": render_overlay,
        "events_sessions_stream": events_sessions_stream,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'))"
_TOKS = f"string_split_regex({_NORM}, '\\s+')"
_SHINGLE_CTE = f"""
norm AS (
  SELECT doc_id, list_filter({_TOKS}, t -> t != '') AS toks FROM documents
),
sh0 AS (
  SELECT DISTINCT doc_id,
    unnest(CASE WHEN len(toks) >= 3
      THEN list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ELSE [array_to_string(toks, ' ')] END) AS shingle
  FROM norm
),
-- df-cut mirrors dedup.jaccard_pairs(max_shingle_freq=1000): both the
-- intersection AND the set sizes use the kept-shingle universe
sh AS (
  SELECT s.doc_id, s.shingle FROM sh0 s
  JOIN (SELECT shingle FROM sh0 GROUP BY shingle
        HAVING count(*) <= 1000) keep USING (shingle)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b,
         round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)"""

_JACCARD_SQL = f"""
WITH {_SHINGLE_CTE}
SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.30
"""

_COS = ("list_inner_product(a.vec, b.vec) / "
        "(sqrt(list_inner_product(a.vec, a.vec)) * "
        "sqrt(list_inner_product(b.vec, b.vec)))")

_ANN_SQL = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
q AS (SELECT vec_id, vec FROM v WHERE vec_id < 10),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round({_COS}, 4) AS sim
  FROM q a JOIN v b ON a.vec_id != b.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 5
"""

_IVF_SQL = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
-- deterministic hash-stratified centroid sample: smallest (md5(id), id) —
-- mirrors similarity._centroids(strategy='hash_sample')
cents AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR) ASC, vec_id ASC)
           AS bucket, vec
  FROM v ORDER BY md5(vec_id::VARCHAR) ASC, vec_id ASC LIMIT 16
),
assign0 AS (
  SELECT a.vec_id, b.bucket, round({_COS}, 6) AS csim,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY round({_COS}, 6) DESC, b.bucket ASC) AS r
  FROM v a, cents b
),
buckets AS (SELECT vec_id, bucket FROM assign0 WHERE r = 1),
q AS (SELECT vec_id, vec FROM v WHERE vec_id < 10),
qprobe AS (
  SELECT a.vec_id AS query_id, a.vec AS qvec, b.bucket,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY round({_COS}, 6) DESC, b.bucket ASC) AS r
  FROM q a, cents b
),
qb AS (SELECT query_id, qvec, bucket FROM qprobe WHERE r <= 4),
scored AS (
  SELECT qb.query_id, a.vec_id AS neighbor_id,
         round(list_inner_product(qb.qvec, a.vec) /
               (sqrt(list_inner_product(qb.qvec, qb.qvec)) *
                sqrt(list_inner_product(a.vec, a.vec))), 4) AS sim
  FROM v a
  JOIN buckets bk ON bk.vec_id = a.vec_id
  JOIN qb ON qb.bucket = bk.bucket AND a.vec_id != qb.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 5
"""

def _bpe_sql(n_merges: int = 12) -> str:
    """BPE oracle: re-learns every merge INDEPENDENTLY as unrolled CTE
    rounds (pair count → argmax with the pinned (c desc, x, y) tie-break
    → boundary-fenced replace), then emits the final tokenization.  The
    LEFT JOIN ON TRUE keeps exhausted rounds (no pairs left) as no-ops,
    mirroring bpe_learn's early break."""
    s = "chr(31)"          # BPE_SEP
    ss = f"{s} || {s}"
    rounds = []
    for r in range(1, n_merges + 1):
        rounds.append(f"""
px{r} AS MATERIALIZED (
  SELECT freq,
         unnest(list_transform(range(1, len(s)),
                               i -> {{'x': s[i], 'y': s[i + 1]}})) AS p
  FROM (SELECT freq, string_split(trim(wrapped, {s}), {ss}) AS s
        FROM v{r - 1})),
p{r} AS (SELECT p.x AS x, p.y AS y, sum(freq) AS c
         FROM px{r} GROUP BY 1, 2),
b{r} AS (SELECT x, y FROM p{r} ORDER BY c DESC, x ASC, y ASC LIMIT 1),
v{r} AS MATERIALIZED (
  SELECT word, freq,
         CASE WHEN b.x IS NULL THEN wrapped
              ELSE replace(wrapped, {s} || b.x || {ss} || b.y || {s},
                           {s} || b.x || b.y || {s}) END AS wrapped
  FROM v{r - 1} LEFT JOIN b{r} b ON TRUE)""")
    return f"""
WITH words AS (
  SELECT word, count(*)::BIGINT AS freq
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
          AS word
        FROM documents
        WHERE doc_id IS NOT NULL AND trim(text) <> '')
  WHERE word <> '' AND NOT contains(word, {s})
  GROUP BY 1),
v0 AS (
  SELECT word, freq,
         {s} || array_to_string(
           list_filter(string_split_regex(word, ''), c -> c <> ''),
           {ss}) || {s} AS wrapped
  FROM words),
{','.join(rounds)}
SELECT word, freq,
       len(string_split(trim(wrapped, {s}), {ss}))::INT AS n_tokens,
       array_to_string(string_split(trim(wrapped, {s}), {ss}), ' ')
         AS tokens
FROM v{n_merges}
"""


def _bpe_encode_sql(n_merges: int = 8) -> str:
    """BPE-encode oracle: re-learns the merge table on the English slice
    (the same unrolled rounds as _bpe_sql, with the training WHERE), then
    APPLIES each round's winning pair to the distinct words of the WHOLE
    corpus (tv rounds — the same boundary-fenced replace, LEFT JOIN ON
    TRUE no-op when a round exhausted), and aggregates per-doc word and
    token counts."""
    s = "chr(31)"          # BPE_SEP
    ss = f"{s} || {s}"
    rounds = []
    for r in range(1, n_merges + 1):
        rounds.append(f"""
px{r} AS MATERIALIZED (
  SELECT freq,
         unnest(list_transform(range(1, len(s)),
                               i -> {{'x': s[i], 'y': s[i + 1]}})) AS p
  FROM (SELECT freq, string_split(trim(wrapped, {s}), {ss}) AS s
        FROM v{r - 1})),
p{r} AS (SELECT p.x AS x, p.y AS y, sum(freq) AS c
         FROM px{r} GROUP BY 1, 2),
b{r} AS (SELECT x, y FROM p{r} ORDER BY c DESC, x ASC, y ASC LIMIT 1),
v{r} AS MATERIALIZED (
  SELECT word, freq,
         CASE WHEN b.x IS NULL THEN wrapped
              ELSE replace(wrapped, {s} || b.x || {ss} || b.y || {s},
                           {s} || b.x || b.y || {s}) END AS wrapped
  FROM v{r - 1} LEFT JOIN b{r} b ON TRUE),
tv{r} AS MATERIALIZED (
  SELECT word, CASE WHEN b.x IS NULL THEN wrapped
               ELSE replace(wrapped, {s} || b.x || {ss} || b.y || {s},
                            {s} || b.x || b.y || {s}) END AS wrapped
  FROM tv{r - 1} LEFT JOIN b{r} b ON TRUE)""")
    return f"""
WITH words AS (
  SELECT word, count(*)::BIGINT AS freq
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
          AS word
        FROM documents
        WHERE doc_id IS NOT NULL AND trim(text) <> '' AND lang = 'en')
  WHERE word <> '' AND NOT contains(word, {s})
  GROUP BY 1),
v0 AS (
  SELECT word, freq,
         {s} || array_to_string(
           list_filter(string_split_regex(word, ''), c -> c <> ''),
           {ss}) || {s} AS wrapped
  FROM words),
wc AS MATERIALIZED (
  SELECT doc_id, word, count(*)::BIGINT AS k
  FROM (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+'))
                 AS word
        FROM documents
        WHERE doc_id IS NOT NULL AND trim(text) <> '')
  WHERE word <> '' AND NOT contains(word, {s})
  GROUP BY 1, 2),
tv0 AS (
  SELECT word,
         {s} || array_to_string(
           list_filter(string_split_regex(word, ''), c -> c <> ''),
           {ss}) || {s} AS wrapped
  FROM (SELECT DISTINCT word FROM wc)),
{','.join(rounds)}
SELECT wc.doc_id,
       CAST(sum(wc.k) AS BIGINT) AS n_words,
       CAST(sum(wc.k * len(string_split(trim(t.wrapped, {s}), {ss})))
            AS BIGINT) AS n_tokens
FROM wc JOIN tv{n_merges} t ON t.word = wc.word
GROUP BY 1
"""


def _walks_sql(walk_len: int = 4, seed: int = 23) -> str:
    """Hash-walk oracle: every step replayed — the argmin neighbor is
    row_number() = 1 over (h60, neighbor); dead ends coalesce in place.
    MATERIALIZED rounds (each references the prior frontier twice)."""
    rounds = []
    for r in range(1, walk_len + 1):
        h = _ddb_hash60(f"e.s || '|{r}|{seed}|' || e.t")
        rounds.append(f"""
w{r} AS MATERIALIZED (
  SELECT w.start, coalesce(p.nxt, w.cur) AS cur
  FROM w{r - 1} w LEFT JOIN (
    SELECT start, nxt FROM (
      SELECT w.start, e.t AS nxt,
             row_number() OVER (PARTITION BY w.start
                                ORDER BY ({h}) ASC, e.t ASC) AS rn
      FROM w{r - 1} w JOIN e ON e.s = w.cur)
    WHERE rn = 1) p ON p.start = w.start)""")
    steps = "\nUNION ALL ".join(
        f"SELECT start, {r} AS step, cur AS node FROM w{r}"
        for r in range(walk_len + 1))
    return f"""
WITH d AS (
  SELECT event_id, ts, user_id, event_type,
         epoch_us(ts) // 3600000000 AS hr
  FROM events),
e0 AS (
  SELECT user_id AS su,
         lead(user_id) OVER (PARTITION BY event_type, hr
                             ORDER BY ts ASC, event_id ASC) AS tu
  FROM d),
e AS MATERIALIZED (
  SELECT DISTINCT CAST(su AS VARCHAR) AS s, CAST(tu AS VARCHAR) AS t
  FROM e0 WHERE tu IS NOT NULL AND tu != su),
nodes AS (SELECT s AS n FROM e UNION SELECT t FROM e),
w0 AS MATERIALIZED (SELECT n AS start, n AS cur FROM nodes),
{','.join(rounds)}
SELECT start, CAST(step AS INTEGER) AS step, node FROM ({steps})
"""


def _hits_sql(iters: int = 3, scale: int = 10 ** 6) -> str:
    """HITS oracle: all rounds unrolled as MATERIALIZED CTEs (each round
    references the prior scores twice — the BPE CTE-inlining lesson);
    max-normalization via a scalar subquery, truncating // matching
    Spark's div on the positive scores."""
    rounds = []
    for r in range(1, iters + 1):
        rounds.append(f"""
ar{r} AS MATERIALIZED (
  SELECT e.dst AS node, sum(h.score) AS raw
  FROM e JOIN h{r - 1} h ON h.node = e.src GROUP BY 1),
a{r} AS MATERIALIZED (
  SELECT node, CAST(raw * {scale} // (SELECT max(raw) FROM ar{r})
               AS BIGINT) AS score
  FROM ar{r}),
hr{r} AS MATERIALIZED (
  SELECT e.src AS node, sum(a.score) AS raw
  FROM e JOIN a{r} a ON a.node = e.dst GROUP BY 1),
h{r} AS MATERIALIZED (
  SELECT node, CAST(raw * {scale} // (SELECT max(raw) FROM hr{r})
               AS BIGINT) AS score
  FROM hr{r})""")
    return f"""
WITH {_MENTIONS_CTE},
m AS (SELECT DISTINCT doc_id, entity FROM ments),
e AS MATERIALIZED (SELECT 'd' || CAST(doc_id AS VARCHAR) AS src,
                          entity AS dst FROM m),
h0 AS MATERIALIZED (SELECT DISTINCT src AS node,
                           {scale}::BIGINT AS score FROM e),
{','.join(rounds)}
SELECT node, 'hub' AS kind, score FROM h{iters}
UNION ALL
SELECT node, 'auth' AS kind, score FROM a{iters}
"""


def _kmeans_sql(k: int = 8, iters: int = 4, dim: int = 64) -> str:
    """k-means oracle: replays EVERY Lloyd round — hash-ordered init,
    exact-integer argmin assignment (ties → lower cluster id), per-
    dimension sum, truncated-div mean (DuckDB's `//` truncates toward
    zero, matching the operator's pinned driver-side tdiv), empty-
    cluster carryover via LEFT JOIN coalesce.  MATERIALIZED rounds (the
    BPE lesson: each round references the prior one more than once, and
    inlined CTEs go exponential)."""
    d2 = ("list_sum(list_transform(range(0,{dim}), i -> "
          "(v.q[i+1] - c.c[i+1]) * (v.q[i+1] - c.c[i+1])))"
          .format(dim=dim))
    rounds = []
    for r in range(iters + 1):
        rounds.append(f"""
a{r} AS MATERIALIZED (
  SELECT vec_id, q, j AS cluster, dist2 FROM (
    SELECT v.vec_id, v.q, c.j, CAST({d2} AS BIGINT) AS dist2,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY CAST({d2} AS BIGINT) ASC,
                                       c.j ASC) AS rnk
    FROM v, c{r} c) WHERE rnk = 1)""")
        if r == iters:
            break
        rounds.append(f"""
s{r} AS MATERIALIZED (
  SELECT cluster, i, CAST(sum(qv) AS BIGINT) AS s, count(*)::BIGINT AS n
  FROM (SELECT a.cluster, t.i, a.q[t.i + 1] AS qv
        FROM a{r} a, (SELECT unnest(range(0, {dim})) AS i) t)
  GROUP BY 1, 2),
m{r} AS MATERIALIZED (
  SELECT cluster AS j, list(s // n ORDER BY i) AS vec
  FROM s{r} GROUP BY 1),
c{r + 1} AS MATERIALIZED (
  SELECT p.j, coalesce(m.vec, p.c) AS c
  FROM c{r} p LEFT JOIN m{r} m ON m.j = p.j)""")
    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 1048576.0)::BIGINT) AS q
  FROM embeddings),
c0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR) ASC,
                            vec_id ASC) - 1 AS j, q AS c
  FROM v ORDER BY md5(vec_id::VARCHAR) ASC, vec_id ASC LIMIT {k}),
{','.join(rounds)}
SELECT vec_id, cluster, dist2 FROM a{iters}
"""


def _pq_sql(m: int = 4, k: int = 8, iters: int = 2, dim: int = 64,
            mode: str = "codes", nq: int = 5, topk: int = 5) -> str:
    """Product-quantization oracle: replays EVERY Lloyd round in EVERY
    subspace — the (vec_id, s) exploded frame makes all m subspace
    k-means one set of CTEs keyed by s (exactly the operator's exploded
    update aggregate).  Same pinned arithmetic as _kmeans_sql: hash-
    ordered init (the k smallest (md5(id), id) vectors, sliced per
    subspace), exact-integer argmin (ties → lower cluster id),
    truncated-div means (DuckDB `//`), empty-cluster carryover, rounds
    MATERIALIZED (the BPE exponential-inlining lesson).  mode='codes'
    emits (vec_id, code, qerr); mode='topk' additionally replays the
    ADC scoring join (query slices vs the centroids of each neighbor's
    code) and the per-query top-k window."""
    sub = dim // m
    d2 = (f"list_sum(list_transform(range(0,{sub}), i -> "
          f"(v.qs[i+1] - c.c[i+1]) * (v.qs[i+1] - c.c[i+1])))")
    rounds = []
    for r in range(iters + 1):
        rounds.append(f"""
a{r} AS MATERIALIZED (
  SELECT vec_id, s, qs, j AS cluster, dist2 FROM (
    SELECT v.vec_id, v.s, v.qs, c.j, CAST({d2} AS BIGINT) AS dist2,
           row_number() OVER (PARTITION BY v.vec_id, v.s
                              ORDER BY CAST({d2} AS BIGINT) ASC,
                                       c.j ASC) AS rnk
    FROM sv v JOIN c{r} c ON c.s = v.s) WHERE rnk = 1)""")
        if r == iters:
            break
        rounds.append(f"""
s{r} AS MATERIALIZED (
  SELECT s, cluster, i, CAST(sum(qv) AS BIGINT) AS sm,
         count(*)::BIGINT AS n
  FROM (SELECT a.s, a.cluster, t.i, a.qs[t.i + 1] AS qv
        FROM a{r} a, (SELECT unnest(range(0, {sub})) AS i) t)
  GROUP BY 1, 2, 3),
m{r} AS MATERIALIZED (
  SELECT s, cluster AS j, list(sm // n ORDER BY i) AS vec
  FROM s{r} GROUP BY 1, 2),
c{r + 1} AS MATERIALIZED (
  SELECT p.s, p.j, coalesce(mm.vec, p.c) AS c
  FROM c{r} p LEFT JOIN m{r} mm ON mm.s = p.s AND mm.j = p.j)""")
    train = f"""
WITH v AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 1048576.0)::BIGINT) AS q
  FROM embeddings),
ss AS (SELECT unnest(range(0, {m})) AS s),
sv AS MATERIALIZED (
  SELECT vec_id, ss.s,
         list_slice(q, ss.s * {sub} + 1, ss.s * {sub} + {sub}) AS qs
  FROM v, ss),
c0 AS MATERIALIZED (
  SELECT ss.s, i.j,
         list_slice(i.q, ss.s * {sub} + 1, ss.s * {sub} + {sub}) AS c
  FROM (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR) ASC,
                                  vec_id ASC) - 1 AS j, q
        FROM v ORDER BY md5(vec_id::VARCHAR) ASC, vec_id ASC
        LIMIT {k}) i, ss),
{','.join(rounds)}"""
    if mode == "codes":
        return f"""{train}
SELECT vec_id,
       string_agg(cluster::VARCHAR, ',' ORDER BY s) AS code,
       CAST(sum(dist2) AS BIGINT) AS qerr
FROM a{iters} GROUP BY vec_id
"""
    return f"""{train},
qrs AS (SELECT vec_id AS query_id, s, qs FROM sv WHERE vec_id < {nq}),
adc AS (
  SELECT q.query_id, x.vec_id AS neighbor_id,
         CAST(sum(list_sum(list_transform(range(0, {sub}), i ->
              (q.qs[i+1] - c.c[i+1]) * (q.qs[i+1] - c.c[i+1]))))
              AS BIGINT) AS adc_dist2
  FROM qrs q
  JOIN a{iters} x ON x.s = q.s AND x.vec_id <> q.query_id
  JOIN c{iters} c ON c.s = x.s AND c.j = x.cluster
  GROUP BY 1, 2)
SELECT query_id, neighbor_id, rank, adc_dist2 FROM (
  SELECT query_id, neighbor_id, adc_dist2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist2 ASC,
                                     neighbor_id ASC) AS rank
  FROM adc) WHERE rank <= {topk}
"""


def _srp_sql(n_tables: int = 4, n_bits: int = 8, dim: int = 64,
             k: int = 5) -> str:
    """SRP-LSH oracle: the Rademacher sign matrix is generated by the SAME
    driver-side function as the Spark plan (similarity._srp_signs) and
    embedded as integer-array literals, so both engines compute identical
    sign bits, bucket codes, and quantized dot products — exact integer
    arithmetic end to end."""
    from recrun_spark.functions.similarity import SRP_SCALE, _srp_signs
    signs = _srp_signs(n_tables * n_bits, dim)

    def bits(t: int) -> str:
        parts = []
        for j in range(n_bits):
            s = "[" + ",".join(str(x) for x in signs[t * n_bits + j]) + "]"
            parts.append(
                f"CASE WHEN list_sum(list_transform(range(0,{dim}),"
                f" i -> q[i+1] * ({s})[i+1])) >= 0"
                f" THEN {1 << j} ELSE 0 END")
        return "(" + " + ".join(parts) + ")"

    codes_union = "\nUNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {bits(t)} AS code FROM v"
        for t in range(n_tables))
    return f"""
WITH v AS (SELECT vec_id,
    list_transform(embedding,
                   x -> floor(x::DOUBLE * {float(SRP_SCALE)})::BIGINT) AS q
  FROM embeddings),
codes AS ({codes_union}),
cand AS (
  SELECT DISTINCT qc.vec_id AS query_id, vc.vec_id AS neighbor_id
  FROM codes qc JOIN codes vc ON qc.tbl = vc.tbl AND qc.code = vc.code
                             AND vc.vec_id != qc.vec_id
  WHERE qc.vec_id < 10),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(list_sum(list_transform(range(0,{dim}),
              i -> a.q[i+1] * b.q[i+1])) AS BIGINT) AS qdot
  FROM cand c JOIN v a ON a.vec_id = c.query_id
              JOIN v b ON b.vec_id = c.neighbor_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY qdot DESC, neighbor_id ASC) AS rank FROM scored)
SELECT query_id, neighbor_id, rank, qdot FROM ranked WHERE rank <= {k}
"""


def _cosd(x: str, y: str) -> str:
    """DuckDB cosine between two named DOUBLE[] expressions."""
    return (f"list_inner_product({x}, {y}) / "
            f"(sqrt(list_inner_product({x}, {x})) * "
            f"sqrt(list_inner_product({y}, {y})))")


# two-level coarse→fine corpus assignment (mirrors similarity._bucket_ranks
# assignment='two_level': 4 = isqrt(16) coarse cells, 2 coarse probes),
# then the same flat query-side probing as _IVF_SQL
_IVF2_SQL = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR) ASC, vec_id ASC)
           AS bucket, vec
  FROM v ORDER BY md5(vec_id::VARCHAR) ASC, vec_id ASC LIMIT 16
),
coarse AS (SELECT bucket AS cell, vec AS cellvec FROM cents
           WHERE bucket <= 4),
f2c0 AS (
  SELECT c.bucket, c.vec, z.cell,
         row_number() OVER (PARTITION BY c.bucket
           ORDER BY round({_cosd('c.vec', 'z.cellvec')}, 6) DESC,
                    z.cell ASC) AS fr
  FROM cents c, coarse z
),
f2c AS (SELECT bucket, vec, cell FROM f2c0 WHERE fr = 1),
vc0 AS (
  SELECT a.vec_id, a.vec, z.cell,
         row_number() OVER (PARTITION BY a.vec_id
           ORDER BY round({_cosd('a.vec', 'z.cellvec')}, 6) DESC,
                    z.cell ASC) AS cr
  FROM v a, coarse z
),
vc AS (SELECT vec_id, vec, cell FROM vc0 WHERE cr <= 2),
assign0 AS (
  SELECT vc.vec_id, f.bucket,
         row_number() OVER (PARTITION BY vc.vec_id
           ORDER BY round({_cosd('vc.vec', 'f.vec')}, 6) DESC,
                    f.bucket ASC) AS r
  FROM vc JOIN f2c f USING (cell)
),
buckets AS (SELECT vec_id, bucket FROM assign0 WHERE r = 1),
q AS (SELECT vec_id, vec FROM v WHERE vec_id < 10),
qprobe AS (
  SELECT a.vec_id AS query_id, a.vec AS qvec, b.bucket,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY round({_COS}, 6) DESC, b.bucket ASC) AS r
  FROM q a, cents b
),
qb AS (SELECT query_id, qvec, bucket FROM qprobe WHERE r <= 4),
scored AS (
  SELECT qb.query_id, a.vec_id AS neighbor_id,
         round({_cosd('qb.qvec', 'a.vec')}, 4) AS sim
  FROM v a
  JOIN buckets bk ON bk.vec_id = a.vec_id
  JOIN qb ON qb.bucket = bk.bucket AND a.vec_id != qb.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 5
"""

# shared CTE body for the bucketed (IVF multi-probe) near-dup candidate
# generation + exact-cosine verification — mirrors
# functions.similarity.embedding_near_dups with 16 hash-sampled centroids
# and 8 probes; used by ann_near_dups AND ann_dedup_clusters
_ANN_ND_CTE = f"""
v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR) ASC,
                            vec_id ASC) AS bucket, vec
  FROM v ORDER BY md5(vec_id::VARCHAR) ASC, vec_id ASC LIMIT 16
),
ranked AS (
  SELECT a.vec_id, b.bucket,
         row_number() OVER (PARTITION BY a.vec_id
           ORDER BY round({_COS}, 6) DESC, b.bucket ASC) AS r
  FROM v a, cents b
),
probe AS (SELECT vec_id AS pid, bucket FROM ranked WHERE r <= 8),
top1 AS (SELECT vec_id AS qid, bucket FROM ranked WHERE r = 1),
cand AS (
  SELECT DISTINCT least(pid, qid) AS id_a,
                  greatest(pid, qid) AS id_b
  FROM probe JOIN top1 USING (bucket) WHERE pid != qid
),
verified AS (
  SELECT id_a, id_b,
         round(list_inner_product(a.vec, b.vec) /
               (sqrt(list_inner_product(a.vec, a.vec)) *
                sqrt(list_inner_product(b.vec, b.vec))), 4) AS sim
  FROM cand
  JOIN v a ON a.vec_id = id_a
  JOIN v b ON b.vec_id = id_b
)"""

_STOP = {
    "en": "['the','a','of','and','to','in','is','that','it','for']",
    "de": "['der','die','das','und','ist','nicht','ein','mit','zu']",
    "fr": "['le','la','les','et','est','une','que','pour','dans']",
    "es": "['el','la','los','y','es','una','que','para','con']",
}


def _stop_count(lang: str) -> str:
    return (f"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),"
            f" t -> list_contains({_STOP[lang]}, t)))")


_TEXT_STATS_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
    CASE WHEN trim(text) = '' THEN 0 ELSE
      list_reduce(list_prepend(0, list_transform(
        string_split_regex(trim(text), '\\s+'),
        w -> cast(ceil(length(w) / 4.0) AS int))), (a, b) -> a + b)
    END AS n_subwords,
    length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
    {_stop_count("en")} AS n_stop_en,
    {_stop_count("de")} AS c_de, {_stop_count("fr")} AS c_fr,
    {_stop_count("es")} AS c_es,
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id, n_tokens, n_subwords, n_punct, n_stop_en,
  round(0.5 * least(n_tokens / 100.0, 1.0)
      + 0.3 * least(n_stop_en / greatest(n_tokens::DOUBLE, 1.0) * 5.0, 1.0)
      + 0.2 * least(n_punct / 10.0, 1.0), 6) AS quality,
  CASE WHEN greatest(n_stop_en, c_de, c_fr, c_es) = 0 THEN 'und'
       WHEN n_stop_en = greatest(n_stop_en, c_de, c_fr, c_es) THEN 'en'
       WHEN c_de = greatest(n_stop_en, c_de, c_fr, c_es) THEN 'de'
       WHEN c_fr = greatest(n_stop_en, c_de, c_fr, c_es) THEN 'fr'
       ELSE 'es' END AS lang_guess,
  substr(md5(norm), 1, 16) AS fp_md5,
  list_reduce(list_prepend(0::BIGINT, list_transform(
      list_filter(string_split_regex(norm, ''), c -> c != ''),
      c -> ascii(c)::BIGINT)),
    (a, b) -> (a * 131 + b) % 1000000007) AS fp_roll
FROM base
"""

# portable 60-bit hash (first 15 hex chars of md5 as an integer) — the
# DuckDB mirror of recrun_spark.functions.dedup._hash60
def _ddb_hash60(expr: str) -> str:
    return (f"list_reduce(list_prepend(0::BIGINT, list_transform("
            f"list_filter(string_split_regex(substr(md5({expr}), 1, 15), ''),"
            f" c -> c != ''),"
            f" c -> (strpos('0123456789abcdef', c) - 1)::BIGINT)),"
            f" (a, b) -> a * 16 + b)")


def _minhash_sql() -> str:
    from recrun_spark.functions.dedup import MH_PRIME, _mh_params
    params = ", ".join(f"({i}, {a}::BIGINT, {b}::BIGINT)"
                       for i, (a, b) in enumerate(_mh_params()))
    return f"""
        WITH norm AS (
          SELECT doc_id, list_filter({_TOKS}, t -> t != '') AS toks
          FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id,
            unnest(CASE WHEN len(toks) >= 3
              THEN list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
              ELSE [array_to_string(toks, ' ')] END) AS shingle
          FROM norm
        ),
        x AS (SELECT doc_id, ({_ddb_hash60('shingle')}) % {MH_PRIME} AS x
              FROM sh),
        params(i, a, b) AS (VALUES {params})
        SELECT doc_id, i, min((a * x + b) % {MH_PRIME}) AS h
        FROM x CROSS JOIN params GROUP BY doc_id, i
    """


def _simhash_sql() -> str:
    from recrun_spark.functions.dedup import SIMHASH_BITS
    bit_sums = ", ".join(
        f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(SIMHASH_BITS))
    recon = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(SIMHASH_BITS))
    return f"""
        WITH t AS (
          SELECT doc_id, unnest(list_filter({_TOKS}, t -> t != '')) AS tok
          FROM documents
        ),
        h AS (SELECT doc_id, {_ddb_hash60('tok')} AS h FROM t),
        bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
        SELECT doc_id, ({recon})::BIGINT AS simhash FROM bits
    """


# Emitted sessions of the stateful streaming sessionizer = every NON-last
# session per user (closed by its successor event) PLUS each user's last
# session if its EVENT-TIME TIMEOUT fired.  Semantics pinned empirically
# (tools/probe_timeout_semantics.py + the boundary test in
# tests/test_streaming.py): a key's timeout fires in a micro-batch where it
# has state but no data, when
#   floor((last_us + gap_us)/1000) < floor(max_event_ts_us/1000) - delay_ms
# (STRICT <, against the eviction watermark), AND an availableNow drain runs
# one EXTRA empty micro-batch after the data so pending timeouts are
# evaluated at the FINAL watermark (observed: n_files+1 offsets; asserted in
# tests).  The emission set is therefore file-layout independent:
#   trailing session emitted  iff  (last_us+gap_us)//1000 < wm_final_ms.
# Single source of truth for the driver oracle AND the streaming tests.
def closed_sessions_sql(events_rel: str = "events",
                        gap_s: int = 1800, delay_ms: int = 10_000) -> str:
    gap_us = gap_s * 1_000_000
    return f"""
        WITH stats AS (
          SELECT (epoch_us(max(ts)) // 1000) - {delay_ms} AS wm_ms
          FROM {events_rel}
        ),
        g AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                           > {gap_us}
                      THEN 1 ELSE 0 END AS new_sess
          FROM {events_rel}
          WINDOW w AS (PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC)
        ),
        s AS (
          SELECT user_id, ts,
                 sum(new_sess) OVER (PARTITION BY user_id
                   ORDER BY ts ASC, event_id ASC
                   ROWS UNBOUNDED PRECEDING) AS sess_no
          FROM g
        ),
        agg AS (
          SELECT user_id, sess_no, count(*) AS n_events,
                 epoch_us(min(ts)) AS start_us,
                 epoch_us(max(ts)) AS end_us
          FROM s GROUP BY 1, 2
        ),
        emit AS (
          -- a session is emitted once the watermark strictly passes its
          -- gap deadline (ms-floored) — the buffer-until-watermark
          -- operator's emission rule, independent of successors and of
          -- arrival order (sessions.py module docstring)
          SELECT user_id, n_events, start_us, end_us FROM agg a
          WHERE (end_us + {gap_us}) // 1000 < (SELECT wm_ms FROM stats)
        )
        SELECT user_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY start_us ASC)::INT AS session_id,
               n_events, start_us, end_us
        FROM emit
    """


_MENTIONS_CTE = """
dict(alias, entity) AS (VALUES ('spark','E_SPARK'), ('hash','E_HASH'),
  ('join','E_JOIN'), ('window','E_WINDOW'), ('stream','E_STREAM')),
hits AS (
  SELECT d.doc_id, m.entity,
         len(regexp_extract_all(lower(d.text), '\\b' || m.alias || '\\b'))
           AS n_mentions
  FROM documents d, dict m
),
ments AS (SELECT * FROM hits WHERE n_mentions > 0)
"""


def oracle_sql() -> dict[str, str]:
    from recrun_spark.functions.sampling import (_thresholds,
                                                 stratum_threshold)
    from recrun_spark.functions.text import PII_PATTERNS
    _split_edges = _thresholds({"train": 0.8, "val": 0.1, "test": 0.1})
    _strat = {s: stratum_threshold(f)
              for s, f in (("de", 1.0), ("en", 0.5), ("*", 0.2))}
    # chained regexp_replace in PII_PATTERNS order, global flag (DuckDB
    # replaces first-only by default; Spark replaces all)
    _pii_scrub_sql = "t"
    for _, _pat, _repl in PII_PATTERNS:
        _pii_scrub_sql = (f"regexp_replace({_pii_scrub_sql}, "
                          f"'{_pat}', '{_repl}', 'g')")
    _pii = {k: p for k, p, _ in PII_PATTERNS}
    return {
        "q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
                   round(avg(l_quantity), 6) AS avg_qty,
                   count(*) AS n_rows
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY 1, 2
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, o_orderdate,
                   sum(round(l_extendedprice * (1 - l_discount) * 100))
                     ::BIGINT AS revenue_cents
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15'
              AND l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY 1, 2
            ORDER BY revenue_cents DESC, o_orderdate ASC, l_orderkey ASC
            LIMIT 10
        """,
        "q5_local_supplier_volume": """
            SELECT n_name,
                   sum(round(l_extendedprice * (1 - l_discount) * 100))
                     ::BIGINT AS revenue_cents,
                   count(*) AS n_items
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY 1
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   sum(round(l_extendedprice * (1 - l_discount) * 100))
                     ::BIGINT AS revenue_cents
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue_cents DESC, c_custkey ASC
            LIMIT 20
        """,
        "q18_large_volume_customer": """
            WITH big AS (SELECT l_orderkey FROM lineitem
                         GROUP BY 1 HAVING sum(l_quantity) > 300)
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   o_totalprice,
                   sum(l_quantity)::BIGINT AS total_qty
            FROM lineitem
            JOIN big USING (l_orderkey)
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2, 3, 4, 5
            ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
            LIMIT 20
        """,
        "revenue_by_region": """
            SELECT r_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1
        """,
        "top_customer_per_nation": """
            SELECT c_nationkey::INT AS nationkey, custkey, acctbal FROM (
              SELECT c_nationkey, c_custkey AS custkey,
                     round(c_acctbal, 2) AS acctbal,
                     row_number() OVER (PARTITION BY c_nationkey
                       ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
              FROM customer) WHERE rn = 1
        """,
        "link_score_agg": """
            SELECT user_id, total_score, n_events FROM (
              SELECT user_id,
                     sum(CASE event_type WHEN 'click' THEN 50
                         WHEN 'view' THEN 25 WHEN 'purchase' THEN 100
                         WHEN 'signup' THEN 10 ELSE -15 END)::BIGINT
                       AS total_score,
                     count(*) AS n_events
              FROM events GROUP BY 1)
            WHERE total_score > 49
        """,
        "sibling_theta_join": """
            SELECT a.c_nationkey::INT AS nationkey, count(*) AS n_pairs
            FROM customer a JOIN customer b
              ON a.c_nationkey = b.c_nationkey
             AND a.c_custkey < b.c_custkey
             AND b.c_acctbal >= 0.2 * a.c_acctbal
            WHERE a.c_acctbal > 0
            GROUP BY 1
        """,
        "customers_without_orders": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            GROUP BY 1
        """,
        "title_clean": r"""
            SELECT p_partkey AS partkey,
                   p_brand || ' - ' || p_type AS title,
                   CASE WHEN len(string_split(
                          regexp_replace(p_brand || ' - ' || p_type,
                                         '(.*) - .*', '\1'), ' ')) >= 3
                        THEN regexp_replace(p_brand || ' - ' || p_type,
                                            '(.*) - .*', '\1')
                        ELSE regexp_replace(p_brand || ' - ' || p_type,
                                            '^.*? - ', '')
                   END AS title_clean
            FROM part
        """,
        "word_counts": """
            WITH w AS (SELECT unnest(string_split_regex(trim(text), '\\s+'))
                         AS word FROM documents),
            c AS (SELECT word, count(*) AS n FROM w
                  WHERE word != '' GROUP BY word)
            SELECT word, n, rank FROM (
              SELECT word, n, row_number() OVER
                       (ORDER BY n DESC, word ASC) AS rank FROM c
            ) WHERE rank <= 20
        """,
        "cc_components": """
            WITH RECURSIVE
            edges AS (SELECT DISTINCT o_custkey AS src, o_custkey % 97 AS dst
                      FROM orders WHERE o_custkey < 300),
            sym AS (SELECT src AS u, dst AS v FROM edges
                    UNION SELECT dst, src FROM edges),
            nodes AS (SELECT DISTINCT u AS n FROM sym),
            reach(n, m) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT s.v, r.m FROM reach r JOIN sym s ON s.u = r.n
            )
            SELECT n AS node, min(m) AS component FROM reach GROUP BY n
        """,
        "kg_mentions_flat": f"""
            WITH {_MENTIONS_CTE}
            SELECT entity, count(*) AS n_docs,
                   sum(n_mentions)::BIGINT AS n_mentions
            FROM ments GROUP BY 1
        """,
        "kg_comentions_flat": f"""
            WITH {_MENTIONS_CTE},
            e AS (SELECT DISTINCT doc_id, entity FROM ments)
            SELECT a.entity AS entity_a, b.entity AS entity_b,
                   count(*) AS n_docs
            FROM e a JOIN e b ON a.doc_id = b.doc_id
                             AND a.entity < b.entity
            GROUP BY 1, 2
        """,
        "kg_entity_pagerank": _pagerank_sql(),
        "kg_entity_pagerank_weighted": _wpagerank_sql(),
        "kg_entity_ppr": _ppr_sql(),
        "orders_dim_asof": """
            WITH latest AS (
              SELECT o_custkey AS custkey,
                     o_orderpriority AS priority,
                     o_orderdate AS as_of,
                     row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders),
            upd AS (SELECT custkey, priority, as_of
                    FROM latest WHERE rn = 1),
            base AS (
              SELECT c_custkey AS custkey, 'NONE' AS priority,
                     TIMESTAMP '1990-01-01' AS valid_from,
                     CAST(NULL AS TIMESTAMP) AS valid_to
              FROM customer),
            dim AS (
              SELECT b.custkey, b.priority, b.valid_from,
                     u.as_of AS valid_to
              FROM base b JOIN upd u USING (custkey)
              WHERE u.priority IS DISTINCT FROM b.priority
              UNION ALL
              SELECT b.custkey, u.priority, u.as_of,
                     CAST(NULL AS TIMESTAMP)
              FROM base b JOIN upd u USING (custkey)
              WHERE u.priority IS DISTINCT FROM b.priority
              UNION ALL
              SELECT b.custkey, b.priority, b.valid_from, b.valid_to
              FROM base b LEFT JOIN upd u USING (custkey)
              WHERE u.custkey IS NULL
                 OR u.priority IS NOT DISTINCT FROM b.priority)
            SELECT o.o_orderkey, o.o_custkey AS custkey,
                   d.priority AS priority_at_order, d.valid_from
            FROM orders o JOIN dim d ON d.custkey = o.o_custkey
            WHERE d.valid_from <= o.o_orderdate
              AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
        """,
        "kg_label_prop": _label_prop_sql(),
        "orders_sssp": _sssp_sql(),
        "join_size_estimate": f"""
            WITH ea AS (
              SELECT i,
                     ({_ddb_hash60("i::VARCHAR || chr(31) || "
                                   "user_id::VARCHAR")}) % 256 AS bucket,
                     count(*)::BIGINT AS cnt
              FROM events CROSS JOIN (SELECT unnest(range(4)) AS i)
              WHERE user_id IS NOT NULL GROUP BY 1, 2),
            ob AS (
              SELECT i,
                     ({_ddb_hash60("i::VARCHAR || chr(31) || "
                                   "o_custkey::VARCHAR")}) % 256 AS bucket,
                     count(*)::BIGINT AS cnt
              FROM orders CROSS JOIN (SELECT unnest(range(4)) AS i)
              WHERE o_custkey IS NOT NULL GROUP BY 1, 2),
            ip AS (SELECT a.i, sum(a.cnt * b.cnt) AS ipr
                   FROM ea a JOIN ob b USING (i, bucket) GROUP BY 1),
            est AS (SELECT CAST(min(coalesce(ip.ipr, 0)) AS BIGINT)
                      AS estimate
                    FROM (SELECT unnest(range(4)) AS i) g
                    LEFT JOIN ip ON ip.i = g.i),
            ex AS (SELECT count(*)::BIGINT AS exact_rows
                   FROM events e JOIN orders o ON e.user_id = o.o_custkey
                   WHERE e.user_id IS NOT NULL)
            SELECT est.estimate, ex.exact_rows FROM est, ex
        """,
        "bloom_join_reduce": f"""
            WITH keys AS (
              SELECT DISTINCT c_custkey FROM customer WHERE c_nationkey = 2),
            bits AS (
              SELECT DISTINCT
                     ({_ddb_hash60("i::VARCHAR || chr(31) || "
                                   "c_custkey::VARCHAR")}) % 16384 AS pos
              FROM keys CROSS JOIN (SELECT unnest(range(6)) AS i)),
            probe AS (
              SELECT e.event_id, any_value(e.user_id) AS user_id
              FROM events e CROSS JOIN (SELECT unnest(range(6)) AS i) g
              WHERE e.user_id IS NOT NULL
                AND ({_ddb_hash60("g.i::VARCHAR || chr(31) || "
                                  "e.user_id::VARCHAR")}) % 16384
                    IN (SELECT pos FROM bits)
              GROUP BY e.event_id HAVING count(*) = 6)
            SELECT count(*)::BIGINT AS prefiltered_rows,
                   count(k.c_custkey)::BIGINT AS joined_rows,
                   count(DISTINCT CASE WHEN k.c_custkey IS NOT NULL
                                       THEN p.user_id END)::BIGINT
                     AS matched_users
            FROM probe p LEFT JOIN keys k ON p.user_id = k.c_custkey
        """,
        "documents_interleave_mix": f"""
            WITH w(lang, a) AS (VALUES ('de', 1), ('en', 3), ('es', 1),
                                       ('fr', 1), ('zh', 1)),
            d AS (SELECT doc_id::VARCHAR AS doc_id, lang, a
                  FROM documents JOIN w USING (lang)
                  WHERE doc_id IS NOT NULL AND lang IS NOT NULL),
            rk AS (SELECT doc_id, lang, a,
                          row_number() OVER (
                            PARTITION BY lang
                            ORDER BY ({_ddb_hash60("doc_id")}), doc_id)
                          - 1 AS r
                   FROM d),
            sl AS (SELECT doc_id, lang, r,
                          ((2 * r + 1) * 7) // (2 * a) AS slot FROM rk)
            SELECT doc_id, lang, r::BIGINT AS r, slot::BIGINT AS slot,
                   (row_number() OVER (ORDER BY slot, lang, r)
                    - 1)::BIGINT AS mix_pos
            FROM sl
        """,
        "events_heavy_hitters": """
            SELECT user_id, count(*)::BIGINT AS cnt
            FROM events WHERE user_id IS NOT NULL
            GROUP BY user_id HAVING count(*) >= 80
        """,
        "documents_pps_sample": f"""
            WITH d AS (
              SELECT doc_id, lang, n_chars::BIGINT AS n_chars
              FROM documents
              WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
                AND n_chars > 0),
            t AS (SELECT sum(n_chars)::BIGINT AS tw FROM d)
            SELECT doc_id, lang, n_chars FROM d, t
            WHERE ({_ddb_hash60("doc_id::VARCHAR")})::HUGEINT * tw::HUGEINT
                  < n_chars::HUGEINT * 300::HUGEINT
                    * 1152921504606846976::HUGEINT
        """,
        "events_kmv_overlap": f"""
            WITH sa AS (
              SELECT DISTINCT ({_ddb_hash60("user_id::VARCHAR")}) AS hv
              FROM events WHERE event_type = 'purchase' AND value >= 150
                AND user_id IS NOT NULL
              ORDER BY hv LIMIT 64),
            sb AS (
              SELECT DISTINCT ({_ddb_hash60("user_id::VARCHAR")}) AS hv
              FROM events WHERE event_type = 'click' AND value >= 150
                AND user_id IS NOT NULL
              ORDER BY hv LIMIT 64),
            base AS (
              SELECT (SELECT count(*) FROM sa) AS ca,
                     (SELECT count(*) FROM sb) AS cb,
                     CASE WHEN (SELECT count(*) FROM sa) < 64
                          THEN 1152921504606846976
                          ELSE (SELECT max(hv) FROM sa) END AS tha,
                     CASE WHEN (SELECT count(*) FROM sb) < 64
                          THEN 1152921504606846976
                          ELSE (SELECT max(hv) FROM sb) END AS thb),
            base2 AS (SELECT *, least(tha, thb) AS theta FROM base),
            nc AS (SELECT count(*) AS nc FROM sa JOIN sb USING (hv), base2
                   WHERE sa.hv < base2.theta),
            seg_a AS (SELECT DISTINCT user_id FROM events
                      WHERE event_type = 'purchase' AND value >= 150
                        AND user_id IS NOT NULL),
            seg_b AS (SELECT DISTINCT user_id FROM events
                      WHERE event_type = 'click' AND value >= 150
                        AND user_id IS NOT NULL)
            SELECT CASE WHEN ca < 64 THEN ca
                        ELSE ((63::HUGEINT * 1152921504606846976::HUGEINT)
                              // tha::HUGEINT)::BIGINT END AS est_a,
                   CASE WHEN cb < 64 THEN cb
                        ELSE ((63::HUGEINT * 1152921504606846976::HUGEINT)
                              // thb::HUGEINT)::BIGINT END AS est_b,
                   ((nc.nc::HUGEINT * 1152921504606846976::HUGEINT)
                    // theta::HUGEINT)::BIGINT AS est_common,
                   (SELECT count(*) FROM seg_a)::BIGINT AS exact_a,
                   (SELECT count(*) FROM seg_b)::BIGINT AS exact_b,
                   (SELECT count(*) FROM seg_a JOIN seg_b USING (user_id)
                    )::BIGINT AS exact_common
            FROM base2, nc
        """,
        "embeddings_quantize_int8": """
            WITH e AS (
              SELECT vec_id, embedding,
                     CAST(list_max(list_transform(
                       embedding, x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE)
                       AS scale
              FROM embeddings
              WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)
            SELECT vec_id, scale,
                   CASE WHEN scale = 0.0
                        THEN list_transform(embedding, x -> 0)
                        ELSE list_transform(
                          embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE)
                                          * CAST(127.0 AS DOUBLE)
                                          / scale) AS INT)) END AS q8
            FROM e
        """,
        "documents_fingerprint": f"""
            WITH rowed AS (
              SELECT coalesce(lang, '?') AS lang,
                     concat_ws(chr(31),
                       coalesce(CAST(doc_id AS VARCHAR), chr(0) || 'N'),
                       coalesce(text, chr(0) || 'N'),
                       coalesce(lang, chr(0) || 'N'),
                       coalesce(source, chr(0) || 'N'),
                       coalesce(CAST(n_chars AS VARCHAR), chr(0) || 'N'))
                       AS r
              FROM documents)
            SELECT lang,
                   bit_xor({_ddb_hash60('r')}) AS checksum,
                   count(*)::BIGINT AS n_rows
            FROM rowed GROUP BY 1
        """,
        "documents_shuffle_order": """
            SELECT doc_id,
                   (row_number() OVER (
                      ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1)::BIGINT
                     AS shuffle_pos
            FROM documents WHERE doc_id IS NOT NULL
        """,
        "customer_hierarchy": """
            WITH RECURSIVE edges AS (
              SELECT c_custkey AS child, c_custkey // 10 AS parent
              FROM customer
              WHERE c_custkey IS NOT NULL AND c_custkey >= 1),
            anc AS (
              SELECT child AS node, parent AS anc,
                     CAST(1 AS BIGINT) AS dist
              FROM edges
              UNION ALL
              SELECT a.node, e.parent, a.dist + 1
              FROM anc a JOIN edges e ON e.child = a.anc)
            SELECT node, anc, dist FROM anc
        """,
        "documents_fuzzy_aliases": """
            WITH toks AS (
              SELECT DISTINCT
                     unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS token
              FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
            t2 AS (SELECT token FROM toks
                   WHERE len(token) BETWEEN 2 AND 20),
            dict(alias) AS (VALUES ('spark'), ('hash'), ('join'),
                                   ('window'), ('stream'))
            SELECT token, alias, levenshtein(token, alias)::INT AS dist
            FROM t2, dict
            WHERE levenshtein(token, alias) <= 1
        """,
        "events_resample_1h": """
            WITH ev AS (
              SELECT user_id, epoch_us(ts) AS t, event_id, value
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND value IS NOT NULL),
            pb AS (
              SELECT user_id, t - (t % 3600000000) AS b0, value,
                     row_number() OVER (
                       PARTITION BY user_id, t - (t % 3600000000)
                       ORDER BY t DESC, event_id DESC) AS rn
              FROM ev),
            obs AS (SELECT user_id, b0, value AS _obs FROM pb WHERE rn = 1),
            span AS (SELECT user_id, min(b0) AS lo, max(b0) AS hi
                     FROM obs GROUP BY 1),
            grid AS (SELECT user_id,
                            unnest(generate_series(lo, hi, 3600000000))
                              AS bucket_start_us
                     FROM span),
            j AS (SELECT g.user_id, g.bucket_start_us, o._obs
                  FROM grid g LEFT JOIN obs o
                    ON o.user_id = g.user_id
                   AND o.b0 = g.bucket_start_us)
            SELECT user_id, bucket_start_us,
                   last_value(_obs IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY bucket_start_us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS value,
                   _obs IS NULL AS filled
            FROM j
        """,
        "documents_bm25_topk": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS term
              FROM documents
              WHERE doc_id IS NOT NULL AND trim(text) <> ''),
            dl AS (SELECT doc_id, count(*)::BIGINT AS dl
                   FROM toks GROUP BY 1),
            tot AS (SELECT sum(dl)::BIGINT AS a_total,
                           count(*)::BIGINT AS n_docs FROM dl),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                   FROM toks WHERE term IN ('spark', 'stream', 'vector')
                   GROUP BY 1, 2),
            df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
            scored AS (
              SELECT tf.doc_id,
                     sum(((1000000 * (2 * (t.n_docs - df.df) + 1))
                            // (2 * df.df + 1))
                         * ((1000000 * 44 * tf.tf * t.a_total)
                            // (20 * tf.tf * t.a_total + 6 * t.a_total
                                + 18 * dl.dl * t.n_docs)))::BIGINT AS score,
                     count(*)::BIGINT AS n_hit
              FROM tf JOIN df ON df.term = tf.term
                      JOIN dl ON dl.doc_id = tf.doc_id, tot t
              GROUP BY 1)
            SELECT doc_id, score, n_hit, rank FROM (
              SELECT doc_id, score, n_hit,
                     row_number() OVER (ORDER BY score DESC, doc_id ASC)
                       AS rank
              FROM scored) WHERE rank <= 10
        """,
        "orders_skyline": """
            WITH r AS (
              SELECT o_orderkey,
                     (epoch_us(o_orderdate) // 86400000000)::BIGINT AS day,
                     o_totalprice
              FROM orders
              WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
            g AS (SELECT day, min(o_totalprice) AS gy FROM r GROUP BY 1),
            p AS (SELECT day, gy,
                         min(gy) OVER (ORDER BY day
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS prior
                  FROM g)
            SELECT r.o_orderkey, r.day, r.o_totalprice
            FROM r JOIN p USING (day)
            WHERE r.o_totalprice = p.gy
              AND (p.prior IS NULL OR p.prior > r.o_totalprice)
        """,
        "kg_bfs_neighborhood": _bfs_sql(),
        "kg_triangles": """
            WITH base AS (SELECT c_custkey AS u FROM customer
                          WHERE c_custkey <= 500),
            raw(src, dst) AS (
              SELECT u, u + d FROM base,
                   (VALUES (1), (2), (3)) AS t(d)
              WHERE u + d <= 500),
            sym AS (SELECT src AS u, dst AS v FROM raw WHERE src <> dst
                    UNION SELECT dst, src FROM raw WHERE src <> dst),
            deg AS (SELECT u, count(*) AS d FROM sym GROUP BY 1),
            o AS (SELECT s.u, s.v, dv.d AS dv
                  FROM sym s
                  JOIN deg du ON du.u = s.u
                  JOIN deg dv ON dv.u = s.v
                  WHERE du.d < dv.d OR (du.d = dv.d AND s.u < s.v)),
            wedges AS (SELECT o1.u, o1.v AS a, o2.v AS b
                       FROM o o1 JOIN o o2 ON o1.u = o2.u
                       WHERE o1.dv < o2.dv
                          OR (o1.dv = o2.dv AND o1.v < o2.v)),
            tri AS (SELECT w.u, w.a, w.b
                    FROM wedges w JOIN o ON o.u = w.a AND o.v = w.b),
            pts AS (SELECT u AS node FROM tri
                    UNION ALL SELECT a FROM tri
                    UNION ALL SELECT b FROM tri),
            counts AS (SELECT node, count(*) AS n FROM pts GROUP BY 1)
            SELECT n.node, coalesce(c.n, 0)::BIGINT AS n_triangles
            FROM (SELECT DISTINCT u AS node FROM sym) n
            LEFT JOIN counts c ON c.node = n.node
        """,
        "kg_clustering_coeff": """
            WITH base AS (SELECT c_custkey AS u FROM customer
                          WHERE c_custkey <= 500),
            raw(src, dst) AS (
              SELECT u, u + d FROM base,
                   (VALUES (1), (2), (3)) AS t(d)
              WHERE u + d <= 500),
            sym AS (SELECT src AS u, dst AS v FROM raw WHERE src <> dst
                    UNION SELECT dst, src FROM raw WHERE src <> dst),
            deg AS (SELECT u, count(*) AS d FROM sym GROUP BY 1),
            o AS (SELECT s.u, s.v, dv.d AS dv
                  FROM sym s
                  JOIN deg du ON du.u = s.u
                  JOIN deg dv ON dv.u = s.v
                  WHERE du.d < dv.d OR (du.d = dv.d AND s.u < s.v)),
            wedges AS (SELECT o1.u, o1.v AS a, o2.v AS b
                       FROM o o1 JOIN o o2 ON o1.u = o2.u
                       WHERE o1.dv < o2.dv
                          OR (o1.dv = o2.dv AND o1.v < o2.v)),
            tri AS (SELECT w.u, w.a, w.b
                    FROM wedges w JOIN o ON o.u = w.a AND o.v = w.b),
            pts AS (SELECT u AS node FROM tri
                    UNION ALL SELECT a FROM tri
                    UNION ALL SELECT b FROM tri),
            counts AS (SELECT node, count(*) AS n FROM pts GROUP BY 1)
            SELECT n.node, coalesce(c.n, 0)::BIGINT AS n_triangles,
                   d.d::BIGINT AS degree,
                   CAST(CASE WHEN d.d >= 2
                        THEN (10000 * 2 * coalesce(c.n, 0))
                             // (d.d * (d.d - 1))
                        ELSE 0 END AS BIGINT) AS cc_bp
            FROM (SELECT DISTINCT u AS node FROM sym) n
            JOIN deg d ON d.u = n.node
            LEFT JOIN counts c ON c.node = n.node
        """,
        "documents_keywords_textrank": _textrank_sql(),
        "kg_entity_jaccard": f"""
            WITH {_MENTIONS_CTE},
            m AS (SELECT DISTINCT doc_id, entity FROM ments
                  WHERE doc_id < 150),
            raw(src, dst) AS (SELECT 'd' || CAST(doc_id AS VARCHAR),
                                     entity FROM m),
            adj AS (SELECT src AS u, dst AS v FROM raw WHERE src <> dst
                    UNION SELECT dst, src FROM raw WHERE src <> dst),
            deg AS (SELECT u, count(*) AS d FROM adj GROUP BY 1),
            inter AS (
              SELECT m1.u AS node_a, m2.u AS node_b,
                     count(*) AS n_common
              FROM adj m1 JOIN adj m2 ON m1.v = m2.v
              WHERE m1.u < m2.u
              GROUP BY 1, 2
              HAVING count(*) >= 2)
            SELECT i.node_a, i.node_b,
                   i.n_common::BIGINT AS n_common,
                   (da.d + db.d - i.n_common)::BIGINT AS n_union,
                   ((1000000 * i.n_common)
                    // (da.d + db.d - i.n_common))::BIGINT
                     AS jaccard_scaled
            FROM inter i
            JOIN deg da ON da.u = i.node_a
            JOIN deg db ON db.u = i.node_b
        """,
        "kg_kcore": _kcore_sql(),
        "kg_truss": _ktruss_sql(),
        "kg_entity_matching": _matching_sql(),
        "kg_neighborhood_hll": _hyperball_sql(),
        # the MST oracle is the CLOSED FORM of the unique minimum forest
        # of the constructed graph (cut property: per-block star on the
        # block min + every unique bridge), not an algorithm replay —
        # the operator's general path is Kruskal-differential-tested
        "customer_mst": """
            WITH n AS (SELECT c_custkey AS v FROM customer
                       WHERE c_custkey BETWEEN 1 AND 200),
            stars AS (SELECT ((v - 1) // 10) * 10 + 1 AS src, v AS dst,
                             v * 1000 + ((v - 1) // 10) * 10 + 1 AS weight
                      FROM n WHERE v % 10 <> 1),
            bridges AS (SELECT v AS src, v + 1 AS dst,
                               10000000 - (v // 10 - 1) * 1000 AS weight
                        FROM n WHERE v % 10 = 0 AND v < 200)
            SELECT src, dst, weight::BIGINT AS weight FROM stars
            UNION ALL
            SELECT src, dst, weight::BIGINT AS weight FROM bridges
        """,
        "dedup_jaccard_prefix": f"""
            WITH norm AS (
              SELECT doc_id, list_filter({_TOKS}, t -> t != '') AS toks
              FROM documents
            ),
            sh AS (
              SELECT DISTINCT doc_id,
                unnest(CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' '
                              || toks[i+2])
                  ELSE [array_to_string(toks, ' ')] END) AS shingle
              FROM norm
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh
                      GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS n_inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle
                                 AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6)
                     AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.30
        """,
        "kg_entity_pmi": f"""
            WITH {_MENTIONS_CTE},
            m AS (SELECT DISTINCT doc_id, entity FROM ments),
            nd AS (SELECT count(DISTINCT doc_id) AS n_corpus FROM m),
            per AS (SELECT entity, count(DISTINCT doc_id) AS n_ent
                    FROM m GROUP BY 1),
            co AS (SELECT a.entity AS entity_a, b.entity AS entity_b,
                          count(*) AS n_ab
                   FROM m a JOIN m b ON a.doc_id = b.doc_id
                                    AND a.entity < b.entity
                   GROUP BY 1, 2)
            SELECT co.entity_a, co.entity_b,
                   co.n_ab::BIGINT AS n_ab,
                   ((1000000 * co.n_ab * nd.n_corpus)
                    // (na.n_ent * nb.n_ent))::BIGINT AS pmi_scaled
            FROM co
            JOIN per na ON na.entity = co.entity_a
            JOIN per nb ON nb.entity = co.entity_b, nd
        """,
        "documents_dup_spans": """
            WITH base AS (
              SELECT doc_id,
                     string_split_regex(trim(text), '\\s+') AS toks
              FROM documents WHERE doc_id IS NOT NULL),
            wins AS (
              SELECT doc_id,
                     md5(array_to_string(
                           list_slice(toks, i + 1, i + 8), ' ')) AS span_h
              FROM base, unnest(range(0, len(toks) - 7)) AS u(i)
              WHERE len(toks) >= 8),
            dup AS (SELECT span_h FROM (
                      SELECT span_h, count(DISTINCT doc_id) AS df
                      FROM wins GROUP BY 1) WHERE df >= 2),
            tot AS (SELECT doc_id, count(*) AS n_w FROM wins GROUP BY 1),
            dupw AS (SELECT doc_id, count(*) AS n_d FROM wins
                     WHERE span_h IN (SELECT span_h FROM dup)
                     GROUP BY 1)
            SELECT b.doc_id,
                   coalesce(t.n_w, 0)::BIGINT AS n_windows,
                   coalesce(d.n_d, 0)::BIGINT AS n_dup_windows
            FROM (SELECT DISTINCT doc_id FROM base) b
            LEFT JOIN tot t USING (doc_id)
            LEFT JOIN dupw d USING (doc_id)
        """,
        "documents_ngram_lm": """
            WITH toks AS (
              SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
              FROM documents
              WHERE doc_id IS NOT NULL AND trim(text) <> ''),
            grams AS (
              SELECT array_to_string(
                       list_slice(t, i + 1, i + 3), ' ') AS ngram
              FROM toks, unnest(range(0, len(t) - 2)) AS u(i)
              WHERE len(t) >= 3)
            SELECT ngram, count(*)::BIGINT AS n_occurrences
            FROM grams GROUP BY 1 HAVING count(*) >= 3
        """,
        # integer basis points ((10000*hits) // grams — both sides floor
        # division on non-negative longs); docs with < 3 tokens get 0/0
        # with NULL coverage
        "documents_lm_coverage": """
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS t
              FROM documents
              WHERE doc_id IS NOT NULL AND trim(text) <> ''),
            grams AS (
              SELECT doc_id, array_to_string(
                       list_slice(t, i + 1, i + 3), ' ') AS ngram
              FROM toks, unnest(range(0, len(t) - 2)) AS u(i)
              WHERE len(t) >= 3),
            head AS (
              SELECT ngram FROM grams GROUP BY 1 HAVING count(*) >= 3),
            per AS (
              SELECT g.doc_id, count(*)::BIGINT AS n_ngrams,
                     count(h.ngram)::BIGINT AS n_in_head
              FROM grams g LEFT JOIN head h USING (ngram)
              GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(p.n_ngrams, 0)::BIGINT AS n_ngrams,
                   coalesce(p.n_in_head, 0)::BIGINT AS n_in_head,
                   (CASE WHEN p.n_ngrams > 0
                         THEN (10000 * p.n_in_head) // p.n_ngrams
                    END)::BIGINT AS coverage_bp
            FROM (SELECT doc_id FROM documents
                  WHERE doc_id IS NOT NULL) d
            LEFT JOIN per p USING (doc_id)
        """,
        # scd2_merge branch table as UNION ALL: closed + reopened for
        # changed attrs (null-safe DISTINCT FROM), pass-through for
        # identical-or-absent updates; every o_custkey references
        # customer, so the new-key branch is empty here
        "customer_dim_scd2": """
            WITH latest AS (
              SELECT o_custkey AS custkey,
                     o_orderpriority AS priority,
                     o_orderdate AS as_of,
                     row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders),
            upd AS (SELECT custkey, priority, as_of
                    FROM latest WHERE rn = 1),
            base AS (
              SELECT c_custkey AS custkey, 'NONE' AS priority,
                     TIMESTAMP '1990-01-01' AS valid_from,
                     CAST(NULL AS TIMESTAMP) AS valid_to,
                     TRUE AS is_current
              FROM customer)
            SELECT b.custkey, b.priority, b.valid_from,
                   u.as_of AS valid_to, FALSE AS is_current
            FROM base b JOIN upd u USING (custkey)
            WHERE u.priority IS DISTINCT FROM b.priority
            UNION ALL
            SELECT b.custkey, u.priority, u.as_of,
                   CAST(NULL AS TIMESTAMP), TRUE
            FROM base b JOIN upd u USING (custkey)
            WHERE u.priority IS DISTINCT FROM b.priority
            UNION ALL
            SELECT b.custkey, b.priority, b.valid_from,
                   b.valid_to, b.is_current
            FROM base b LEFT JOIN upd u USING (custkey)
            WHERE u.custkey IS NULL
               OR u.priority IS NOT DISTINCT FROM b.priority
        """,
        "documents_tfidf_topk": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS term
              FROM documents
              WHERE doc_id IS NOT NULL AND trim(text) <> ''),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                   FROM toks GROUP BY 1, 2),
            df AS (SELECT term, count(*)::BIGINT AS df
                   FROM tf GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM tf)
            SELECT doc_id, term, tf, df, score, rank FROM (
              SELECT tf.doc_id, tf.term, tf.tf, df.df,
                     (tf.tf * ((1000000 * n.n_docs) // df.df))::BIGINT
                       AS score,
                     row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY (tf.tf * ((1000000 * n.n_docs) // df.df))
                                  DESC,
                                tf.term ASC) AS rank
              FROM tf JOIN df ON df.term = tf.term, n
            ) WHERE rank <= 3
        """,
        "dedup_exact": """
            WITH fp AS (
              SELECT doc_id,
                     substr(md5(trim(regexp_replace(lower(text), '\\s+',
                                                    ' ', 'g'))), 1, 16) AS f
              FROM documents)
            SELECT a.doc_id, b.canonical_doc_id
            FROM fp a JOIN (SELECT f, min(doc_id) AS canonical_doc_id
                            FROM fp GROUP BY f) b ON a.f = b.f
        """,
        "dedup_keep_best": f"""
            WITH ts AS ({_TEXT_STATS_SQL}),
            best AS (
              SELECT fp_md5, doc_id AS canonical_doc_id FROM (
                SELECT fp_md5, doc_id,
                       row_number() OVER (
                         PARTITION BY fp_md5
                         ORDER BY quality DESC, doc_id ASC) AS rn
                FROM ts) WHERE rn = 1)
            SELECT t.doc_id, t.quality, b.canonical_doc_id
            FROM ts t JOIN best b ON b.fp_md5 = t.fp_md5
        """,
        "dedup_jaccard": _JACCARD_SQL,
        "documents_containment": f"""
            WITH {_SHINGLE_CTE},
            ic AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          count(*)::BIGINT AS n_common
                   FROM sh a JOIN sh b
                     ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
                   GROUP BY 1, 2 HAVING count(*) >= 2)
            SELECT doc_a, doc_b, n_common, s.n_sh::BIGINT AS size_a,
                   ((10000 * n_common) // s.n_sh)::BIGINT AS containment_bp
            FROM ic JOIN sizes s ON s.doc_id = doc_a
            WHERE 10000 * n_common >= 5000 * s.n_sh
        """,
        "documents_phonetic_keys": _phonetic_sql(),
        "events_equidepth_bins": """
            WITH r AS (SELECT round(value * 100)::BIGINT AS cents,
                              row_number() OVER (
                                ORDER BY round(value * 100)::BIGINT,
                                         event_id) - 1 AS rank
                       FROM events),
            n AS (SELECT count(*) AS n FROM events)
            SELECT ((rank * 16) // n.n)::INT AS bin,
                   count(*)::BIGINT AS n,
                   min(cents)::BIGINT AS lo_cents,
                   max(cents)::BIGINT AS hi_cents
            FROM r, n GROUP BY 1
        """,
        "events_seasonality": """
            WITH c AS (SELECT event_type,
                              ((epoch_us(ts) // 3600000000) % 24)::INT
                                AS hod,
                              count(*)::BIGINT AS n
                       FROM events GROUP BY 1, 2)
            SELECT event_type, hod, n,
                   ((10000 * n) // sum(n) OVER (PARTITION BY event_type))
                     ::BIGINT AS share_bp,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY n DESC, hod ASC) = 1
                     AS is_peak
            FROM c
        """,
        "kg_walk_counts": f"""
            WITH {_MENTIONS_CTE},
            m AS (SELECT DISTINCT doc_id, entity FROM ments),
            de AS (SELECT 'd' || CAST(doc_id AS VARCHAR) AS src,
                          entity AS dst FROM m),
            edges AS (SELECT src, dst FROM de
                      UNION ALL
                      SELECT dst AS src, src AS dst FROM de)
            SELECT e3.dst AS node, count(*)::BIGINT AS n_walks
            FROM edges e1
            JOIN edges e2 ON e2.src = e1.dst
            JOIN edges e3 ON e3.src = e2.dst
            WHERE e1.src = 'E_SPARK'
            GROUP BY 1
        """,
        "documents_dup_evidence": f"""
            WITH {_SHINGLE_CTE},
            pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.30),
            dfx AS (SELECT shingle, count(*)::BIGINT AS df FROM sh
                    GROUP BY 1),
            shared AS (SELECT p.doc_a, p.doc_b, a.shingle
                       FROM pairs p
                       JOIN sh a ON a.doc_id = p.doc_a
                       JOIN sh b ON b.doc_id = p.doc_b
                              AND b.shingle = a.shingle),
            ranked AS (SELECT s.doc_a, s.doc_b, s.shingle, dfx.df,
                              row_number() OVER (
                                PARTITION BY s.doc_a, s.doc_b
                                ORDER BY dfx.df ASC, s.shingle ASC)
                                AS ev_rank
                       FROM shared s JOIN dfx USING (shingle))
            SELECT doc_a, doc_b, shingle, df, ev_rank::INT AS ev_rank
            FROM ranked WHERE ev_rank <= 3
        """,
        "events_skew_report": """
            WITH c AS (SELECT user_id, count(*) AS n FROM events
                       GROUP BY 1),
            cc AS (SELECT n, count(*) AS k FROM c GROUP BY 1),
            cum AS (SELECT n, sum(k) OVER (ORDER BY n
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
                    FROM cc),
            tot AS (SELECT max(cum) AS n_keys, max(n) AS max_n FROM cum),
            q AS (SELECT min(CASE WHEN 2 * cum >= t.n_keys THEN n END)
                           AS median_n,
                         min(CASE WHEN 100 * cum >= 99 * t.n_keys THEN n
                             END) AS p99_n,
                         max(t.n_keys) AS n_keys, max(t.max_n) AS max_n
                  FROM cum, tot t)
            SELECT n_keys::BIGINT AS n_keys, median_n::BIGINT AS median_n,
                   p99_n::BIGINT AS p99_n, max_n::BIGINT AS max_n,
                   ((10000 * max_n) // median_n)::BIGINT AS skew_ratio_bp,
                   ((max_n + p99_n - 1) // p99_n)::BIGINT AS salt_buckets
            FROM q
        """,
        "orders_brand_rules": """
            WITH ob AS (SELECT DISTINCT l_orderkey AS o, p_brand AS b
                        FROM lineitem JOIN part
                          ON p_partkey = l_partkey),
            nn AS (SELECT count(DISTINCT o) AS n_orders FROM ob),
            counts AS (SELECT b, count(*) AS n FROM ob GROUP BY 1),
            pairs AS (SELECT a.b AS ante, c.b AS cons,
                             count(*)::BIGINT AS n_ab
                      FROM ob a JOIN ob c
                        ON a.o = c.o AND a.b <> c.b
                      GROUP BY 1, 2 HAVING count(*) >= 5)
            SELECT ante, cons, n_ab,
                   ca.n::BIGINT AS n_a, cc.n::BIGINT AS n_c,
                   ((10000 * n_ab) // ca.n)::BIGINT AS conf_bp,
                   ((1000000 * n_ab * nn.n_orders)
                    // (ca.n * cc.n))::BIGINT AS lift_ppm
            FROM pairs
            JOIN counts ca ON ca.b = ante
            JOIN counts cc ON cc.b = cons
            CROSS JOIN nn
        """,
        "kg_partition_plan": f"""
            WITH {_MENTIONS_CTE},
            m AS (SELECT DISTINCT doc_id, entity FROM ments),
            e AS (SELECT 'd' || CAST(doc_id AS VARCHAR) AS src,
                         entity AS dst FROM m),
            p AS (SELECT src, dst,
                         ((({_ddb_hash60('src')}) % 4) * 4
                          + (({_ddb_hash60('dst')}) % 4))::INT AS pid
                  FROM e),
            loads AS (SELECT pid, count(*)::BIGINT AS n_edges FROM p
                      GROUP BY 1),
            verts AS (SELECT pid, count(*)::BIGINT AS n_vertices FROM (
                        SELECT DISTINCT pid, vertex FROM (
                          SELECT pid, src AS vertex FROM p
                          UNION ALL SELECT pid, dst FROM p))
                      GROUP BY 1)
            SELECT loads.pid, n_edges, n_vertices
            FROM loads JOIN verts USING (pid)
        """,
        "events_user_active_time": """
            WITH d AS (SELECT user_id, epoch_us(ts) AS s,
                              epoch_us(ts) + 300000000 AS e FROM events),
            f AS (SELECT user_id, s, e,
                         CASE WHEN s > coalesce(max(e) OVER (
                                PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), -1)
                              THEN 1 ELSE 0 END AS ni
                  FROM d),
            i AS (SELECT user_id, s, e,
                         sum(ni) OVER (PARTITION BY user_id ORDER BY s, e
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS island
                  FROM f),
            pi AS (SELECT user_id, island, max(e) - min(s) AS covered,
                          count(*) AS n
                   FROM i GROUP BY 1, 2)
            SELECT user_id, sum(covered)::BIGINT AS active_us,
                   count(*)::BIGINT AS n_islands,
                   sum(n)::BIGINT AS n_events
            FROM pi GROUP BY 1
        """,
        "events_bursts": """
            WITH c AS (SELECT event_type,
                              epoch_us(ts) // 3600000000 AS hour_id,
                              count(*)::BIGINT AS n
                       FROM events GROUP BY 1, 2),
            t AS (SELECT event_type, hour_id, n,
                         sum(n) OVER (PARTITION BY event_type
                                      ORDER BY hour_id
                                      RANGE BETWEEN 3 PRECEDING
                                            AND 1 PRECEDING) AS trail_n
                  FROM c)
            SELECT event_type, hour_id, n, trail_n::BIGINT AS trail_n,
                   ((30000 * n) // trail_n)::BIGINT AS burst_bp,
                   (30000 * n) // trail_n >= 20000 AS is_burst
            FROM t WHERE trail_n > 0
        """,
        "dedup_minhash_lsh": _JACCARD_SQL,  # LSH must not lose pairs here
        # pairs -> transitive closure -> min doc_id per component; docs
        # with no near-dup map to themselves
        "dedup_clusters": f"""
            WITH RECURSIVE {_SHINGLE_CTE},
            pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.30),
            sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                    UNION SELECT doc_b, doc_a FROM pairs),
            nodes AS (SELECT DISTINCT u AS n FROM sym),
            reach(n, m) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT s.v, r.m FROM reach r JOIN sym s ON s.u = r.n
            ),
            comp AS (SELECT n, min(m) AS canonical FROM reach GROUP BY n)
            SELECT d.doc_id,
                   coalesce(c.canonical, d.doc_id) AS canonical_doc_id
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN comp c ON c.n = d.doc_id
        """,
        "text_stats": _TEXT_STATS_SQL,
        "lang_quality_summary": f"""
            WITH ts AS ({_TEXT_STATS_SQL})
            SELECT lang_guess, count(*) AS n_docs,
                   round(avg(quality), 6) AS avg_quality
            FROM ts GROUP BY 1
        """,
        "ann_cosine_topk": _ANN_SQL,
        "ann_ivf_topk": _IVF_SQL,
        "ann_ivf_topk_2level": _IVF2_SQL,
        "ann_srp_topk": _srp_sql(),
        "embeddings_kmeans": _kmeans_sql(),
        "embeddings_pq_codes": _pq_sql(mode="codes"),
        "ann_pq_topk": _pq_sql(mode="topk"),
        "kg_hits": _hits_sql(),
        "events_user_walks": _walks_sql(),
        "documents_bpe_vocab": _bpe_sql(),
        "documents_bpe_tokens": _bpe_encode_sql(),
        "events_markov": _MARKOV_SQL,
        "customer_blocking_pairs": _BLOCKING_SQL,
        "events_user_scc": """
            WITH RECURSIVE d AS (
              SELECT event_id, ts, user_id, event_type,
                     epoch_us(ts) // 3600000000 AS hr
              FROM events),
            e0 AS (
              SELECT user_id AS s,
                     lead(user_id) OVER (PARTITION BY event_type, hr
                                         ORDER BY ts ASC, event_id ASC)
                       AS t
              FROM d),
            e AS (SELECT DISTINCT s, t FROM e0
                  WHERE t IS NOT NULL AND t != s),
            reach AS (
              SELECT s AS a, t AS b FROM e
              UNION
              SELECT r.a, e.t FROM reach r JOIN e ON e.s = r.b),
            mutual AS (
              SELECT r1.a AS u, r1.b AS v
              FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a),
            nodes AS (SELECT s AS n FROM e UNION SELECT t FROM e)
            SELECT n.n AS user_id,
                   least(n.n, coalesce(min(m.v), n.n)) AS scc_id
            FROM nodes n LEFT JOIN mutual m ON m.u = n.n
            GROUP BY n.n
        """,
        "documents_profile": """
            WITH w AS (
              SELECT
                count(*)::BIGINT AS doc_id__n,
                sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT
                  AS doc_id__nulls,
                count(DISTINCT doc_id)::BIGINT AS doc_id__distinct,
                CAST(min(doc_id) AS VARCHAR) AS doc_id__min,
                CAST(max(doc_id) AS VARCHAR) AS doc_id__max,
                sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT
                  AS text__nulls,
                count(DISTINCT text)::BIGINT AS text__distinct,
                CAST(min(text) AS VARCHAR) AS text__min,
                CAST(max(text) AS VARCHAR) AS text__max,
                sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT
                  AS lang__nulls,
                count(DISTINCT lang)::BIGINT AS lang__distinct,
                CAST(min(lang) AS VARCHAR) AS lang__min,
                CAST(max(lang) AS VARCHAR) AS lang__max,
                sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT
                  AS source__nulls,
                count(DISTINCT source)::BIGINT AS source__distinct,
                CAST(min(source) AS VARCHAR) AS source__min,
                CAST(max(source) AS VARCHAR) AS source__max,
                sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT
                  AS n_chars__nulls,
                count(DISTINCT n_chars)::BIGINT AS n_chars__distinct,
                CAST(min(n_chars) AS VARCHAR) AS n_chars__min,
                CAST(max(n_chars) AS VARCHAR) AS n_chars__max
              FROM documents)
            SELECT 'doc_id' AS col, doc_id__n AS n_rows,
                   doc_id__nulls AS n_nulls, doc_id__distinct AS n_distinct,
                   doc_id__min AS min_s, doc_id__max AS max_s FROM w
            UNION ALL SELECT 'text', doc_id__n, text__nulls,
                   text__distinct, text__min, text__max FROM w
            UNION ALL SELECT 'lang', doc_id__n, lang__nulls,
                   lang__distinct, lang__min, lang__max FROM w
            UNION ALL SELECT 'source', doc_id__n, source__nulls,
                   source__distinct, source__min, source__max FROM w
            UNION ALL SELECT 'n_chars', doc_id__n, n_chars__nulls,
                   n_chars__distinct, n_chars__min, n_chars__max FROM w
        """,
        "documents_snapshot_diff": """
            WITH fp_old AS (
              SELECT doc_id,
                     md5(text || chr(31) || lang || chr(31) || source
                         || chr(31) || CAST(n_chars AS VARCHAR)) AS old_fp
              FROM documents),
            newt AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 97 = 0 THEN text || ' v2'
                          ELSE text END AS text,
                     lang, source, n_chars
              FROM documents WHERE doc_id % 89 != 0
              UNION ALL
              SELECT doc_id + 1000000, text, lang, source, n_chars
              FROM documents WHERE doc_id % 131 = 0),
            fp_new AS (
              SELECT doc_id,
                     md5(text || chr(31) || lang || chr(31) || source
                         || chr(31) || CAST(n_chars AS VARCHAR)) AS new_fp
              FROM newt),
            j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                         o.old_fp, n.new_fp
                  FROM fp_old o FULL OUTER JOIN fp_new n
                    ON o.doc_id = n.doc_id)
            SELECT doc_id,
                   CASE WHEN old_fp IS NULL THEN 'added'
                        WHEN new_fp IS NULL THEN 'removed'
                        ELSE 'changed' END AS change,
                   old_fp, new_fp
            FROM j
            WHERE old_fp IS NULL OR new_fp IS NULL OR old_fp != new_fp
        """,
        "events_spatial_pairs": """
            WITH p AS (
              SELECT event_id AS id,
                     (epoch_us(ts) // 1000) % 10000 AS x,
                     (round(value * 100)::BIGINT) % 10000 AS y
              FROM events)
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST((a.x - b.x) * (a.x - b.x)
                        + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS d2
            FROM p a JOIN p b
              ON a.id < b.id
             AND abs(a.x - b.x) <= 15 AND abs(a.y - b.y) <= 15
             AND (a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y) <= 225
        """,
        "events_trend": """
            WITH d AS (SELECT event_type,
                              epoch_us(ts) // 1000 AS ms,
                              round(value * 100)::BIGINT AS cents
                       FROM events),
            m AS (SELECT event_type, min(ms) AS ms0 FROM d GROUP BY 1),
            a AS (SELECT d.event_type,
                         count(*)::HUGEINT AS n,
                         sum((d.ms - m.ms0)::HUGEINT) AS sx,
                         sum(d.cents::HUGEINT) AS sy,
                         sum((d.ms - m.ms0)::HUGEINT * d.cents) AS sxy,
                         sum((d.ms - m.ms0)::HUGEINT
                             * (d.ms - m.ms0)) AS sxx
                  FROM d JOIN m ON m.event_type = d.event_type
                  GROUP BY 1)
            SELECT event_type,
                   CAST(n AS BIGINT) AS n_events,
                   CAST(n * sxy - sx * sy AS DECIMAL(38,0)) AS slope_num,
                   CAST(n * sxx - sx * sx AS DECIMAL(38,0)) AS slope_den
            FROM a
        """,
        "events_ema": """
            WITH d AS (SELECT event_id, user_id, ts,
                              round(value * 100)::BIGINT AS cents
                       FROM events)
            SELECT event_id, user_id, cents,
                   (  coalesce(lag(cents, 0) OVER w, 0) * 128
                    + coalesce(lag(cents, 1) OVER w, 0) * 64
                    + coalesce(lag(cents, 2) OVER w, 0) * 32
                    + coalesce(lag(cents, 3) OVER w, 0) * 16
                    + coalesce(lag(cents, 4) OVER w, 0) * 8
                    + coalesce(lag(cents, 5) OVER w, 0) * 4
                    + coalesce(lag(cents, 6) OVER w, 0) * 2
                    + coalesce(lag(cents, 7) OVER w, 0) * 1)::BIGINT AS ema
            FROM d
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC)
        """,
        "documents_source_nucleus": """
            WITH c AS (SELECT lang, source, count(*)::BIGINT AS n_docs
                       FROM documents GROUP BY 1, 2),
            t AS (SELECT lang, sum(n_docs)::BIGINT AS total
                  FROM c GROUP BY 1),
            r AS (SELECT lang, source, n_docs,
                         sum(n_docs) OVER (PARTITION BY lang
                             ORDER BY n_docs DESC, source ASC
                             ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
                         row_number() OVER (PARTITION BY lang
                             ORDER BY n_docs DESC, source ASC) AS rank
                  FROM c)
            SELECT r.lang, r.source, r.n_docs, r.cum, t.total, r.rank
            FROM r JOIN t ON t.lang = r.lang
            WHERE (r.cum - r.n_docs) * 5 < t.total * 4
        """,
        "events_decayed_counts": """
            WITH a AS (SELECT max(epoch_us(ts)) AS anchor_us FROM events),
            w AS (SELECT user_id,
                         round(value * 100)::BIGINT AS cents,
                         (1::BIGINT << greatest(0,
                            7 - (a.anchor_us - epoch_us(ts))
                                  // 86400000000)::INT) AS w
                  FROM events, a)
            SELECT user_id,
                   sum(cents * w)::BIGINT AS decayed_cents,
                   sum(w)::BIGINT AS weight_sum,
                   count(*)::BIGINT AS n_events
            FROM w GROUP BY user_id
        """,
        "events_outliers_mad": """
            WITH r AS (SELECT event_id, event_type AS g,
                              round(value * 100)::BIGINT AS cents
                       FROM events),
            c1 AS (SELECT g, cents, count(*)::BIGINT AS c
                   FROM r GROUP BY 1, 2),
            n1 AS (SELECT g, sum(c) AS n FROM c1 GROUP BY 1),
            cum1 AS (SELECT g, cents,
                            sum(c) OVER (PARTITION BY g
                                         ORDER BY cents ASC) AS cum
                     FROM c1),
            med AS (SELECT cum1.g, min(cents) AS med
                    FROM cum1 JOIN n1 ON n1.g = cum1.g
                    WHERE cum * 2 >= n GROUP BY 1),
            dev AS (SELECT r.event_id, r.g, r.cents,
                           abs(r.cents - m.med) AS dev, m.med
                    FROM r JOIN med m ON m.g = r.g),
            c2 AS (SELECT g, dev, count(*)::BIGINT AS c
                   FROM dev GROUP BY 1, 2),
            n2 AS (SELECT g, sum(c) AS n FROM c2 GROUP BY 1),
            cum2 AS (SELECT g, dev,
                            sum(c) OVER (PARTITION BY g
                                         ORDER BY dev ASC) AS cum
                     FROM c2),
            mad AS (SELECT cum2.g, min(dev) AS mad
                    FROM cum2 JOIN n2 ON n2.g = cum2.g
                    WHERE cum * 2 >= n GROUP BY 1)
            SELECT d.event_id, d.g AS event_type, d.cents, d.dev,
                   d.med, a.mad
            FROM dev d JOIN mad a ON a.g = d.g
            WHERE d.dev * 1 > a.mad * 5
        """,
        "kg_adjacency": f"""
            WITH {_MENTIONS_CTE},
            m AS (SELECT DISTINCT doc_id, entity FROM ments),
            e AS (SELECT DISTINCT a.entity AS src, b.entity AS dst
                  FROM m a JOIN m b ON a.doc_id = b.doc_id
                                   AND a.entity != b.entity),
            kept AS (SELECT src, dst,
                            row_number() OVER (PARTITION BY src
                                               ORDER BY dst ASC) AS r
                     FROM e)
            SELECT src AS entity, count(*)::BIGINT AS degree,
                   string_agg(dst, ',' ORDER BY dst) AS neighbors
            FROM kept WHERE r <= 100 GROUP BY src
        """,
        "documents_sim_pairs": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS term
              FROM documents
              WHERE doc_id IS NOT NULL AND trim(text) <> ''),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                   FROM toks GROUP BY 1, 2),
            dfk AS (SELECT term, count(*)::BIGINT AS df
                    FROM tf GROUP BY 1 HAVING count(*) <= 250),
            n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM tf),
            w AS (SELECT tf.doc_id, tf.term,
                         (tf.tf * ((1000 * n.n_docs) // dfk.df))::BIGINT
                           AS w
                  FROM tf JOIN dfk ON dfk.term = tf.term, n),
            norms AS (SELECT doc_id, sum(w * w)::BIGINT AS norm2
                      FROM w GROUP BY 1),
            dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                            sum(a.w * b.w)::BIGINT AS dot
                     FROM w a JOIN w b ON a.term = b.term
                                      AND a.doc_id < b.doc_id
                     GROUP BY 1, 2)
            SELECT id_a, id_b, dot,
                   na.norm2 AS norm_a, nb.norm2 AS norm_b
            FROM dots
            JOIN norms na ON na.doc_id = id_a
            JOIN norms nb ON nb.doc_id = id_b
            WHERE (10 * dot)::HUGEINT * (10 * dot)
                    >= (81::HUGEINT * na.norm2) * nb.norm2
        """,
        "kg_negative_samples": f"""
            WITH {_MENTIONS_CTE},
            pos AS (SELECT DISTINCT entity AS head, doc_id AS pos_item
                    FROM ments),
            mx AS (SELECT max(doc_id) + 1 AS n FROM documents),
            cand AS (
              SELECT p.head, p.pos_item, CAST(t.i AS INTEGER) AS sample_i,
                     ({_ddb_hash60(
                        "p.head || '|' || CAST(p.pos_item AS VARCHAR)"
                        " || '|17|' || CAST(t.i AS VARCHAR)")})
                       % (SELECT n FROM mx) AS neg_item
              FROM pos p, range(0, 4) t(i)),
            valid AS (SELECT c.* FROM cand c
                      JOIN (SELECT DISTINCT doc_id FROM documents) d
                        ON d.doc_id = c.neg_item),
            neg AS (SELECT v.* FROM valid v
                    ANTI JOIN pos p
                      ON p.head = v.head AND p.pos_item = v.neg_item)
            SELECT head AS subj, pos_item AS pos_doc_id,
                   neg_item AS neg_doc_id, sample_i
            FROM neg
        """,
        "ann_near_dups": f"""
            WITH {_ANN_ND_CTE}
            SELECT id_a, id_b, sim FROM verified WHERE sim >= 0.45
        """,
        # near-dup pairs -> transitive closure -> canonical min id per
        # cluster (every vector mapped) — the embedding-side twin of the
        # dedup_clusters oracle
        "ann_dedup_clusters": f"""
            WITH RECURSIVE {_ANN_ND_CTE},
            pairs AS (SELECT id_a, id_b FROM verified WHERE sim >= 0.45),
            sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                    UNION SELECT id_b, id_a FROM pairs),
            nodes AS (SELECT DISTINCT u AS n FROM sym),
            reach(n, m) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT s.v, r.m FROM reach r JOIN sym s ON s.u = r.n
            ),
            comp AS (SELECT n, min(m) AS canonical FROM reach GROUP BY n)
            SELECT d.vec_id,
                   coalesce(c.canonical, d.vec_id) AS canonical_vec_id
            FROM (SELECT DISTINCT vec_id FROM embeddings) d
            LEFT JOIN comp c ON c.n = d.vec_id
        """,
        "events_quantiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.25), 6) AS p25,
                   round(quantile_cont(value, 0.50), 6) AS p50,
                   round(quantile_cont(value, 0.75), 6) AS p75,
                   round(quantile_cont(value, 0.95), 6) AS p95,
                   count(*) AS n_events
            FROM events GROUP BY 1
        """,
        "parts_with_orders": """
            SELECT p_brand, count(*) AS n_parts
            FROM part
            WHERE EXISTS (SELECT 1 FROM lineitem
                          WHERE l_partkey = p_partkey)
            GROUP BY 1
        """,
        "rollup_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   count(*) AS n_rows,
                   grouping(l_returnflag, l_linestatus) AS gid
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "events_props_json": """
            SELECT event_type,
                   sum(json_extract_string(props, '$.k')::INT)::BIGINT
                     AS sum_k,
                   round(avg(json_extract_string(props, '$.k')::INT), 6)
                     AS avg_k,
                   sum(CASE WHEN json_extract_string(props, '$.k')::INT > 50
                            THEN 1 ELSE 0 END)::BIGINT AS n_high,
                   count(*) AS n_events
            FROM events GROUP BY 1
        """,
        "cube_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   count(*) AS n_rows,
                   grouping(l_returnflag, l_linestatus) AS gid
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "nation_order_balance": """
            WITH by_cust AS (
              SELECT c_nationkey AS nk, count(*) AS n_customers
              FROM customer GROUP BY 1
            ),
            by_rev AS (
              SELECT c_nationkey AS nk,
                     round(sum(o_totalprice), 2) AS revenue
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY 1
            )
            SELECT coalesce(a.nk, b.nk)::INT AS nationkey,
                   coalesce(n_customers, 0) AS n_customers,
                   coalesce(revenue, 0.0) AS revenue
            FROM by_cust a FULL OUTER JOIN by_rev b ON a.nk = b.nk
        """,
        # brute-force all-pairs Hamming over the same signature definition —
        # independent of the banding trick the Spark operator uses
        "simhash_near_dups": f"""
            WITH s AS ({_simhash_sql()})
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   bit_count(xor(a.simhash, b.simhash))::INT AS hamming
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        # DuckDB's NATIVE ASOF JOIN — an independent implementation of the
        # backward-inclusive as-of semantics the Spark operator builds from
        # a union + keyed window
        "events_asof_orders": """
            WITH o AS (
              SELECT o_custkey AS user_id, o_orderdate AS order_ts,
                     max(o_orderkey) AS order_key
              FROM orders GROUP BY 1, 2
            ),
            e AS (SELECT event_id, user_id,
                         ts - INTERVAL 26 YEAR AS ets FROM events)
            SELECT e.event_id, e.user_id, o.order_key, o.order_ts
            FROM e ASOF LEFT JOIN o
              ON e.user_id = o.user_id AND e.ets >= o.order_ts
        """,
        "events_time_rollup": """
            WITH b AS (
              -- ::TIMESTAMP: DuckDB's date_trunc('day') yields DATE while
              -- Spark's yields TIMESTAMP
              SELECT date_trunc('day', ts)::TIMESTAMP AS day,
                     date_trunc('hour', ts) AS hour, value
              FROM events
            )
            SELECT day, hour, count(*) AS n_events,
                   round(sum(value), 4) AS sum_value,
                   grouping(day, hour) AS gid
            FROM b GROUP BY ROLLUP (day, hour)
        """,
        # rebuild the IDENTICAL count-min sketch in SQL: same md5-derived
        # row hashes (dedup._hash60 mirror), same depth=4 x width=256
        "events_user_cms": f"""
            WITH e AS (
              SELECT i, user_id::VARCHAR AS k
              FROM events CROSS JOIN (SELECT unnest(range(4)) AS i)
              WHERE user_id IS NOT NULL
            ),
            b AS (
              SELECT i,
                     ({_ddb_hash60("i::VARCHAR || chr(31) || k")}) % 256
                       AS bucket
              FROM e
            )
            SELECT i::INT AS i, bucket, count(*) AS cnt
            FROM b GROUP BY 1, 2
        """,
        # the identical hash-range split assignment: thresholds computed
        # ONCE in Python (sampling._thresholds, _split_edges above) and
        # embedded as integer literals on both sides, so float rounding
        # cannot diverge
        "documents_hash_split": f"""
            SELECT doc_id,
                   CASE WHEN ({_ddb_hash60('doc_id::VARCHAR')})
                          < {_split_edges[0][1]}
                          THEN '{_split_edges[0][0]}'
                        WHEN ({_ddb_hash60('doc_id::VARCHAR')})
                          < {_split_edges[1][1]}
                          THEN '{_split_edges[1][0]}'
                        ELSE '{_split_edges[2][0]}' END AS split
            FROM documents
        """,
        # the same keep/drop predicate over the combined text-stats +
        # repetition CTEs (both reused verbatim from their own oracles)
        "documents_corpus_filter": f"""
            WITH ts AS ({_TEXT_STATS_SQL}),
            norm2 AS (
              SELECT doc_id, list_filter({_TOKS}, t -> t != '') AS toks
              FROM documents
            ),
            g2 AS (
              SELECT doc_id,
                     unnest(CASE WHEN len(toks) >= 2
                       THEN list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1])
                       ELSE [] END) AS gram
              FROM norm2
            ),
            pg2 AS (SELECT doc_id, gram, count(*) AS c
                    FROM g2 GROUP BY 1, 2),
            rep AS (
              SELECT doc_id,
                     round(max(c) / sum(c)::DOUBLE, 6) AS top_ngram_frac
              FROM pg2 GROUP BY 1
            )
            SELECT ts.doc_id, ts.n_tokens, ts.quality, rep.top_ngram_frac
            FROM ts JOIN rep USING (doc_id)
            WHERE ts.lang_guess = 'en' AND ts.quality >= 0.5
              AND rep.top_ngram_frac <= 0.2 AND ts.n_tokens >= 20
        """,
        # per-stratum thresholds are the SAME integers computed by
        # sampling.stratum_threshold on the Spark side
        "documents_stratified_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE ({_ddb_hash60('doc_id::VARCHAR')}) <
                  CASE lang WHEN 'de' THEN {_strat["de"]}
                            WHEN 'en' THEN {_strat["en"]}
                            ELSE {_strat["*"]} END
        """,
        # alpha=1/2 temperature mix: self-contained integer derivation —
        # exact isqrt (floor(sqrt) + one correction step each way), sum
        # over groups, rational keep rule on 30-bit hash buckets; no
        # driver-computed constants anywhere
        "documents_temperature_mix": f"""
            WITH d AS (
              SELECT doc_id, lang FROM documents
              WHERE doc_id IS NOT NULL AND lang IS NOT NULL),
            g AS (SELECT lang, count(*)::BIGINT AS n_group
                  FROM d GROUP BY 1),
            s0 AS (SELECT lang, n_group,
                          CAST(floor(sqrt(n_group::DOUBLE)) AS BIGINT)
                            AS s
                   FROM g),
            s1 AS (SELECT lang, n_group,
                          s - (CASE WHEN s * s > n_group
                               THEN 1 ELSE 0 END) AS s
                   FROM s0),
            s2 AS (SELECT lang, n_group,
                          s + (CASE WHEN (s + 1) * (s + 1) <= n_group
                               THEN 1 ELSE 0 END) AS s
                   FROM s1),
            tgt AS (SELECT lang, n_group,
                           least(n_group,
                                 ((200 * s) //
                                  (SELECT sum(s)::BIGINT FROM s2))
                                 ::BIGINT) AS n_target
                    FROM s2)
            SELECT d.doc_id, d.lang, t.n_group, t.n_target
            FROM d JOIN tgt t USING (lang)
            WHERE (({_ddb_hash60('d.doc_id::VARCHAR')}) // 1073741824)
                  * t.n_group < t.n_target * 1073741824
        """,
        # the identical deterministic (md5, id) row_number window — the
        # cap keeps the 10 hash-smallest docs per source
        "documents_domain_cap": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(cast(doc_id AS VARCHAR)), doc_id) AS rn
              FROM documents
              WHERE source IS NOT NULL AND doc_id IS NOT NULL) t
            WHERE rn <= 10
        """,
        # same normalization/shingling as the dedup oracles, two sources:
        # the 5 hash-smallest docs form the stand-in benchmark; corpus =
        # the rest; n_hits counts DISTINCT shared 3-grams per corpus doc
        "documents_decontaminate": f"""
            WITH bench_ids AS (
              SELECT doc_id FROM documents WHERE doc_id IS NOT NULL
              ORDER BY md5(cast(doc_id AS VARCHAR)), doc_id LIMIT 5
            ),
            corpus AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id IS NOT NULL
                AND doc_id NOT IN (SELECT doc_id FROM bench_ids)
            ),
            cnorm AS (
              SELECT doc_id, list_filter({_TOKS}, t -> t != '') AS toks
              FROM corpus
            ),
            csh AS (
              SELECT DISTINCT doc_id,
                unnest(CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                  ELSE [array_to_string(toks, ' ')] END) AS shingle
              FROM cnorm
            ),
            bnorm AS (
              SELECT d.doc_id, list_filter({_TOKS}, t -> t != '') AS toks
              FROM documents d JOIN bench_ids USING (doc_id)
            ),
            bsh AS (
              SELECT DISTINCT
                unnest(CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                  ELSE [array_to_string(toks, ' ')] END) AS shingle
              FROM bnorm
            ),
            hits AS (
              SELECT doc_id, count(*)::BIGINT AS n_hits
              FROM csh JOIN bsh USING (shingle) GROUP BY doc_id
            )
            SELECT c.doc_id,
                   coalesce(h.n_hits, 0)::BIGINT AS n_hits,
                   coalesce(h.n_hits, 0) > 0 AS contaminated
            FROM (SELECT DISTINCT doc_id FROM corpus) c
            LEFT JOIN hits h USING (doc_id)
        """,
        # identical sliding windows: raw-whitespace tokens, starts every
        # 32 while inside the doc, 64-token slices, single-space rejoin
        "documents_chunks": """
            WITH t AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
              FROM documents
              WHERE doc_id IS NOT NULL AND len(trim(text)) > 0
            ),
            w AS (
              SELECT doc_id, toks,
                     unnest(range(0, len(toks), 32)) AS start_tok
              FROM t
            )
            SELECT doc_id,
                   (start_tok // 32)::BIGINT AS chunk_id,
                   start_tok::BIGINT AS start_tok,
                   len(list_slice(toks, start_tok + 1,
                                  start_tok + 64))::BIGINT AS n_tok,
                   array_to_string(list_slice(toks, start_tok + 1,
                                              start_tok + 64), ' ')
                     AS chunk_text
            FROM w
        """,
        # identical 2-gram generation + aggregates over the shared token
        # expression; left join restores 0-gram docs with 0.0 fractions
        "documents_repetition_stats": f"""
            WITH norm AS (
              SELECT doc_id, list_filter({_TOKS}, t -> t != '') AS toks
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                     unnest(CASE WHEN len(toks) >= 2
                       THEN list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1])
                       ELSE [] END) AS gram
              FROM norm
            ),
            pg AS (SELECT doc_id, gram, count(*) AS c
                   FROM g GROUP BY 1, 2),
            ag AS (
              SELECT doc_id, sum(c)::BIGINT AS n_ngrams,
                     max(c) AS mx, count(*) AS uniq
              FROM pg GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(n_ngrams, 0) AS n_ngrams,
                   round(coalesce(mx / n_ngrams, 0.0), 6)
                     AS top_ngram_frac,
                   round(coalesce(uniq / n_ngrams, 0.0), 6)
                     AS uniq_ngram_frac
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN ag USING (doc_id)
        """,
        # the identical synthetic-PII injection + chained scrub in RE2;
        # patterns come from the same PII_PATTERNS tuples as the Spark side
        "documents_pii_scrub": f"""
            WITH inj AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id::VARCHAR
                          || '@mail.example ph 555-'
                          || (doc_id % 900 + 100)::VARCHAR || '-'
                          || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                          || ' ip 10.0.' || (doc_id % 256)::VARCHAR
                          || '.' || ((doc_id * 7) % 256)::VARCHAR AS t
              FROM documents
            )
            SELECT doc_id,
                   substr(md5({_pii_scrub_sql}), 1, 16) AS scrub_fp,
                   len(regexp_extract_all(t, '{_pii["email"]}'))::INT
                     AS n_email,
                   len(regexp_extract_all(t, '{_pii["ip"]}'))::INT AS n_ip,
                   len(regexp_extract_all(t, '{_pii["phone"]}'))::INT
                     AS n_phone
            FROM inj
        """,
        # the same packing as ONE global-window cumsum — the serial
        # specification the distributed prefix-sum decomposition must
        # equal; packing order is lexicographic over the STRING key
        "documents_pack_blocks": """
            WITH d AS (
              SELECT doc_id,
                     (CASE WHEN trim(text) = '' THEN 0
                           ELSE len(string_split_regex(trim(text), '\\s+'))
                      END)::BIGINT AS n_tok
              FROM documents WHERE doc_id IS NOT NULL
            ),
            c AS (
              SELECT doc_id, n_tok,
                     (sum(n_tok) OVER (ORDER BY doc_id::VARCHAR ASC
                                       ROWS UNBOUNDED PRECEDING)
                      - n_tok)::BIGINT AS strt
              FROM d WHERE n_tok > 0
            ),
            e AS (
              SELECT doc_id, n_tok, strt,
                     unnest(range(strt // 512,
                                  (strt + n_tok - 1) // 512 + 1))
                       AS block_id
              FROM c
            )
            SELECT doc_id, n_tok, block_id,
                   greatest(strt, block_id * 512) - block_id * 512
                     AS block_offset,
                   least(strt + n_tok, (block_id + 1) * 512)
                     - greatest(strt, block_id * 512) AS tokens_in_block
            FROM e
        """,
        # rebuild the IDENTICAL Bloom bit set in SQL: same "i<US>key"
        # md5-derived row hashes as the CMS, 6 hashes into 16384 bits
        "events_user_bloom": f"""
            WITH e AS (
              SELECT i, user_id::VARCHAR AS k
              FROM events CROSS JOIN (SELECT unnest(range(6)) AS i)
              WHERE user_id IS NOT NULL
            )
            SELECT DISTINCT
                   ({_ddb_hash60("i::VARCHAR || chr(31) || k")}) % 16384
                     AS pos
            FROM e
        """,
        # rebuild the IDENTICAL HyperLogLog register table in SQL: same
        # md5-derived 60-bit hash, register = low 9 bits, rho via integer
        # base-2 string length (bin()) — no float log2 on either side
        "events_user_hll": f"""
            WITH h AS (
              SELECT ({_ddb_hash60("user_id::VARCHAR")}) AS h
              FROM events WHERE user_id IS NOT NULL
            ),
            r AS (
              SELECT h % 512 AS reg,
                     CASE WHEN h // 512 = 0 THEN 52
                          ELSE 52 - length(bin(h // 512)) END AS rho
              FROM h
            )
            SELECT reg, max(rho)::INT AS max_rho FROM r GROUP BY reg
        """,
        # rebuild the IDENTICAL HDR quantile histogram in SQL: integer
        # basis floor(value*100) (IEEE double product is bit-identical
        # across engines), msb via base-2 string length (bin()), bucket
        # and bounds all integer shifts — no float anywhere
        "events_value_hdr": """
            WITH base AS (
              SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL
                AND floor(value * 100) >= 0
            ),
            idx AS (
              SELECT event_type,
                     CASE WHEN length(bin(v)) <= 5 THEN v
                          ELSE (length(bin(v)) - 5) * 32
                               + (v >> (length(bin(v)) - 6)) - 32
                     END AS bucket
              FROM base
            ),
            hist AS (
              SELECT event_type, bucket, count(*) AS cnt
              FROM idx GROUP BY 1, 2
            )
            SELECT event_type, bucket,
                   CASE WHEN bucket < 32 THEN bucket
                        ELSE (32 + (bucket % 32)) << (bucket // 32 - 1)
                   END AS lo,
                   CASE WHEN bucket < 32 THEN bucket
                        ELSE ((32 + (bucket % 32) + 1)
                              << (bucket // 32 - 1)) - 1
                   END AS hi,
                   cnt
            FROM hist
        """,
        # quantiles read off the histogram: integer rank rule (min bucket
        # with 100*cum >= p*total), bounds derived from the index
        "events_hdr_quantiles": """
            WITH base AS (
              SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL
                AND floor(value * 100) >= 0
            ),
            idx AS (
              SELECT event_type,
                     CASE WHEN length(bin(v)) <= 5 THEN v
                          ELSE (length(bin(v)) - 5) * 32
                               + (v >> (length(bin(v)) - 6)) - 32
                     END AS bucket
              FROM base
            ),
            hist AS (
              SELECT event_type, bucket, count(*) AS cnt
              FROM idx GROUP BY 1, 2
            ),
            cum AS (
              SELECT event_type, bucket,
                     sum(cnt) OVER (PARTITION BY event_type
                                    ORDER BY bucket) AS c,
                     sum(cnt) OVER (PARTITION BY event_type) AS total
              FROM hist
            ),
            qb AS (
              SELECT event_type, p.p AS p,
                     min(CASE WHEN c * 100 >= total * p.p
                              THEN bucket END) AS bucket
              FROM cum CROSS JOIN (VALUES (50), (90), (99)) AS p(p)
              GROUP BY 1, 2
            )
            SELECT event_type, p::INT AS p,
                   CASE WHEN bucket < 32 THEN bucket
                        ELSE (32 + (bucket % 32)) << (bucket // 32 - 1)
                   END AS q_lo,
                   CASE WHEN bucket < 32 THEN bucket
                        ELSE ((32 + (bucket % 32) + 1)
                              << (bucket // 32 - 1)) - 1
                   END AS q_hi
            FROM qb
        """,
        # rebuild the Morton keys bit-for-bit in SQL (list_transform over
        # the same bit-index range) and re-decode them — round-trip inside
        # the value oracle
        "events_zorder_key": """
            WITH base AS (
              SELECT event_id,
                     (user_id & 2097151) AS zu,
                     ((epoch_us(ts) // 86400000000) & 2097151) AS zd
              FROM events
            ),
            keyed AS (
              SELECT event_id, zu, zd,
                     CAST(list_sum(list_transform(range(0, 21),
                          i -> (((zu >> i) & 1) << (2*i))
                             + (((zd >> i) & 1) << (2*i + 1))))
                          AS BIGINT) AS zkey
              FROM base
            )
            SELECT event_id, zu, zd, zkey,
                   CAST(list_sum(list_transform(range(0, 21),
                        i -> ((zkey >> (2*i)) & 1) << i)) AS BIGINT) AS ru,
                   CAST(list_sum(list_transform(range(0, 21),
                        i -> ((zkey >> (2*i + 1)) & 1) << i)) AS BIGINT)
                     AS rd
            FROM keyed
        """,
        "events_after_orders_range": """
            SELECT o.o_orderkey AS order_key,
                   count(*) AS n_events,
                   round(sum(e.value), 4) AS sum_value
            FROM (SELECT user_id, ts - INTERVAL 26 YEAR AS ets, value
                  FROM events) e
            JOIN orders o
              ON e.user_id = o.o_custkey
             AND e.ets >= o.o_orderdate
             AND e.ets < o.o_orderdate + INTERVAL 3 DAY
            GROUP BY 1
        """,
        "events_running_stats": """
            SELECT event_id, user_id,
                   row_number() OVER w AS seq,
                   round(sum(value) OVER (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC
                         ROWS UNBOUNDED PRECEDING), 4) AS running_value,
                   coalesce(epoch_us(ts) - epoch_us(lag(ts) OVER w), -1)
                     AS gap_us
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        """,
        "salted_join_revenue": """
            SELECT c_mktsegment,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
        "events_sessionized": """
            WITH g AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               > 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC)
            ),
            s AS (
              SELECT user_id,
                     sum(new_sess) OVER (PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC
                       ROWS UNBOUNDED PRECEDING) AS session_id
              FROM g
            )
            SELECT user_id, max(session_id)::BIGINT AS n_sessions,
                   count(*) AS n_events
            FROM s GROUP BY 1
        """,
        "events_hourly": """
            SELECT user_id,
                   time_bucket(INTERVAL '1 hour', ts) AS hour_start,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        # funnel qualification cascades over the SAME per-user sort Spark
        # uses (ts ASC, event_id tiebreak); strictly-preceding via
        # ROWS ... 1 PRECEDING, exactly the window recrun_spark.functions
        # .events.funnel_stages plans
        "events_funnel": """
            WITH s0 AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS q0
              FROM events
            ),
            s1 AS (
              SELECT *, CASE WHEN event_type = 'click'
                          AND coalesce(max(q0) OVER w_prev, 0) = 1
                        THEN 1 ELSE 0 END AS q1
              FROM s0
              WINDOW w_prev AS (PARTITION BY user_id
                ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ),
            s2 AS (
              SELECT *, CASE WHEN event_type = 'purchase'
                          AND coalesce(max(q1) OVER w_prev, 0) = 1
                        THEN 1 ELSE 0 END AS q2
              FROM s1
              WINDOW w_prev AS (PARTITION BY user_id
                ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ),
            per_user AS (
              SELECT user_id, max(q0) AS r0, max(q1) AS r1, max(q2) AS r2
              FROM s2 GROUP BY 1
            ),
            tot AS (SELECT sum(r0) AS n0, sum(r1) AS n1, sum(r2) AS n2
                    FROM per_user)
            SELECT 0 AS stage_idx, 'view' AS stage, n0::BIGINT AS n_users
            FROM tot
            UNION ALL
            SELECT 1, 'click', n1::BIGINT FROM tot
            UNION ALL
            SELECT 2, 'purchase', n2::BIGINT FROM tot
        """,
        # distinct (user, day) first, window-min cohort, plain count(*)
        # — mirrors retention_cohorts' reduce-before-fan-out shape
        "events_retention_cohorts": """
            WITH days AS (
              SELECT DISTINCT user_id, ts::DATE AS day FROM events
            ),
            coh AS (
              SELECT user_id, day,
                     min(day) OVER (PARTITION BY user_id) AS cohort_day
              FROM days
            )
            SELECT cohort_day,
                   date_diff('day', cohort_day, day)::BIGINT AS day_offset,
                   count(*) AS n_users
            FROM coh GROUP BY 1, 2
        """,
        "events_type_pivot": """
            SELECT user_id,
                   count(*) FILTER (WHERE event_type = 'click')    AS n_click,
                   count(*) FILTER (WHERE event_type = 'error')    AS n_error,
                   count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
                   count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
                   count(*) FILTER (WHERE event_type = 'view')     AS n_view
            FROM events GROUP BY 1
        """,
        # portable md5-derived hashes make the signature queries
        # value-checkable; the two golden parquets are produced by
        # independent single-node evaluation (Node reference oracle +
        # fixed linking rules; local kernel run) — see
        # tools/oracle/make_entry_golden.py
        "simhash_sigs": _simhash_sql(),
        "minhash_sigs": _minhash_sql(),
        "media_features": f"""
            SELECT media_id, doc_id, modality, n_bytes, sha1, idx, val
            FROM read_parquet('{_REPO}/data/golden/media_features_64.parquet')
        """,
        "kg_triples_interleaved": f"""
            SELECT subj, pred, obj, doc_id
            FROM read_parquet('{_REPO}/data/golden/entry_triples_60.parquet')
        """,
        # the STREAMING end-to-end path must reproduce the SAME reference
        # golden as the batch flagship (doc-scoped triples, one doc per
        # micro-batch => stream union == batch output exactly)
        "kg_triples_stream": f"""
            SELECT subj, pred, obj, doc_id
            FROM read_parquet('{_REPO}/data/golden/entry_triples_60.parquet')
        """,
        "render_overlay": f"""
            SELECT doc_id, overlay_html
            FROM read_parquet('{_REPO}/data/golden/entry_overlays_60.parquet')
        """,
        "events_sessions_stream": closed_sessions_sql(),
        # first-seen streaming dedup over id-ordered ranges == global min
        # doc_id per fingerprint (same normalization as dedup_exact)
        "documents_dedup_stream": """
            SELECT substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                                                  'g'))), 1, 16) AS fp,
                   min(doc_id) AS doc_id
            FROM documents WHERE doc_id IS NOT NULL
            GROUP BY 1
        """,
        # finalized windows only: window_end <= ms-floored max ts minus the
        # 10-min watermark delay — the engine rule pinned by
        # test_windowed_counts_finalization_semantics (INCLUSIVE at
        # equality; time-ranged replay makes the late-row filter a no-op,
        # so finalized window contents equal the batch GROUP BY)
        "events_windowed_stream": """
            WITH wm AS (
              SELECT (epoch_us(max(ts)) // 1000) * 1000
                     - 600 * 1000000 AS wm_us
              FROM events),
            agg AS (
              SELECT date_trunc('hour', ts) AS window_start,
                     date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
                     event_type, count(*) AS n_events
              FROM events GROUP BY 1, 2, 3)
            SELECT window_start, window_end, event_type, n_events
            FROM agg, wm
            WHERE epoch_us(window_end) <= wm.wm_us
        """,
        # stream-static join is stateless, so finalization is identical
        # to events_windowed_stream's pinned rule; the oracle is the
        # batch join + GROUP BY under that predicate
        "events_enriched_stream": """
            WITH wm AS (
              SELECT (epoch_us(max(ts)) // 1000) * 1000
                     - 600 * 1000000 AS wm_us
              FROM events),
            agg AS (
              SELECT date_trunc('hour', e.ts) AS window_start,
                     date_trunc('hour', e.ts) + INTERVAL 1 HOUR
                       AS window_end,
                     n.n_name AS nation, count(*) AS n_events
              FROM events e
              JOIN nation n ON n.n_nationkey = e.user_id % 25
              GROUP BY 1, 2, 3)
            SELECT window_start, window_end, nation, n_events
            FROM agg, wm
            WHERE epoch_us(window_end) <= wm.wm_us
        """,
        # stream-stream inner interval join is COMPLETE under ascending
        # ranged replay (streaming/join.py eviction argument, pinned by
        # test_interval_join_stream_equals_batch), so the oracle is the
        # plain batch self-join; lag in exact µs (whole-second lag
        # functions diverge across engines on sub-second parts)
        "events_attribution_stream": """
            SELECT p.user_id,
                   p.event_id AS purchase_id,
                   c.event_id AS click_id,
                   p.ts AS purchase_ts,
                   c.ts AS click_ts,
                   CAST(date_diff('microsecond', c.ts, p.ts)
                        AS BIGINT) AS lag_us
            FROM events p JOIN events c
              ON p.user_id = c.user_id
             AND p.event_type = 'purchase' AND c.event_type = 'click'
             AND c.ts <= p.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        """,
    }


if __name__ == "__main__":
    from recrun_spark.session import get_spark
    s = get_spark("entry_smoke", cpus=8)
    df = entry(s)
    print(df.count(), df.schema.simpleString())
