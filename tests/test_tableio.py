"""TableIO contract tests — the Iceberg write branch (SURVEY.md §7).

No Iceberg runtime jar exists in this sandbox (verified: spark.jars.packages
resolution fails offline — ivy cannot reach Maven Central), so the catalog
is mocked at the DataFrameWriterV2 seam: the test executes the REAL
``write_table`` Iceberg branch — catalog detection, ``writeTo(table)``,
``partitionedBy('pred')``, ``createOrReplace()``, manifest assembly, and the
manifest-format-pinned ``read_table`` resolution — with only the v2 writer's
storage faked.  On a cluster with the Iceberg runtime on the classpath and
``spark.sql.catalog.recrun`` configured, the identical code path runs
unmocked.
"""

import os

from pyspark.sql import functions as F

from recrun_spark.io import tableio


def test_write_table_iceberg_branch_contract(spark, monkeypatch, tmpdir_path):
    store_dir = os.path.join(tmpdir_path, "fake_warehouse")
    calls = {}

    class FakeWriterV2:
        """Records the v2 writer calls write_table makes and materializes
        the data so read-back + lineage aggregation run for real."""

        def __init__(self, df, table):
            self.df, self.table = df, table
            calls["table"] = table

        def partitionedBy(self, *cols):
            calls["partitioned_by"] = [str(c) for c in cols]
            return self

        def createOrReplace(self):
            calls["created"] = True
            self.df.write.mode("overwrite").parquet(
                os.path.join(store_dir, self.table))

    triples = spark.createDataFrame(
        [("E1", "mentioned_in", "doc1", "doc1"),
         ("E1", "co_mentioned_with", "E2", "doc1"),
         ("E2", "mentioned_in", "doc2", "doc2")],
        ["subj", "pred", "obj", "doc_id"])
    # patch the CONCRETE classes (Spark 4 splits pyspark.sql.DataFrame into
    # an abstract base + classic/connect implementations — patching the
    # base would leave the classic subclass's own writeTo in place)
    monkeypatch.setattr(type(triples), "writeTo",
                        lambda self, table: FakeWriterV2(self, table))
    monkeypatch.setattr(type(spark.read), "table",
                        lambda self, table: spark.read.parquet(
                            os.path.join(store_dir, table)))
    out_path = os.path.join(tmpdir_path, "stage4_triples")

    # flag the catalog on for this session; MUST be unset afterwards or the
    # shared session's later parquet-path writes would take the wrong branch
    spark.conf.set("spark.sql.catalog.recrun",
                   "org.apache.iceberg.spark.SparkCatalog")
    try:
        assert tableio.iceberg_available(spark)
        manifest = tableio.write_table(triples, out_path,
                                       partition_by=["pred"],
                                       stage="stage4_triples")
        back = tableio.read_table(spark, out_path)
    finally:
        spark.conf.unset("spark.sql.catalog.recrun")

    assert calls["table"] == "recrun.stage4_triples"
    assert calls["partitioned_by"] == ["Column<'pred'>"]
    assert calls["created"] is True
    assert manifest["format"] == "iceberg" and manifest["complete"]
    assert manifest["rows"] == 3
    # per-partition lineage grouped by the partition column
    preds = {p["pred"]: p["rows"] for p in manifest["partitions"]}
    assert preds == {"mentioned_in": 2, "co_mentioned_with": 1}
    # read_table resolves by the manifest's recorded format (iceberg),
    # not the current session conf — catalog now unset, still readable
    # via the pinned format only when the catalog is back; parquet
    # fallback must NOT be taken for an iceberg-format manifest
    assert back.count() == 3
    assert {r["pred"] for r in back.select("pred").distinct().collect()} \
        == {"mentioned_in", "co_mentioned_with"}


def test_read_table_respects_manifest_format_pin(spark, tmpdir_path):
    """A parquet-written stage stays readable as parquet even if an Iceberg
    catalog appears later in the session (resume safety)."""
    df = spark.range(5).select(F.col("id").cast("string").alias("doc_id"))
    path = os.path.join(tmpdir_path, "stage_x")
    m = tableio.write_table(df, path, stage="stage_x")
    assert m["format"] == "parquet"
    spark.conf.set("spark.sql.catalog.recrun", "whatever.Catalog")
    try:
        # format pinned to parquet by the manifest -> no catalog lookup
        assert tableio.read_table(spark, path).count() == 5
    finally:
        spark.conf.unset("spark.sql.catalog.recrun")


def test_bucketed_tables_join_without_shuffle(spark):
    """Co-located join: two tables bucketed+sorted on the same key must
    sort-merge-join with ZERO Exchange and ZERO Sort in the plan — the
    shuffle was paid once at write time (the 100 TB repeated-join shape)."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F2

    ents = spark.range(0, 2000).select(
        F2.col("id").alias("doc_key"),
        (F2.col("id") % 37).alias("entity"))
    imgs = spark.range(0, 2000, 2).select(
        F2.col("id").alias("doc_key"),
        F2.concat(F2.lit("img"), F2.col("id")).alias("media_ref"))
    spark.sql("DROP TABLE IF EXISTS b_ents")
    spark.sql("DROP TABLE IF EXISTS b_imgs")
    tableio.write_bucketed(ents, "b_ents", "doc_key", 8, sort_by="doc_key")
    tableio.write_bucketed(imgs, "b_imgs", "doc_key", 8, sort_by="doc_key")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        join_only = spark.table("b_ents").join(spark.table("b_imgs"),
                                               "doc_key")
        buf = io.StringIO()
        with redirect_stdout(buf):
            join_only.explain("formatted")
        plan = buf.getvalue()
        rows = {r["entity"]: r["n"]
                for r in join_only.groupBy("entity")
                .agg(F2.count(F2.lit(1)).alias("n")).collect()}
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_ents")
        spark.sql("DROP TABLE IF EXISTS b_imgs")

    # correctness: every even doc_key joins exactly once; entity 0 = ids
    # divisible by both 2 and 37 in [0, 2000) = multiples of 74 -> 28 ids
    assert sum(rows.values()) == 1000
    assert rows[0] == 28
    # plan: the join reads both bucketed tables WITHOUT any Exchange —
    # scan -> (sort) -> SortMergeJoin, shuffle paid at write time
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan


def _scanned_lineage(spark, path, partition_by, key):
    """Per-partition rows and key range by a Spark aggregate over the
    table read back with an inferred schema — what the footers replace."""
    rows = (spark.read.parquet(path).groupBy(*partition_by)
            .agg(F.count(F.lit(1)).alias("rows"),
                 F.min(key).alias("min_key"), F.max(key).alias("max_key"))
            .collect())
    return sorted((r.asDict() for r in rows), key=repr)


def _assert_lineage_is_the_scans(spark, manifest, path, partition_by, key):
    scanned = _scanned_lineage(spark, path, partition_by, key)
    assert sorted(manifest["partitions"], key=repr) == scanned
    assert manifest["rows"] == sum(p["rows"] for p in scanned)


def test_footer_lineage_equals_scan(spark, tmpdir_path):
    """Lineage read from the written footers equals the Spark scan's, and
    ``read_table`` returns the inferred schema (names, types, nullability,
    order) without inferring it: an unpartitioned table with non-nullable
    and nested columns, one partitioned by values Spark must escape plus a
    null, and an empty one."""
    nested = spark.range(40).select(
        F.format_string("doc%03d", (F.col("id") * 7) % 40).alias("doc_id"),
        F.col("id"),  # non-nullable
        F.array(F.struct(F.col("id").alias("n"),
                         F.lit("x").alias("s"))).alias("spans"))
    values = ["a/b", "x=y", "50%", "a b", None]
    escaped = spark.range(50).select(
        F.col("id").cast("string").alias("doc_id"),
        F.element_at(F.array(*[F.lit(v) for v in values]),
                     (F.col("id") % len(values) + 1).cast("int")).alias("k"))
    cases = [("flat", nested, [], "doc_id"),
             ("escaped", escaped, ["k"], "doc_id"),
             ("empty", nested.limit(0), [], "doc_id")]
    for name, df, partition_by, key in cases:
        path = os.path.join(tmpdir_path, name)
        m = tableio.write_table(df, path, partition_by=partition_by,
                                stage=name, lineage_key=key)
        _assert_lineage_is_the_scans(spark, m, path, partition_by, key)
        inferred = spark.read.parquet(path).schema
        assert tableio.read_table(spark, path).schema == inferred, name
        assert [f.name for f in inferred] == [
            c for c in df.columns if c not in partition_by] + partition_by
    dirs = sorted(d for d in os.listdir(os.path.join(tmpdir_path, "escaped"))
                  if d.startswith("k="))
    assert dirs == ["k=50%25", "k=__HIVE_DEFAULT_PARTITION__", "k=a b",
                    "k=a%2Fb", "k=x%3Dy"]
    m = tableio.read_manifest(os.path.join(tmpdir_path, "escaped"))
    assert {p["k"] for p in m["partitions"]} == set(values)
    assert m["fingerprint"] is None


def test_footer_lineage_falls_back_to_the_scan(spark, tmpdir_path):
    """Footers without statistics for the key (parquet-mr told not to
    write them) still give the scan's lineage, not 0 rows or null bounds."""
    import glob

    import pyarrow.parquet as pq
    df = spark.range(30).select(
        F.format_string("d%02d", F.col("id")).alias("doc_id"),
        # not digits: the inferring reader would type "0" as an int
        F.format_string("p%d", F.col("id") % 3).alias("k"))
    path = os.path.join(tmpdir_path, "nostats")
    spark.conf.set("parquet.column.statistics.enabled", "false")
    try:
        m = tableio.write_table(df, path, partition_by=["k"],
                                fingerprint={"input": "x"})
    finally:
        spark.conf.unset("parquet.column.statistics.enabled")
    files = glob.glob(os.path.join(path, "k=*", "*.parquet"))
    assert files and all(
        pq.read_metadata(f).row_group(0).column(0).statistics is None
        for f in files)
    _assert_lineage_is_the_scans(spark, m, path, ["k"], "doc_id")
    assert m["rows"] == 30
    assert all(p["min_key"] and p["max_key"] for p in m["partitions"])
    assert tableio.read_manifest(path)["fingerprint"] == {"input": "x"}
