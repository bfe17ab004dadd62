"""TableIO seam (SURVEY.md §7): Iceberg-first write API with a partitioned-
parquet + JSON-manifest fallback when no Iceberg catalog is configured (the
sandbox has no Iceberg runtime jar).

Both paths produce the same layout semantics: data partitioned by the given
columns, plus a ``_MANIFEST.json`` carrying per-partition lineage (rows and
the lineage key's min/max), the written schema, the caller's fingerprint
and a completion marker — the unit of checkpoint/resume (north_rule
stage 4).

Lineage comes from metadata the write already produced, not from a second
pass over the data.  On parquet it is read from the footers of the files
the write just committed (pyarrow on the driver, no Spark job): row-group
``num_rows`` plus the key column's min/max statistics, grouped by the
``col=value`` partition directories (``%XX`` escapes undone,
``__HIVE_DEFAULT_PARTITION__`` = null).  The table is re-scanned with a
Spark aggregate instead when the footers cannot give the scan's answer:
a non-empty row group without min/max for the key (statistics disabled,
or a value too long for parquet-mr to keep), a key or partition column
that is not a string or integer, or a filesystem pyarrow cannot open.
The Iceberg path keeps the scan: Iceberg truncates string bounds to 16
characters by default (``write.metadata.metrics.default=truncate(16)``).

The manifest's ``schema`` is the written one in the order the parquet
reader returns it — data columns, then partition columns — so
``read_table`` hands it to ``spark.read.schema`` and no inference job
runs.

Iceberg jar status (re-probed each round as VERDICT asks): 2026-08-16 —
maven central unreachable (DNS failure, no egress from the sandbox), so
``iceberg-spark-runtime`` remains unresolvable; the Iceberg branch stays
exercised through the mocked writer seam (tests/test_tableio.py).
First networked run: add
``--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>`` and
``spark.sql.catalog.recrun`` and the real ``writeTo().partitionedBy``
branch executes unchanged.
"""

from __future__ import annotations

import json
import os
import re
import time

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ByteType, IntegerType, LongType, ShortType,
                               StringType, StructType)

MANIFEST = "_MANIFEST.json"
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"
# types whose footer min/max and partition-directory values mean what
# Spark's min/max and partition reader return
_FOOTER_TYPES = (StringType, ByteType, ShortType, IntegerType, LongType)


def iceberg_available(spark: SparkSession) -> bool:
    cat = spark.conf.get("spark.sql.catalog.recrun", None)
    return cat is not None


def _read_schema(schema: StructType, partition_by: list) -> StructType:
    """``schema`` in the order the parquet reader returns a table written
    from it: data columns, then partition columns."""
    return StructType([f for f in schema.fields if f.name not in partition_by]
                      + [schema[c] for c in partition_by])


def write_table(df: DataFrame, path: str, partition_by=None,
                stage: str = "", lineage_key: str = "doc_id",
                fingerprint=None) -> dict:
    """Write df; return the manifest dict (also persisted at
    path/_MANIFEST.json, with ``fingerprint`` as given)."""
    spark = df.sparkSession
    t0 = time.time()
    partition_by = list(partition_by or [])
    schema = _read_schema(df.schema, partition_by)
    iceberg = iceberg_available(spark)

    if iceberg:
        # Iceberg path: identical call shape, catalog-managed table
        table = "recrun." + os.path.basename(path.rstrip("/"))
        w = df.writeTo(table)
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()
        lineage = _scan_lineage(spark.read.table(table), partition_by,
                                lineage_key)
    else:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
        lineage = _footer_lineage(spark, path, schema, partition_by,
                                  lineage_key)
        if lineage is None:
            lineage = _scan_lineage(spark.read.schema(schema).parquet(path),
                                    partition_by, lineage_key)

    manifest = {
        "stage": stage,
        "path": path,
        "format": "iceberg" if iceberg else "parquet",
        "partition_by": partition_by,
        "schema": schema.jsonValue(),
        "rows": int(sum(p["rows"] for p in lineage)),
        "partitions": lineage,
        "fingerprint": fingerprint,
        "wall_sec": round(time.time() - t0, 3),
        "complete": True,
    }
    write_json(os.path.join(path, MANIFEST), manifest)
    return manifest


def _scan_lineage(stored: DataFrame, partition_by: list, key: str) -> list:
    """Rows and key range per partition value by a Spark aggregate over the
    written table (a global aggregate when unpartitioned: one row, also
    for an empty table)."""
    rows = (stored.groupBy(*partition_by)
            .agg(F.count(F.lit(1)).alias("rows"),
                 F.min(key).alias("min_key"),
                 F.max(key).alias("max_key"))
            .collect())
    return [{**{c: r[c] for c in partition_by}, "rows": r["rows"],
             "min_key": r["min_key"], "max_key": r["max_key"]} for r in rows]


def _unescape(s: str) -> str:
    """Undo Spark's partition-path escaping (``%XX`` per escaped char)."""
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m[1], 16)), s)


def _hidden(name: str) -> bool:
    """Names Spark's file index skips (``_SUCCESS``, ``.crc`` files)."""
    return (name.startswith("_") and "=" not in name) or name.startswith(".")


def _footer_lineage(spark, path: str, schema: StructType,
                    partition_by: list, key: str):
    """Rows and key range per partition value from the parquet footers of
    the files under ``path``; None when they cannot give the scan's answer
    (see the module docstring)."""
    if key in partition_by or not all(
            isinstance(schema[c].dataType, _FOOTER_TYPES)
            for c in (key, *partition_by)):
        return None
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    hfs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        fs, base = pafs.FileSystem.from_uri(
            hfs.makeQualified(jpath).toUri().toString())
        infos = fs.get_file_info(pafs.FileSelector(base, recursive=True))
    except (pa.ArrowException, OSError):
        return None
    base = base.rstrip("/")
    # partition values -> [rows, min, max]; unpartitioned: the one row of
    # the scan's global aggregate, also for an empty table
    groups: dict = {} if partition_by else {(): [0, None, None]}
    for info in infos:
        parts = info.path[len(base) + 1:].split("/")
        if info.type != pafs.FileType.File or any(map(_hidden, parts)):
            continue
        dirs = [d.partition("=") for d in parts[:-1]]
        if [_unescape(c) for c, _, _ in dirs] != partition_by:
            return None
        values = tuple(
            None if v == NULL_PARTITION
            else _unescape(v) if isinstance(schema[c].dataType, StringType)
            else int(v) for c, (_, _, v) in zip(partition_by, dirs))
        md = pq.read_metadata(info.path, filesystem=fs)
        ix = [md.schema.column(j).path for j in range(md.num_columns)
              ].index(key)
        g = groups.setdefault(values, [0, None, None])
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            if rg.num_rows == 0:
                continue
            st = rg.column(ix).statistics
            if st is None or not st.has_min_max:
                return None
            g[0] += rg.num_rows
            g[1] = st.min if g[1] is None else min(g[1], st.min)
            g[2] = st.max if g[2] is None else max(g[2], st.max)
    return [{**dict(zip(partition_by, values)), "rows": n,
             "min_key": lo, "max_key": hi}
            for values, (n, lo, hi) in groups.items() if n or not partition_by]


def write_json(path: str, obj) -> None:
    """Write ``obj`` as JSON via a temp file + rename, so a reader (or a
    resume after a kill) never sees a half-written file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, default=str)
    os.replace(tmp, path)


def write_bucketed(df: DataFrame, table: str, bucket_by, n_buckets: int,
                   sort_by=None, mode: str = "overwrite") -> None:
    """Bucketed managed table for CO-LOCATED joins (SURVEY.md §4): rows are
    hash-clustered into ``n_buckets`` files per partition by ``bucket_by``
    at WRITE time, so an equi-join or aggregation on the bucket key between
    two tables bucketed the same way needs NO Exchange at read time — the
    shuffle is paid once at write and amortized over every downstream join
    (the standard trick for a dimension repeatedly joined at 100 TB).
    ``sort_by`` additionally pre-sorts within buckets, eliminating the sort
    of a sort-merge join.  Verified by plan assertion in tests/test_tableio.py.
    """
    bucket_by = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    # one writer task per bucket -> exactly one file per bucket, which is
    # what lets the reader trust per-bucket sort order and skip re-sorting
    clustered = df.repartition(n_buckets, *[F.col(c) for c in bucket_by])
    w = clustered.write.bucketBy(n_buckets, *bucket_by)
    if sort_by:
        sort_by = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        w = w.sortBy(*sort_by)
    w.mode(mode).format("parquet").saveAsTable(table)


def read_manifest(path: str):
    p = os.path.join(path, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        m = json.load(f)
    return m if m.get("complete") else None


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Resolve by the MANIFEST's recorded format, not the current session's
    catalog config — a parquet-written stage must remain readable (and a
    resume valid) even if an Iceberg catalog appears later, and vice versa."""
    m = read_manifest(path) or {}
    fmt = m.get("format")
    if fmt == "iceberg" or (fmt is None and iceberg_available(spark)):
        return spark.read.table("recrun." + os.path.basename(path.rstrip("/")))
    reader = spark.read
    if m.get("schema"):  # the written schema: no inference job
        reader = reader.schema(StructType.fromJson(m["schema"]))
    return reader.parquet(path)
