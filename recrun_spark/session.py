"""SparkSession builder with the engine's scale-oriented defaults.

Tuned for correctness tests on local[N] but configured the way a
1000-executor cluster run would be: AQE on (runtime re-plan + skew-join
backstop), Arrow-vectorized Python UDF transport, nested-schema pruning so
span-array projections reach the parquet scan, and shuffle partitions sized
to the parallelism actually available rather than the 200 default.

A local session also runs its Python workers under ``recrun_spark.pydaemon``
(Spark's daemon plus a zip-import cache fix that saves ~0.15 s of CPU per
Python task); a session on an external master keeps Spark's stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _prune_dead_process_dirs() -> None:
    """Best-effort cleanup of per-process warehouse/derby dirs left by
    sessions whose process is gone — per-PID paths avoid cross-session
    races but must not accumulate on a long-lived host."""
    import glob
    import shutil
    for pattern in ("/tmp/recrun_spark_warehouse_*",
                    "/tmp/recrun_spark_derby_*"):
        for path in glob.glob(pattern):
            try:
                pid = int(path.rsplit("_", 1)[-1])
            except ValueError:
                continue
            if pid == os.getpid():
                continue
            try:
                os.kill(pid, 0)          # probe: raises if pid is gone
            except ProcessLookupError:
                shutil.rmtree(path, ignore_errors=True)
            except PermissionError:
                pass                     # alive, owned by someone else


def _machine_heap() -> str:
    """Driver heap for local mode: a quarter of the machine's memory (the
    smaller of physical memory and the cgroup limit), 1-3 GB.  The JVM
    shares the box with its Python workers and the page cache, and a
    larger heap only delays GC until the kernel's OOM killer fires.  The
    3 GB cap has been exercised on 4 cores only; on a larger machine set
    SPARK_GRAFT_DRIVER_MEM."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for limit in ("/sys/fs/cgroup/memory.max",                   # v2
                  "/sys/fs/cgroup/memory/memory.limit_in_bytes"):  # v1
        try:
            with open(limit) as f:
                mem = min(mem, int(f.read()))
        except (OSError, ValueError):   # absent, or "max" (unlimited)
            pass
    return f"{max(1, min(3, int(mem / 2**30 // 4)))}g"


def get_spark(app_name: str = "recrun_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                                  len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        # 2x cores: enough tasks to rebalance, few enough to avoid tiny files
        shuffle_partitions = max(2 * cpus, 8)
    # local mode: make this package importable in the executor-side Python
    # workers regardless of the driver script's cwd (on a real cluster the
    # package ships via spark-submit --py-files — tools/submit_pipeline.sh)
    _prune_dead_process_dirs()
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_path = pkg_parent + (
        ":" + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else "")
    b = SparkSession.builder.appName(app_name)
    # honor an externally-provided master (spark-submit --master yarn/k8s):
    # builder.master() would silently override it and run single-node.
    # spark-submit starts the JVM first and hands the Python driver its
    # gateway port, so PYSPARK_GATEWAY_PORT marks a submitted driver
    if not (os.environ.get("SPARK_MASTER")
            or "PYSPARK_GATEWAY_PORT" in os.environ):
        b = b.master(f"local[{cpus}]")
        # local mode: the driver heap IS the executor heap
        b = b.config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                     or _machine_heap())
        # workers fork from a daemon that stops re-reading pyspark.zip on
        # every task (pydaemon.py); on a cluster a --py-files zip is not
        # on the daemon's path when it starts, so Spark's own daemon runs
        b = b.config("spark.python.daemon.module", "recrun_spark.pydaemon")
    b = (b
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
         .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
         .config("spark.sql.parquet.filterPushdown", "true")
         # zstd: ~30-40% smaller than snappy on text-heavy extraction
         # tables at similar CPU — stage-1 output is write-bound
         .config("spark.sql.parquet.compression.codec", "zstd")
         .config("spark.executorEnv.PYTHONPATH", worker_path)
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC")
         # managed-table storage for bucketed tables (tableio.write_bucketed)
         # kept out of the repo/cwd and PER-PROCESS: concurrent sessions on
         # this shared host must not race on table files, and derby locks
         # its home dir (two JVMs sharing one would fail to start).  On a
         # cluster these come from the catalog/metastore config instead.
         .config("spark.sql.warehouse.dir",
                 os.environ.get("SPARK_GRAFT_WAREHOUSE",
                                f"/tmp/recrun_spark_warehouse_{os.getpid()}"))
         .config("spark.driver.extraJavaOptions",
                 f"-Dderby.system.home=/tmp/recrun_spark_derby_{os.getpid()}"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
