"""Benchmark of record for the recrun_spark knowledge-graph pipeline.

    python3 kgbench/run.py --workload batch_uniform --seed 1 --seconds 10 \\
        --trace 0

Run it from the repository root.  One process, one local Spark session sized
to this machine: ``local[<cores available>]``, a driver heap of a quarter
of physical memory capped at 3 GB, and every Spark, JVM and Python scratch
file under ``.kgbench_work/`` in the current directory (deleted on exit).

``--trace 0`` times the calls untraced and prints the end-to-end metrics;
``--trace 1`` runs the same calls traced and prints the per-layer
metrics.  Either way the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
list the same metrics by name and unit.  See kgbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MB = float(1 << 20)


def fit_machine(work: str) -> int:
    """Size the engine to this machine and keep its files under ``work``;
    returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(3, int(phys_gb // 4)))}g"
    for var, sub in (("SPARK_LOCAL_DIRS", "local"), ("TMPDIR", "tmp"),
                     ("SPARK_GRAFT_WAREHOUSE", "warehouse")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    os.environ.pop("SPARK_MASTER", None)
    return cpus


def session_conf(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    return {
        # split the scan for CPU balance, as the pipeline CLI does
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.sql.files.openCostInBytes": "2m",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job of its calls back from the store
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "20000",
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={tmp} -Djava.io.tmpdir={tmp}",
    }


def descendants() -> list:
    """Pids of this process's descendants: the driver JVM and the Python
    daemon and workers it forks."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    me = os.getpid()
    out = []
    for pid in parent:
        p = parent[pid]
        while p and p != me:
            p = parent.get(p, 0)
        if p == me:
            out.append(pid)
    return out


class RssSampler(threading.Thread):
    """Peak of the summed resident memory of this process's descendants."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while not self._halt.wait(self.interval):
            total = 0
            for pid in descendants():
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * page
                except OSError:
                    pass
            self.peak = max(self.peak, total)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / MB


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait until the JVM
    and its Python workers have exited."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants():
        if time.monotonic() > deadline:
            for pid in descendants():
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def run(args, work: str) -> dict:
    cpus = fit_machine(work)
    from recrun_spark.session import get_spark
    from recrun_spark.stage2 import load_aliases

    import check
    from spans import SparkCounters, Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, work, cpus)
    wl.generate()

    rss = RssSampler()
    rss.start()
    t0 = time.perf_counter()
    spark = get_spark("kgbench", cpus=cpus, extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        wl.warm_up(spark)
        setup_s = time.perf_counter() - t0

        tracer = Tracer(spark) if args.trace else None
        calls = []  # (wall_s, docs)
        windows = []  # wall-clock interval of each call
        failed_calls = 0
        start = time.perf_counter()
        i = 0
        while not calls or time.perf_counter() - start < args.seconds:
            wl.before_call(i)
            if tracer:
                tracer.install(*wl.trace_targets())
            w0, c0 = time.time(), time.perf_counter()
            try:
                if tracer:
                    docs = tracer.call(wl.entry, "call", wl.call, spark)
                else:
                    docs = wl.call(spark)
            except Exception:
                traceback.print_exc()
                failed_calls += 1
                docs = 0
            finally:
                if tracer:
                    tracer.uninstall()
            calls.append((time.perf_counter() - c0, docs))
            windows.append((w0, time.time()))
            i += 1
        peak_rss_mb = rss.stop()

        aliases = load_aliases(spark)  # both entry points' default
        surfaces = [r[0] for r in aliases.select("alias").distinct().collect()]
        expected = check.golden_triples(ROOT)
        expected.update(check.reference_triples(aliases, surfaces, wl.sample))
        written = check.written_triples(wl.triples(spark), expected)
        wrong = check.wrong_docs(expected, written)
        for d in wrong[:5]:
            print(f"wrong triples for {d}: expected {sorted(expected[d])}, "
                  f"written {sorted(written.get(d, ()))}", file=sys.stderr)

        walls = [w for w, _ in calls]
        if tracer:
            metrics = layer_metrics(spark, wl, tracer, SparkCounters(spark),
                                    windows, calls, session_s, aliases,
                                    surfaces)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "docs_per_s": (sum(d for _, d in calls) / sum(walls),
                               "docs/s"),
                "latency_p50_s": (statistics.median(walls), "s"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
            }
    finally:
        stop_spark(spark)

    attempted = len(expected) + len(calls)
    failed = len(wrong) + failed_calls
    print(f"workload {args.workload}: seed {args.seed}, {len(calls)} timed "
          f"calls{' (traced)' if tracer else ''}, {len(expected)} docs checked, "
          f"{len(wrong)} wrong, {failed_calls} calls failed")
    print(f"error_rate {failed / attempted:.6f} ({failed}/{attempted})")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def layer_metrics(spark, wl, tracer, counters, windows, calls, session_s,
                  aliases, surfaces) -> dict:
    """Per-layer metrics of the traced calls; walls, task times and
    megabytes are means per traced call."""
    from recrun_spark.linking import build_alias_pattern, find_mentions
    from recrun_spark.readability import Settings, extract
    from recrun_spark.stage3 import same_as_edges_df

    from workloads import golden_docs

    roots = [s for s in tracer.spans if s["fn"] == "call"]
    n = len(roots)
    wall: dict = {}  # layer -> seconds, summed over the traced calls
    batches = batch_s = self_s = 0.0
    for root in roots:
        kids, nb, b_s, s_s = tracer.breakdown(root)
        batches, batch_s, self_s = batches + nb, batch_s + b_s, self_s + s_s
        for s in kids:
            layers = [s["layer"]]
            if s["fn"] == "write_table":  # a write counts in its stage too
                layers.append("tableio")
            for layer in layers:
                wall[layer] = wall.get(layer, 0.0) + s["end"] - s["start"]

    jobs = counters.jobs(windows)
    ours = {s["layer"] for s in tracer.spans}

    def layer_of(job):
        layer, _, fn = job["group"].partition(":")
        return (layer, fn) if layer in ours else ("streaming", "batch")

    def per_call(js, key, scale=1.0):
        return sum(j[key] for j in js) / scale / n

    by_stage = {k: [j for j in jobs if layer_of(j)[0] == k]
                for k in ("stage1", "stage2", "stage3", "stage4")}
    writes = [j for j in jobs if layer_of(j)[1] == "write_table"]

    # single-process baselines on fixed inputs, outside any timed call
    golden = golden_docs()
    settings = Settings.shipped()
    extract_s = []
    for _ in range(3):
        t = time.perf_counter()
        recs = [extract(spans, settings) for _, spans in golden]
        extract_s.append(time.perf_counter() - t)
    texts = [text for rec in recs for kind, text, _, _ in
             rec["retained_spans"] if kind == "text" and text]
    t = time.perf_counter()
    pattern = build_alias_pattern(surfaces)
    build_s = time.perf_counter() - t
    t = time.perf_counter()
    for text in texts:
        find_mentions(text, pattern)
    match_s = time.perf_counter() - t

    if wl.entry == "pipeline":
        rows = {}
        for stage in ("stage2_mentions", "stage4_triples"):
            with open(os.path.join(wl.last_out, stage, "_MANIFEST.json")) as f:
                rows[stage] = json.load(f)["rows"]
    else:  # triples per landed file; no table of linked mentions is kept
        rows = {"stage2_mentions": 0,
                "stage4_triples": wl.triples(spark).count() / wl.files}
    streaming = wl.entry == "streaming"
    return {
        "session.start_s": (session_s, "s"),
        "readability.docs_per_s_1core": (
            len(golden) / statistics.median(extract_s), "docs/s"),
        "linking.build_s": (build_s, "s"),
        "linking.match_mb_per_s": (
            sum(len(x.encode()) for x in texts) / MB / match_s, "MB/s"),
        "pipeline.self_s": (0.0 if streaming else self_s / n, "s"),
        "stage1.wall_s": (wall.get("stage1", 0.0) / n, "s"),
        "stage1.task_s": (per_call(by_stage["stage1"], "run_ms", 1000.0),
                          "s"),
        "stage1.task_skew": (counters.task_skew(by_stage["stage1"]),
                             "ratio"),
        "stage2.wall_s": (wall.get("stage2", 0.0) / n, "s"),
        "stage2.linked": (rows["stage2_mentions"], "rows"),
        "stage2.shuffle_mb": (per_call(by_stage["stage2"], "shuffle_bytes",
                                       MB), "MB"),
        "stage3.wall_s": (wall.get("stage3", 0.0) / n, "s"),
        "stage3.jobs": (len(by_stage["stage3"]) / n, "count"),
        "stage3.cc_edges": (same_as_edges_df(aliases).count(), "edges"),
        "stage3.shuffle_mb": (per_call(by_stage["stage3"], "shuffle_bytes",
                                       MB), "MB"),
        "stage4.wall_s": (wall.get("stage4", 0.0) / n, "s"),
        "stage4.triples": (rows["stage4_triples"], "rows"),
        "stage4.shuffle_mb": (per_call(by_stage["stage4"], "shuffle_bytes",
                                       MB), "MB"),
        "stage4.broadcast_rows": (
            aliases.select("entity_id").distinct().count(), "rows"),
        "tableio.wall_s": (wall.get("tableio", 0.0) / n, "s"),
        "tableio.jobs": (len(writes) / n, "count"),
        "tableio.output_mb": (per_call(writes, "output_bytes", MB), "MB"),
        "streaming.calls": (n if streaming else 0, "count"),
        "streaming.batches": (batches / n, "count"),
        "streaming.batch_s": (batch_s / n, "s"),
        "streaming.overhead_s": (self_s / n if streaming else 0.0, "s"),
        "spark.jobs": (len(jobs) / n, "count"),
        "spark.task_s": (per_call(jobs, "run_ms", 1000.0), "s"),
        "spark.failed_tasks": (sum(j["failed_tasks"] for j in jobs),
                               "count"),
        "spark.spill_mb": (per_call(jobs, "spill_bytes", MB), "MB"),
        # compare with latency_p50_s of an untraced run of the same seed
        "trace.call_s": (statistics.median(w for w, _ in calls), "s"),
        "trace.overhead_s": (tracer.hook_s / n, "s"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    golden = os.path.join(ROOT, "data", "golden", "triples.jsonl")
    if not (os.path.isfile(os.path.join(ROOT, "recrun_spark", "pipeline.py"))
            and os.path.isfile(golden)):
        print("kgbench: run from the root of a recrun_spark checkout (the "
              "engine and data/golden/ are missing here)", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
