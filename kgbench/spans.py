"""Spans around the calls into the engine's layers, and Spark counters per
layer read back from the driver's status store.

A span is recorded for every call of a wrapped function: its layer, the
function name, the calling thread's enclosing span, and start/end times.
While a span is open, the calling thread's Spark job group is
``<layer>:<function>``, so every job the call launches can be attributed
to it afterwards.  Jobs launched by Spark's own threads (the micro-batches
of a streaming query) keep the query's group and are attributed to
``streaming:batch``.

Wrapping replaces the module attribute the entry points look up
(``recrun_spark.pipeline.write_table`` and so on); ``uninstall`` restores
the originals, so untraced calls in the same process run the engine as is.
"""

from __future__ import annotations

import statistics
import threading
import time

# pipeline stage directory -> layer name
STAGE_LAYER = {"stage1_extract": "stage1", "stage2_mentions": "stage2",
               "stage3_canonical": "stage3", "stage4_triples": "stage4"}

# functions the entry points call, and the layer each belongs to
LAYER_OF = {"load_aliases": "stage2", "extract_documents": "stage1",
            "detect_mentions": "stage2", "link_mentions": "stage2",
            "canonicalize": "stage3", "assemble_triples": "stage4",
            "release_caches": "stage4"}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.hook_s = 0.0  # time spent in the tracer itself
        self._local = threading.local()
        self._undo: list = []

    def install(self, module, names) -> None:
        for name in names:
            orig = getattr(module, name)
            setattr(module, name, self._wrapped(name, orig))
            self._undo.append((module, name, orig))

    def uninstall(self) -> None:
        for module, name, orig in reversed(self._undo):
            setattr(module, name, orig)
        self._undo.clear()

    def _wrapped(self, name, fn):
        def traced(*args, **kwargs):
            if name == "write_table":
                layer = STAGE_LAYER.get(kwargs.get("stage"), "tableio")
            else:
                layer = LAYER_OF[name]
            return self.call(layer, name, fn, *args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span of ``layer``; its jobs join the group
        ``<layer>:<name>``."""
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"layer": layer, "fn": name,
               "parent": stack[-1] if stack else None,
               "thread": threading.get_ident()}
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"{layer}:{name}", name)
        stack.append(len(self.spans))
        self.spans.append(rec)
        rec["start"] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.hook_s += (rec["start"] - t0
                            + time.perf_counter() - rec["end"])

    def breakdown(self, root: dict):
        """(children, batches, batch_s, self_s) of a root span.

        Children are the spans directly under ``root`` on its own thread
        plus the outermost spans other threads opened inside its interval
        (the streaming micro-batch callback).  ``batch_s`` is the interval
        from the callback's ``extract_documents`` to its
        ``release_caches``: the micro-batches, whose four stages run fused
        in one lazy write.  ``self_s`` is the root's wall minus its own
        thread's children and the batches."""
        ix = next(k for k, s in enumerate(self.spans) if s is root)
        kids = [s for s in self.spans[ix + 1:]
                if s["start"] <= root["end"]
                and (s["parent"] == ix or (s["parent"] is None
                                          and s["thread"] != root["thread"]))]
        own = sum(s["end"] - s["start"] for s in kids
                  if s["thread"] == root["thread"])
        starts = [s["start"] for s in kids if s["fn"] == "extract_documents"
                  and s["thread"] != root["thread"]]
        ends = [s["end"] for s in kids if s["fn"] == "release_caches"]
        batch_s = max(ends) - min(starts) if starts and ends else 0.0
        return kids, len(ends), batch_s, (root["end"] - root["start"]
                                          - own - batch_s)


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


class SparkCounters:
    """Per-job counters from the status store, for jobs submitted inside
    given wall-clock windows (epoch seconds)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._gw = sc._gateway

    def jobs(self, windows) -> list[dict]:
        store = self._store
        by_stage: dict = {}  # stage id -> its attempts
        qs = self._gw.new_array(self._gw.jvm.double, 0)
        sl = store.stageList(None, False, False, qs, None)
        for i in range(sl.size()):
            s = sl.apply(i)
            by_stage.setdefault(s.stageId(), []).append(s)
        out = []
        jl = store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            sub = _opt(j.submissionTime())
            if sub is None:
                continue
            t = sub.getTime() / 1000.0
            if not any(a <= t <= b for a, b in windows):
                continue
            ids = [j.stageIds().apply(k) for k in range(j.stageIds().size())]
            rec = {"group": _opt(j.jobGroup(), ""), "run_ms": 0,
                   "shuffle_bytes": 0, "output_bytes": 0, "spill_bytes": 0,
                   "failed_tasks": 0, "stages": []}
            for sid in ids:
                for s in by_stage.get(sid, []):
                    if str(s.status()) == "SKIPPED":
                        continue
                    rec["run_ms"] += s.executorRunTime()
                    rec["shuffle_bytes"] += s.shuffleWriteBytes()
                    rec["output_bytes"] += s.outputBytes()
                    rec["spill_bytes"] += (s.memoryBytesSpilled()
                                           + s.diskBytesSpilled())
                    rec["failed_tasks"] += s.numFailedTasks()
                    rec["stages"].append((sid, s.attemptId(),
                                          s.executorRunTime()))
            out.append(rec)
        return out

    def task_skew(self, job_recs) -> float:
        """max / median task time of the busiest stage among ``job_recs``."""
        stages = [st for j in job_recs for st in j["stages"]]
        if not stages:
            return 0.0
        sid, att, _ = max(stages, key=lambda st: st[2])
        tl = self._store.taskList(sid, att, 1 << 20)
        times = [_opt(tl.apply(k).duration(), 0) for k in range(tl.size())]
        med = statistics.median(times) if times else 0
        return max(times) / med if med else 0.0
