"""Tracing from outside the program: spans at layer boundaries, Spark
job groups, and stage metrics read back from the status store.

A ``Tracer`` made with ``enabled=False`` records nothing and sets no job
group, so untraced runs measure the program alone. With tracing on,
every span also names the Spark job group of the work inside it; the
per-group stage metrics come from ``sc._jsc.sc().statusStore()``, which
works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

STAGE_FIELDS = (
    "jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes", "plan_s",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.iteration: int | None = None
        self.cost_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Time ``name``; Spark jobs started inside run under job group
        ``group`` (default: ``name``). Yields the span record (``None``
        when tracing is off)."""
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        sc = self.spark.sparkContext
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group or name, name)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "group": group or name, "parent": parent,
               "iteration": self.iteration, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.cost_s += rec["start"] - t
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if outer:
                sc.setJobGroup(outer, outer)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.cost_s += time.perf_counter() - rec["end"]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its children cover."""
        kids = sorted((s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"])
        return (rec["end"] - rec["start"]) - _covered(kids)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                row = dict(s, start=s["start"] - t0, end=s["end"] - t0, self_s=self.self_time(s))
                f.write(json.dumps(row) + "\n")


def _covered(intervals) -> float:
    """Length of the union of sorted (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in intervals:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _opt(o):
    return o.get() if o.isDefined() else None


def job_count(spark) -> int:
    """Jobs Spark has started so far. Job ids count up from 0 and the
    run retains every job, so this is also the id of the next job."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return jsc.statusStore().jobsList(None).size()


def group_metrics(spark, first_job: int = 0) -> dict[str | None, dict]:
    """Per job group, over the jobs from id ``first_job`` on: jobs,
    tasks, task CPU, GC, shuffle write, spill, input and output bytes
    from the status store, plus ``plan_s`` (SQL execution submission to
    its first job, summed) and ``job_s`` (wall time covered by the
    group's jobs). Jobs outside any group count under ``None``. A stage
    that several jobs list counts once, under the first of them."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    jobs = sorted((jobs.apply(i) for i in range(jobs.size())), key=lambda j: j.jobId())
    out: dict[str | None, dict] = defaultdict(lambda: dict.fromkeys(STAGE_FIELDS, 0) | {"job_s": 0.0})
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    intervals: dict[str | None, list] = defaultdict(list)
    seen: set[int] = set()
    for j in jobs:
        jid = j.jobId()
        if jid < first_job:
            continue
        group = _opt(j.jobGroup())
        job_group[jid] = group
        start = _opt(j.submissionTime())
        end = _opt(j.completionTime())
        if start is not None:
            job_start[jid] = start.getTime() / 1000.0
        if start is not None and end is not None:
            intervals[group].append((start.getTime() / 1000.0, end.getTime() / 1000.0))
        rec = out[group]
        rec["jobs"] += 1
        stage_ids = j.stageIds()
        for k in range(stage_ids.size()):
            sid = stage_ids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted or never-submitted stage
                continue
            if st.status().toString() == "SKIPPED":
                continue
            rec["tasks"] += st.numCompleteTasks()
            rec["task_cpu_s"] += st.executorCpuTime() / 1e9
            rec["gc_s"] += st.jvmGcTime() / 1e3
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            rec["input_bytes"] += st.inputBytes()
            rec["output_bytes"] += st.outputBytes()
    for group, iv in intervals.items():
        out[group]["job_s"] = _covered(sorted(iv))

    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        ids = [int(k) for k in _keys(e.jobs())]
        starts = [job_start[k] for k in ids if k in job_start]
        groups = {job_group[k] for k in ids if k in job_group}
        if len(groups) == 1 and starts:
            out[groups.pop()]["plan_s"] += max(0.0, min(starts) - e.submissionTime() / 1000.0)
    return dict(out)


def _keys(scala_map):
    it = scala_map.keys().iterator()
    while it.hasNext():
        yield it.next()


def _parquet_files(root: str) -> set[str]:
    return {
        os.path.join(d, n) for d, _, names in os.walk(root) for n in names if n.endswith(".parquet")
    }


def wrap_sinks(tracer: Tracer, pipeline_module, manifest_module):
    """Replace the sink entry points ``plans.pipeline`` calls with traced
    wrappers; returns an undo function. Each wrapped call first times a
    noop write of the incoming DataFrame under job group
    ``<table>.compute``, then the real call under ``<table>.sink``."""
    originals = {
        (pipeline_module, "merge_upsert"): pipeline_module.merge_upsert,
        (manifest_module, "merge_upsert_atomic"): manifest_module.merge_upsert_atomic,
    }

    def traced(fn):
        def call(spark, path, df, *args, **kwargs):
            table = os.path.basename(os.path.normpath(path))
            with tracer.span(f"{table}.compute"):
                df.write.format("noop").mode("overwrite").save()
            with tracer.span(f"{table}.sink") as rec:
                t = time.perf_counter()
                before = _parquet_files(path)
                tracer.cost_s += time.perf_counter() - t
                try:
                    return fn(spark, path, df, *args, **kwargs)
                finally:
                    t = time.perf_counter()
                    rec["files_written"] = len(_parquet_files(path) - before)
                    tracer.cost_s += time.perf_counter() - t

        return call

    for (mod, attr), fn in originals.items():
        setattr(mod, attr, traced(fn))

    def undo():
        for (mod, attr), fn in originals.items():
            setattr(mod, attr, fn)

    return undo
