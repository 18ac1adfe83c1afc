"""Spans and Spark counters for the traced run.

Spans are recorded from outside the program: around the calls into each
layer, and around every flow node by wrapping
``tuktu_spark.flow.compiler.make_operator``.  Each span runs under its own
Spark job group, so the jobs, stages and tasks it launched are read back
from the status tracker and status store after the run.  Spans stay in
memory and are written out once, when the benchmark exits.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import sys
import time

from py4j.protocol import Py4JError

# Counters folded per phase from the status store (StageData field -> metric).
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": (("memoryBytesSpilled", "diskBytesSpilled"), 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
}
PHASE_METRICS = ["stages", "tasks", *STAGE_FIELDS, "slot_busy_share", "task_skew"]


class Tracer:
    """Records spans; a disabled tracer records nothing and sets no job
    group, so untraced runs execute exactly the calls a user would make."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self.run_id = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "group": f"perfbench-span-{sid}",
            "start": time.perf_counter(),
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def add_span(self, name: str, start: float, end: float, parent: dict | None, **extra) -> dict:
        """Record a span measured elsewhere (e.g. a streaming batch)."""
        rec = {"id": next(self._ids), "name": name, "parent": parent["id"] if parent else None,
               "run": self.run_id, "start": start, "end": end, **extra}
        self.spans.append(rec)
        return rec

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def subtree(self, rec: dict) -> list[dict]:
        out = [rec]
        for child in self.children(rec):
            out.extend(self.subtree(child))
        return out

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part of it its child spans cover."""
        covered, last = 0.0, rec["start"]
        for c in sorted(self.children(rec), key=lambda s: s["start"]):
            lo, hi = max(c["start"], last), min(c["end"], rec["end"])
            if hi > lo:
                covered += hi - lo
                last = hi
        return rec["end"] - rec["start"] - covered

    def job_ids(self, rec: dict) -> list[int]:
        """Jobs launched under this span or any span below it."""
        ids: list[int] = []
        for s in self.subtree(rec):
            if "group" in s:
                ids.extend(self.sc.statusTracker().getJobIdsForGroup(s["group"]))
        return sorted(set(ids))

    def write(self, path: str) -> None:
        spans = [{**s, "self_s": self.self_time(s)} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans}, f, indent=1)


def install_node_spans(tracer: Tracer):
    """Wrap the compiler's operator factory so each flow node's build runs
    inside an ``operators.<node_id>`` span.  Returns an undo callable.

    The factory only receives the operator name and config; the node id is
    read from the calling ``compile_flow`` frame (its loop variable
    ``nid``), which keeps this wrapper outside the program's code."""
    from tuktu_spark.flow import compiler

    original = compiler.make_operator

    def make_operator(name, config=None):
        nid = sys._getframe(1).f_locals.get("nid", name)
        transform = original(name, config)

        def traced(*inputs):
            with tracer.span(f"operators.{nid}"):
                return transform(*inputs)

        return traced

    compiler.make_operator = make_operator

    def undo():
        compiler.make_operator = original

    return undo


def _stage_data(store, stage_id: int):
    try:
        return store.lastStageAttempt(stage_id)
    except Py4JError:  # stage evicted from the store or never attempted
        return None


def _task_quantiles(jvm_gateway, store, sd) -> tuple[float, float] | None:
    """(median, max) task run time of one stage attempt, in ms."""
    qs = jvm_gateway.new_array(jvm_gateway.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    try:
        dist = store.taskSummary(sd.stageId(), sd.attemptId(), qs)
    except Py4JError:
        return None
    if not dist.isDefined():
        return None
    run = dist.get().executorRunTime()
    return run.apply(0), run.apply(1)


def fold_jobs(spark, job_ids: list[int], wall_s: float) -> dict:
    """Jobs, stages, tasks and stage counters for a set of jobs."""
    sc = spark.sparkContext
    gateway = sc._gateway
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {k: 0.0 for k in PHASE_METRICS}
    out["jobs"] = len(job_ids)
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    med_sum = max_sum = 0.0
    for sid in sorted(stage_ids):
        sd = _stage_data(store, sid)
        if sd is None or sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        for metric, (field, scale) in STAGE_FIELDS.items():
            fields = field if isinstance(field, tuple) else (field,)
            out[metric] += sum(getattr(sd, f)() for f in fields) * scale
        q = _task_quantiles(gateway, store, sd)
        if q is not None:
            med_sum += q[0]
            max_sum += q[1]
    cores = sc.defaultParallelism
    out["slot_busy_share"] = out["executor_run_s"] / (wall_s * cores) if wall_s > 0 else 0.0
    out["task_skew"] = max_sum / med_sum if med_sum > 0 else 1.0
    return out


def median_of(dicts: list[dict]) -> dict:
    """Key-wise median over a list of metric dicts with the same keys."""
    if not dicts:
        return {}
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}
