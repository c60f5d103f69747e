"""Spans around the calls into each layer, and Spark's event log folded into them.

A ``Tracer`` wraps the public entry points a workload reaches (module
attributes, patched for the traced run only and restored afterwards). Each
span records its layer, start, end and parent, and sets its own Spark job
group, so every job Spark runs inside it carries the span's id in the event
log. ``fold_run`` then reads the event log and turns spans plus jobs and tasks
into per-layer numbers:

- A layer's self time is the wall of its spans minus the part of that
  interval child spans cover.
- A checkpoint write runs the lazy plan of the stage it commits, so Spark job
  time inside a write span is credited to the layer that owns the stage
  (``STAGE_LAYER``); the rest of the write span is the checkpoint layer's own
  commit work.
- Jobs that run while only the pipeline's root span is open (the eager
  ``localCheckpoint`` calls inside ``run_pipeline``'s stage closures) are
  credited to the layer of the stage being built, which is the next stage
  the pipeline writes.
- Whatever no span and no job covers is ``pipeline.unattributed_s``, so the
  layer self times plus it sum to the traced wall.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

# checkpointed stage -> layer whose plan the stage's write executes
STAGE_LAYER = {
    "s1_records": "assemble",
    "s1_quarantine": "assemble",
    "s2_dropped_keys": "blocking",
    "s3_dropped_candidates": "blocking",
    "s3_pairs": "blocking",
    "s4_scored": "score",
    "s6_components": "cluster",
    "s7_clusters": "cluster",
}
LAYERS = ("assemble", "blocking", "score", "cluster", "checkpoint", "ingest")
_GROUP_PREFIX = "erbench-span-"
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    """Span recorder for one traced process. Spans nest through one shared
    stack: the workloads are closed loops, so at most one thread (the driver
    or a foreachBatch callback while the driver waits) opens spans at a time."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.calls: list[tuple[str | None, str, float]] = []  # (layer, name, time)
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "layer": layer,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        prev = {k: self.sc.getLocalProperty(k) for k in _JOB_PROPS}
        self.sc.setJobGroup(f"{_GROUP_PREFIX}{sid}", layer)
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            for k, v in prev.items():
                self.sc.setLocalProperty(k, v)

    def current_layer(self) -> str | None:
        return self.spans[self._stack[-1]]["layer"] if self._stack else None

    def wrap(self, owner, name: str, layer: str, stage_arg: bool = False):
        """Replace ``owner.name`` by a version that runs inside a span.
        With ``stage_arg`` the first positional argument after ``self`` is
        recorded as the span's stage."""
        orig = getattr(owner, name)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            attrs = {"op": name}
            if stage_arg:
                attrs["stage"] = args[1]
            with self.span(layer, **attrs):
                return orig(*args, **kwargs)

        self._patches.append((owner, name, orig))
        setattr(owner, name, traced)

    def count_calls(self, owner, name: str):
        """Record each call of ``owner.name`` with the innermost open layer."""
        orig = getattr(owner, name)

        @functools.wraps(orig)
        def counted(*args, **kwargs):
            self.calls.append((self.current_layer(), name, time.time()))
            return orig(*args, **kwargs)

        self._patches.append((owner, name, orig))
        setattr(owner, name, counted)

    def restore(self):
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches.clear()


# -- event log ---------------------------------------------------------------

_WANTED = (
    '{"Event":"SparkListenerJobStart"',
    '{"Event":"SparkListenerJobEnd"',
    '{"Event":"SparkListenerTaskEnd"',
)


def read_event_log(log_dir: str) -> tuple[dict, list]:
    """Jobs {id: {...}} and tasks [...] from the uncompressed, unrolled event
    log the benchmark's session writes into ``log_dir``."""
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                if not line.startswith(_WANTED):
                    continue
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    jobs[jid] = {
                        "id": jid,
                        "start": e["Submission Time"] / 1000.0,
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                    }
                    for sid in e.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                else:
                    tasks.append(_task(e, stage_job))
    return jobs, tasks


def _task(e: dict, stage_job: dict) -> dict:
    m = e.get("Task Metrics") or {}
    info = e.get("Task Info") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    py_ms = 0.0
    for acc in info.get("Accumulables", []):
        if acc.get("Name") == "time to run Python workers":
            py_ms += float(acc.get("Update") or 0)
    return {
        "job": stage_job.get(e["Stage ID"]),
        "stage": e["Stage ID"],
        "duration_s": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
        "run_s": m.get("Executor Run Time", 0) / 1000.0,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "udf_s": py_ms / 1000.0,
        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
        "spill_b": m.get("Disk Bytes Spilled", 0),
        "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_b": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
    }


# -- folding -----------------------------------------------------------------

def _union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _minus(base, cut) -> list[tuple[float, float]]:
    """Intervals of ``base`` not covered by ``cut`` (both unions)."""
    out = []
    for a, b in base:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def _intersect(a, b) -> list[tuple[float, float]]:
    out = []
    for x, y in a:
        for c, d in b:
            lo, hi = max(x, c), min(y, d)
            if hi > lo:
                out.append((lo, hi))
    return out


def fold_run(root: dict, spans: list[dict], jobs: dict, tasks: list[dict]) -> dict:
    """Per-layer attribution of one measured run below ``root``.

    Returns {"self_s": {layer: s}, "unattributed_s", "driver_s",
    "layer_jobs": {layer: [job ids]}, "wall_s"}."""
    lo, hi = root["start"], root["end"]
    by_id = {s["id"]: s for s in spans}
    inside = [s for s in spans if _descends(s, root["id"], by_id)]
    children: dict[int, list[dict]] = {}
    for s in inside:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    run_jobs = [j for j in jobs.values() if j["end"] is not None
                and j["start"] < hi and j["end"] > lo]
    group_span = {f"{_GROUP_PREFIX}{s['id']}": s for s in inside}
    writes = sorted((s for s in inside if s.get("stage")), key=lambda s: s["start"])

    def stage_layer_after(t: float) -> str | None:
        for w in writes:
            if w["start"] >= t:
                return STAGE_LAYER.get(w["stage"])
        return None

    self_s = {layer: 0.0 for layer in LAYERS}
    layer_jobs: dict[str, list[int]] = {layer: [] for layer in LAYERS}
    unattributed = 0.0
    for s in inside:
        own = _minus(
            [(s["start"], s["end"])],
            _union((c["start"], c["end"]) for c in children.get(s["id"], [])),
        )
        mine = [j for j in run_jobs if j["group"] == f"{_GROUP_PREFIX}{s['id']}"]
        if s["id"] == root["id"] or s.get("stage"):
            # job time here runs a stage's plan: credit the stage's layer
            rest = own
            for j in sorted(mine, key=lambda j: j["start"]):
                layer = (STAGE_LAYER.get(s["stage"]) if s.get("stage")
                         else stage_layer_after(j["start"]))
                if layer is None:
                    continue
                job = [(j["start"], j["end"])]
                self_s[layer] += _length(_intersect(rest, job))
                rest = _minus(rest, job)
            if s["id"] == root["id"]:
                unattributed += _length(rest)
            else:
                self_s[s["layer"]] += _length(rest)
        else:
            self_s[s["layer"]] += _length(own)
    for j in run_jobs:
        s = group_span.get(j["group"])
        if s is None:
            # a job of no span of this run (e.g. a streaming engine job):
            # credited to the innermost span open when it started
            s = _innermost(inside, j["start"]) or root
        if s.get("stage"):
            layer = STAGE_LAYER.get(s["stage"], "checkpoint")
        elif s["id"] == root["id"]:
            layer = stage_layer_after(j["start"]) or "pipeline"
        else:
            layer = s["layer"]
        layer_jobs.setdefault(layer, []).append(j["id"])
    busy = _union((max(j["start"], lo), min(j["end"], hi)) for j in run_jobs)
    return {
        "wall_s": hi - lo,
        "self_s": self_s,
        "unattributed_s": unattributed,
        "driver_s": (hi - lo) - _length(busy),
        "layer_jobs": layer_jobs,
    }


def _descends(s: dict, root_id: int, by_id: dict) -> bool:
    cur = s
    while cur is not None:
        if cur["id"] == root_id:
            return True
        cur = by_id.get(cur["parent"]) if cur["parent"] is not None else None
    return False


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def task_totals(tasks: list[dict], job_ids) -> dict:
    """Sums of task metrics over the tasks of ``job_ids``; ``skew`` is max /
    median task duration in the stage with the largest total task time."""
    ids = set(job_ids)
    mine = [t for t in tasks if t["job"] in ids]
    out = {k: sum(t[k] for t in mine) for k in (
        "run_s", "gc_s", "udf_s", "shuffle_write_b", "spill_b", "input_b", "output_b")}
    out["tasks"] = len(mine)
    by_stage: dict[int, list[float]] = {}
    for t in mine:
        by_stage.setdefault(t["stage"], []).append(t["duration_s"])
    heavy = [d for d in by_stage.values() if len(d) > 1]
    if heavy:
        d = max(heavy, key=sum)
        out["skew"] = max(d) / max(statistics.median(d), 1e-3)
    else:
        out["skew"] = 1.0
    return out
