"""Spans around calls into the engine's layers, and attribution of Spark
work to those layers from the Spark event log.

A span records name, layer, start, end, parent span and run id. Spans live
in memory and are written out once, when the run ends. Each span sets its
own Spark job group on the calling thread, so every job the call triggers
carries the span's id into the event log; a job whose group names no span
falls back to the innermost span whose interval holds its submission time
(the set-up span opens before the session exists, so the warm-up's jobs
carry no group).

The engine's public functions mostly return lazy DataFrames, so a span
around such a call would close before any work ran. A wrapper made with
``force=True`` therefore counts the returned frame inside the span, under a
job group of its own (``pbforce-<span id>``), and hands the caller the frame
unchanged and uncached: the caller recomputes it exactly as in an untraced
run, so the program's own jobs are the same in both, and the forced jobs
are extra work the layer's metrics include and ``trace_overhead_s`` shows.
"""

from __future__ import annotations

import importlib
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

LAYERS = (
    "session",
    "sources.io",
    "sources.sinks",
    "operators.recsplit",
    "operators.ranking",
    "operators.stats",
    "model.gan",
    "operators.text",
    "operators.vectors",
    "operators.relational",
    "operators.tpch",
    "operators.warehouse",
    "operators.analytics",
    "streaming.windows",
)
LAYER_METRICS = (
    ("self_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_cpu_s", "s"),
    ("wait_s", "s"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("gc_s", "s"),
)
_GROUP_PREFIX = "pbspan-"
_FORCE_PREFIX = "pbforce-"
_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    """Span recorder for one run. Job groups are set once ``spark`` is
    assigned a session."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spark = None
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": stack[-1] if stack else None, "run": self.run_id,
               "thread": threading.get_ident(), "start": time.time(), "end": None}
        sc = self.spark.sparkContext if self.spark is not None else None
        saved = [sc.getLocalProperty(k) for k in _PROPS] if sc else None
        if sc:
            sc.setJobGroup(f"{_GROUP_PREFIX}{sid}", f"{layer}:{name}")
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            if sc:
                for k, v in zip(_PROPS, saved):
                    sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, layer: str, fn, name: str | None = None, force: bool = False):
        """``fn`` with every call inside a span; with ``force`` a returned
        DataFrame is counted inside the span under the span's force group
        and returned uncached."""
        label = name or getattr(fn, "__name__", "call")

        def traced(*args, **kwargs):
            with self.span(layer, label) as rec:
                out = fn(*args, **kwargs)
                if force and hasattr(out, "count") and hasattr(out, "schema"):
                    sc = self.spark.sparkContext
                    sc.setJobGroup(f"{_FORCE_PREFIX}{rec['id']}", f"{layer}:{label}:force")
                    out.count()
                    sc.setJobGroup(f"{_GROUP_PREFIX}{rec['id']}", f"{layer}:{label}")
                return out

        return traced

    def patch(self, module: str, attr: str, layer: str, force: bool) -> None:
        """Replace ``module.attr`` by a traced wrapper until ``unpatch``.
        Patching the name in the CALLING module is what puts a span around
        a call that crosses from one layer into another."""
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)
        self._patched.append((mod, attr, orig))
        setattr(mod, attr, self.wrap(layer, orig, name=attr, force=force))

    def unpatch(self) -> None:
        while self._patched:
            mod, attr, orig = self._patched.pop()
            setattr(mod, attr, orig)

    def write(self, path: str | Path) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    child spans cover (children clipped to the parent, overlaps counted
    once)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            lo, hi = max(s["start"], p["start"]), min(s["end"], p["end"])
            if hi > lo:
                children[p["id"]].append((lo, hi))
    return {
        s["id"]: (s["end"] - s["start"]) - _union_length(children[s["id"]])
        for s in spans
    }


def parse_event_log(path: str | Path) -> tuple[list[dict], dict[tuple, dict]]:
    """(jobs, stages) from one Spark event log file. A job is {group,
    submit_ms}; a stage attempt is keyed (stage, attempt) and carries its
    submitting job group and the sums over its finished tasks."""
    jobs: list[dict] = []
    stages: dict[tuple, dict] = {}

    def stage(key):
        return stages.setdefault(key, {
            "group": None, "submit_ms": None, "tasks": 0, "cpu_ns": 0,
            "wait_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0, "gc_ms": 0,
            "launches": [],
        })

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append({"group": props.get("spark.jobGroup.id"),
                             "submit_ms": ev.get("Submission Time")})
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                st = stage((info["Stage ID"], info.get("Stage Attempt ID", 0)))
                st["group"] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                st["submit_ms"] = info.get("Submission Time") or st["submit_ms"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stage((info["Stage ID"], info.get("Stage Attempt ID", 0)))
                st["submit_ms"] = info.get("Submission Time") or st["submit_ms"]
            elif kind == "SparkListenerTaskEnd":
                st = stage((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                st["tasks"] += 1
                st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                st["gc_ms"] += tm.get("JVM GC Time", 0)
                st["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0)
                st["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0)
                                        + sw.get("Shuffle Bytes Written", 0))
                st["launches"].append(ev["Task Info"]["Launch Time"])
    for st in stages.values():
        if st["submit_ms"] is not None:
            st["wait_ms"] = sum(max(0, t - st["submit_ms"]) for t in st["launches"])
        del st["launches"]
    return jobs, stages


def _owner(group: str | None, submit_ms: float | None, spans: list[dict]) -> dict | None:
    """The span a job or stage belongs to: its job group if that names a
    span (a forced count's group too), else the innermost span holding its
    submission time."""
    for prefix in (_GROUP_PREFIX, _FORCE_PREFIX):
        if group and group.startswith(prefix):
            named = [s for s in spans if s["id"] == int(group[len(prefix):])]
            if named:
                return named[0]
    if submit_ms is None:
        return None
    t = submit_ms / 1000.0
    holding = [s for s in spans if s["start"] <= t <= s["end"]]
    return max(holding, key=lambda s: s["start"]) if holding else None


def layer_metrics(spans: list[dict], jobs: list[dict], stages: dict) -> dict:
    """``<layer>.<metric>`` for every layer. Work no span owns (the
    untraced iteration's) is dropped."""
    acc = {layer: dict.fromkeys((n for n, _ in LAYER_METRICS), 0.0) for layer in LAYERS}
    layer_of = {s["id"]: s["layer"] for s in spans}
    for sid, t in self_times(spans).items():
        acc[layer_of[sid]]["self_s"] += t
    for j in jobs:
        s = _owner(j["group"], j["submit_ms"], spans)
        if s:
            acc[s["layer"]]["jobs"] += 1
    for st in stages.values():
        s = _owner(st["group"], st["submit_ms"], spans)
        if s:
            a = acc[s["layer"]]
            a["tasks"] += st["tasks"]
            a["task_cpu_s"] += st["cpu_ns"] / 1e9
            a["wait_s"] += st["wait_ms"] / 1000.0
            a["shuffle_bytes"] += st["shuffle_bytes"]
            a["spill_bytes"] += st["spill_bytes"]
            a["gc_s"] += st["gc_ms"] / 1000.0
    units = dict(LAYER_METRICS)
    return {
        f"{layer}.{m}": {"value": v, "unit": units[m]}
        for layer, ms in acc.items() for m, v in ms.items()
    }


def job_counts(jobs: list[dict], start: float, end: float) -> dict:
    """Jobs submitted between ``start`` and ``end`` (epoch seconds): the
    program's own and the tracer's forced counts."""
    inside = [j for j in jobs if j["submit_ms"] is not None
              and start <= j["submit_ms"] / 1000.0 <= end]
    forced = sum(1 for j in inside if (j["group"] or "").startswith(_FORCE_PREFIX))
    return {"program": len(inside) - forced, "forced": forced}
