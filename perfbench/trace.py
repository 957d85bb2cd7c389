"""Outside-in tracing: spans around the benchmark's own calls into each
layer, and a reducer from the Spark event log to per-layer counters.

Every span runs its Spark jobs under its own job group, so the event
log charges each job, stage and task to the innermost open span.
Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

LAYERS = (
    "operators.parse",
    "operators.sessionize",
    "operators.events",
    "operators.attribution",
    "operators.ids",
    "operators.storage",
    "plans.adsb",
    "streaming",
    "datapipe.dedup",
    "datapipe.cluster",
    "datapipe.similarity",
)

COUNTERS = ("jobs", "tasks", "executor_cpu_s", "executor_run_s", "jvm_gc_s",
            "shuffle_read_b", "shuffle_write_b", "spill_b", "input_b",
            "output_b")


def layer_of(span_name: str) -> str | None:
    for layer in LAYERS:
        if span_name == layer or span_name.startswith(layer + "."):
            return layer
    return None


class Tracer:
    """Records spans (name, start, end, parent).  With ``spark`` given,
    each span also sets the thread's Spark job group to ``pb<span id>``
    and restores the parent's group when it closes."""

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "start": time.perf_counter() - self.t0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            self._set_group(parent)

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def self_time(self, sid: int) -> float:
        """Span duration minus the time its (sequential) children cover."""
        kids = sum(self.duration(s["id"]) for s in self.spans if s["parent"] == sid)
        return self.duration(sid) - kids

    def busy_s(self, prefix: str) -> float:
        """Summed self time of every span named ``prefix`` or below it."""
        return sum(
            self.self_time(s["id"]) for s in self.spans
            if s["name"] == prefix or s["name"].startswith(prefix + ".")
        )

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f, indent=1)


class NullTracer:
    """The same spans, recording nothing and setting no job group: runs
    a traced code path untraced."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield {"id": None, "name": name, **attrs}


def _event_log_files(log_dir: str) -> list[str]:
    return sorted(
        os.path.join(d, n) for d, _sub, names in os.walk(log_dir) for n in names
        if not n.startswith((".", "appstatus"))
    )


def reduce_event_log(log_dir: str) -> dict[str, dict]:
    """Counters per job group id from an uncompressed event log:
    ``{group: {jobs, tasks, executor_cpu_s, ...}}``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        return out.setdefault(group, dict.fromkeys(COUNTERS, 0))

    for path in _event_log_files(log_dir):
        with open(path) as f:
            for raw in f:
                ev = json.loads(raw)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or "-"
                    bucket(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    b = bucket(stage_group.get(ev.get("Stage ID"), "-"))
                    b["tasks"] += 1
                    b["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    b["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    b["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    b["shuffle_read_b"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                    b["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                    b["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    b["output_b"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
    return out


def per_layer_counters(tracer: Tracer, groups: dict[str, dict],
                       stream_groups: set[str] = frozenset()) -> dict[str, dict]:
    """Fold job-group counters onto layers: a ``pb<id>`` group belongs
    to its span's layer; the groups of streaming queries (their run
    ids) belong to ``streaming``."""
    layers = {layer: dict.fromkeys(COUNTERS, 0) for layer in LAYERS}
    for group, counters in groups.items():
        layer = None
        if group.startswith("pb") and group[2:].isdigit():
            layer = layer_of(tracer.spans[int(group[2:])]["name"])
        elif group in stream_groups:
            layer = "streaming"
        if layer is None:
            continue
        for k, v in counters.items():
            layers[layer][k] += v
    return layers


def group_counters(tracer: Tracer, groups: dict[str, dict], prefix: str) -> dict:
    """Counters of every span named ``prefix`` or below it."""
    total = dict.fromkeys(COUNTERS, 0)
    for s in tracer.spans:
        if s["name"] == prefix or s["name"].startswith(prefix + "."):
            for k, v in groups.get(f"pb{s['id']}", {}).items():
                total[k] += v
    return total
