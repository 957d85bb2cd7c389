"""Streaming ingest: an open-loop file generator feeding the engine's
streaming pipeline, then a drain of a pre-staged backlog.

The generator drops the capture as files into the directory that
``streaming.pipeline.start_pipeline(file_stream(...))`` tails, on a
fixed msg/s schedule that does not slow when the engine does.  A file's
latency runs from when it was due to the end of the sink call of the
micro-batch that read it (the file-to-batch map comes from the file
source's own log in the checkpoint).
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

# paced phase: offered rate, length and lines per dropped file
RATE = 2000
PACED_S = 6.0
FILE_LINES = 1000
# the longest wait for the warm-up batch, and for the drain
TIMEOUT_S = 90.0


class CountingSink:
    """foreachBatch sink: counts landings/takeoffs per runway and times
    each call."""

    def __init__(self):
        self.counts: dict[str, int] = {}
        self.calls: dict[int, tuple[float, float]] = {}  # epoch -> (start, end) wall
        self._lock = threading.Lock()

    def __call__(self, batch_df, epoch_id: int) -> None:
        t0 = time.time()
        rows = batch_df.groupBy("kind", "runway").count().collect()
        with self._lock:
            for r in rows:
                if r["kind"] in ("landing", "takeoff"):
                    key = f"{r['kind']}:{r['runway']}"
                    self.counts[key] = self.counts.get(key, 0) + r["count"]
            self.calls[epoch_id] = (t0, time.time())


def _write_file(stage: str, drop: str, name: str, lines: list[str]) -> None:
    tmp = os.path.join(stage, name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(drop, name))


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log."""
    log = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log):
        return out
    for name in os.listdir(log):
        if not name.isdigit():
            continue
        with open(os.path.join(log, name)) as f:
            for raw in f:
                raw = raw.strip()
                if raw.startswith("{"):
                    entry = json.loads(raw)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _processed(query) -> int:
    return sum(p.get("numInputRows", 0) for p in _progress(query))


def run_stream(spark, work: str, lines: list[str], dims: dict) -> dict:
    """Paced phase at ``RATE`` msg/s for ``PACED_S`` seconds, then the
    rest of ``lines`` as a backlog.  Returns counts, timings and the
    query's progress list."""
    from dump1090_postgis_spark.sources.sbs1 import file_stream
    from dump1090_postgis_spark.streaming.pipeline import start_pipeline

    drop, stage, ckpt = (os.path.join(work, d) for d in ("in", "stage", "ckpt"))
    for d in (drop, stage):
        os.makedirs(d, exist_ok=True)
    sink = CountingSink()
    query = start_pipeline(file_stream(spark, drop), sink, ckpt,
                           runways=dims["runways"], airport_bbox=dims["airport"])
    due: dict[str, float] = {}
    exc = None
    try:
        # warm-up: the first micro-batch plans the query and starts the
        # state store; the paced phase starts once it has committed
        sent = min(len(lines), FILE_LINES // 2)
        _write_file(stage, drop, "f00000.txt", lines[:sent])
        deadline = time.time() + TIMEOUT_S
        while _processed(query) < sent and query.isActive and time.time() < deadline:
            time.sleep(0.05)
        warm_n = sent
        paced_n = min(len(lines), sent + int(RATE * PACED_S))
        t_start = time.time()
        k = 1
        while sent < paced_n:
            t_due = t_start + (sent - warm_n) / RATE
            delay = t_due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = f"f{k:05d}.txt"
            chunk = lines[sent:min(paced_n, sent + FILE_LINES)]
            _write_file(stage, drop, name, chunk)
            due[name] = t_due
            sent += len(chunk)
            k += 1
        lag_s = time.time() - (t_start + (paced_n - warm_n) / RATE)
        # drain: the rest arrives at once; the paced lines not yet
        # processed are part of the work the drain window does
        t_drain = time.time()
        processed_at_drain = _processed(query)
        while sent < len(lines):
            name = f"f{k:05d}.txt"
            chunk = lines[sent:sent + FILE_LINES * 4]
            _write_file(stage, drop, name, chunk)
            due[name] = t_drain
            sent += len(chunk)
            k += 1
        deadline = time.time() + TIMEOUT_S
        while _processed(query) < len(lines) and query.isActive \
                and time.time() < deadline:
            time.sleep(0.05)
        t_drained = time.time()
        drained = _processed(query) >= len(lines)
        # one timer-only batch after the drain shows the empty-batch cost
        n_prog = len(_progress(query))
        while query.isActive and time.time() < t_drained + 8 and \
                len(_progress(query)) <= n_prog:
            time.sleep(0.05)
    finally:
        progress = _progress(query)
        run_id = str(query.runId)
        query.stop()
        exc = query.exception()
    batch_of = _file_batches(ckpt)
    latency = []
    for name, t_due in due.items():
        b = batch_of.get(name)
        if b is not None and b in sink.calls and t_due < t_drain:
            latency.append(sink.calls[b][1] - t_due)
    processed_at_end = processed_at_drain - warm_n
    return {
        "counts": sink.counts,
        "sink_calls": sink.calls,
        "progress": progress,
        "run_id": run_id,
        "offered": paced_n - warm_n,
        "processed_at_end": processed_at_end,
        "keepup_ratio": processed_at_end / max(1, paced_n - warm_n),
        "generator_lag_s": lag_s,
        "latency_s": latency,
        "drained": drained,
        "drain_msgs_per_s": (len(lines) - processed_at_drain)
        / max(1e-9, t_drained - t_drain),
        "exception": None if exc is None else str(exc)[:500],
    }


def progress_metrics(result: dict) -> dict:
    """Per-layer numbers from the engine's own progress reports."""
    prog = result["progress"]
    data = [p for p in prog if p.get("numInputRows", 0) > 0]
    empty = [p for p in prog if p.get("numInputRows", 0) == 0]

    def med(ps, key):
        vals = [p.get("durationMs", {}).get(key, 0) for p in ps]
        return statistics.median(vals) if vals else 0

    last_state = (prog[-1].get("stateOperators") or []) if prog else []
    sink_ms = [(e - s) * 1000 for s, e in result["sink_calls"].values()]
    return {
        "add_batch_ms": med(data, "addBatch"),
        "query_planning_ms": med(data, "queryPlanning"),
        "wal_commit_ms": med(data, "walCommit"),
        "latest_offset_ms": med(data, "latestOffset"),
        "batches": len(prog),
        "empty_batch_ms": med(empty, "triggerExecution"),
        "state_rows": sum(o.get("numRowsTotal", 0) for o in last_state),
        "state_memory_b": sum(o.get("memoryUsedBytes", 0) for o in last_state),
        "sink_ms": statistics.median(sink_ms) if sink_ms else 0,
    }
