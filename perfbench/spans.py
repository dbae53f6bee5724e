"""Spans around the calls into each layer, and the layer numbers read from
Spark's public progress records and its local UI REST API.

A span is (name, start, end, parent, trace id). The benchmark opens spans
only in its own files; the micro-batch spans are rebuilt afterwards from
each batch's progress record. Spans stay in memory and are written once,
at the end, together with each layer's self time: a span's duration minus
the part of it that its children cover.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import statistics
import time
import urllib.request

#: order in which a micro-batch spends the phases of its ``durationMs``
_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
_PHASE_LAYER = {
    "latestOffset": "sources.latestOffset",
    "getBatch": "sources.getBatch",
    "walCommit": "engine.walCommit",
    "queryPlanning": "engine.queryPlanning",
    "addBatch": "engine.addBatch",
    "commitOffsets": "engine.commitOffsets",
}


class Tracer:
    """Collects spans when enabled; otherwise every call is a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.progress: list[dict] = []  # the progress records spans were rebuilt from
        self.cost_s = 0.0  # time spent inside the tracer itself

    def span(self, name, start, end, parent=None, trace=None) -> int | None:
        if not self.enabled:
            return None
        t = time.perf_counter()
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "trace": trace}
        )
        self.cost_s += time.perf_counter() - t
        return len(self.spans) - 1

    @contextlib.contextmanager
    def timed(self, name, parent=None, trace=None):
        """Span around a block; yields the span id so children can nest."""
        if not self.enabled:
            yield None
            return
        sid = self.span(name, time.time(), None, parent, trace)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def add_batches(self, progress: list[dict], parent=None, label="") -> dict[int, int]:
        """Rebuild one span per micro-batch, with its phases as children
        laid end to end, and the batch's sink callback under its addBatch.
        Returns batchId -> span id."""
        if not self.enabled:
            return {}
        t = time.perf_counter()
        self.progress.extend(progress)
        ids, add_batch = {}, {}
        for p in progress:
            start = epoch(p["timestamp"])
            dur = p.get("durationMs", {})
            trace = f"{label}batch-{p['batchId']}"
            sid = self.span("engine.batch", start, start + dur.get("triggerExecution", 0) / 1e3,
                            parent, trace)
            ids[p["batchId"]] = sid
            at = start
            for phase in _PHASES:
                if phase in dur:
                    pid = self.span(_PHASE_LAYER[phase], at, at + dur[phase] / 1e3, sid, trace)
                    if phase == "addBatch":
                        add_batch[trace] = pid
                    at += dur[phase] / 1e3
        # the sink runs inside its batch's addBatch phase
        for s in self.spans:
            if s["name"] == "sink.callback" and s["parent"] is None and s["trace"] in add_batch:
                s["parent"] = add_batch[s["trace"]]
        self.cost_s += time.perf_counter() - t
        return ids

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = (s["end"] or s["start"]) - s["start"]
            covered = _union([(k["start"], k["end"] or k["start"]) for k in kids.get(s["id"], [])],
                             s["start"], s["start"] + dur)
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out

    def dump(self, path: str, context: dict) -> None:
        with open(path, "w") as f:
            json.dump({"context": context, "self_times": self.self_times(), "spans": self.spans,
                       "progress": self.progress}, f)


def _union(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def progress_of(query) -> list[dict]:
    """The query's retained progress records, as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def p50(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def engine_layers(progress: list[dict]) -> dict[str, float]:
    """Source, engine, state-operator and state-store numbers, as medians
    over the batches that read input (a timer-only batch has other costs)."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0] or progress
    dur = [p.get("durationMs", {}) for p in data]
    ops = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    cm = [o.get("customMetrics", {}) for o in ops]
    return {
        "sources.offsets_ms": p50([d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur]),
        "engine.batches": float(len(progress)),
        "engine.batch_ms": p50([d.get("triggerExecution", 0) for d in dur]),
        "engine.add_batch_ms": p50([d.get("addBatch", 0) for d in dur]),
        "engine.plan_ms": p50([d.get("queryPlanning", 0) for d in dur]),
        "engine.log_ms": p50([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]),
        "engine.rows_per_batch": p50([p.get("numInputRows", 0) for p in data]),
        "state_op.update_ms": p50([o.get("allUpdatesTimeMs", 0) for o in ops]),
        "state_op.timeout_ms": p50([o.get("allRemovalsTimeMs", 0) for o in ops]),
        "state_op.keys_updated": p50([o.get("numRowsUpdated", 0) for o in ops]),
        "state_op.rows_in": p50([p.get("numInputRows", 0) for p in data]),
        "state.commit_ms": p50([o.get("commitTimeMs", 0) for o in ops]),
        "state.fsync_ms": p50([c.get("rocksdbCommitFileSyncLatencyMs", 0) for c in cm]),
        "state.zip_ms": p50([c.get("rocksdbSaveZipFilesLatencyMs", 0) for c in cm]),
        "state.rows_total": p50([o.get("numRowsTotal", 0) for o in ops]),
        "state.memory_bytes": p50([o.get("memoryUsedBytes", 0) for o in ops]),
        "state.sst_bytes": p50([c.get("rocksdbSstFileSize", 0) for c in cm]),
    }


def stage_layers(spark, since: float, until: float, batches: int) -> dict[str, float]:
    """Executor numbers of the stages submitted in [since, until], per data
    batch, from the local UI REST API (``executorCpuTime`` is in ns there)."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]  # the UI listens on every interface
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as resp:
        stages = json.load(resp)
    picked = [
        s for s in stages
        if since <= epoch(s["submissionTime"].replace("GMT", "+00:00")) <= until
    ]
    n = max(batches, 1)

    def total(key: str) -> float:
        return sum(s.get(key, 0) for s in picked)

    return {
        "executor.tasks_per_batch": total("numCompleteTasks") / n,
        "executor.run_ms_per_batch": total("executorRunTime") / n,
        "executor.cpu_ms_per_batch": total("executorCpuTime") / 1e6 / n,
        "executor.gc_ms_per_batch": total("jvmGcTime") / n,
        "executor.shuffle_bytes_per_batch": (total("shuffleReadBytes") + total("shuffleWriteBytes")) / n,
    }
