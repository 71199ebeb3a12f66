"""Spans around the benchmark's calls into the engine, and the Spark
job/stage facts attributed to them after the run.

A span names the engine layer (module) a call goes into. Spans nest
(the client is single-threaded), so a layer's self time is its span
time minus the time of the spans opened inside it. Spark jobs are
attributed to the innermost span open at the job's submission time,
which also catches jobs that a streaming query submits from its own
thread while the client waits in the drain call. Stage metrics come
from the application status store, which Spark keeps with the UI
disabled.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager, nullcontext

LAYERS = (
    "session",
    "sources",
    "embedders",
    "collection",
    "functions",
    "operators.nearest",
    "operators.ann",
    "operators.bq",
    "operators.pq",
    "operators.search",
    "operators.fusion",
    "operators.dedup",
    "streaming",
    "action",
)
LAYER_FIELDS = (
    ("calls", "count", "lower"),
    ("self_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("exec_s", "s", "lower"),
    ("shuffle_bytes", "B", "lower"),
    ("spill_bytes", "B", "lower"),
)
EXTRA_METRICS = (
    ("action.core_util", "ratio", "higher"),
    ("action.core_s", "s", "lower"),
    ("action.failed_tasks", "count", "lower"),
    ("action.scan_rows_per_result", "ratio", "lower"),
    ("action.rows_returned", "rows", "higher"),
    ("action.shuffle_bytes_per_input_byte", "ratio", "lower"),
    ("action.input_bytes", "B", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.batch_p50_s", "s", "lower"),
    ("streaming.rows_per_batch", "rows", "higher"),
    ("streaming.state_rows", "rows", "lower"),
    ("trace.overhead_s", "s", "lower"),
)


def per_layer_metric_specs() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in print order."""
    out = [
        (f"{layer}.{f}", unit, better)
        for layer in LAYERS
        for f, unit, better in LAYER_FIELDS
    ]
    return out + list(EXTRA_METRICS)


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch
    per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request = None

    def span(self, layer: str):
        if not self.enabled:
            return nullcontext()
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        return self._span(layer)

    @contextmanager
    def _span(self, layer: str):
        idx = len(self.spans)
        rec = {
            "name": layer,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "jobs": [],
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


def _opt_time_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


def read_jobs(spark, since_ms: float) -> list[dict]:
    """Jobs (with their stages' metrics) submitted at or after
    ``since_ms`` (epoch ms), from the status store."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    gw = spark.sparkContext._gateway
    stages = {}
    it = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None).iterator()
    while it.hasNext():
        s = it.next()
        key = int(s.stageId())
        st = stages.setdefault(key, {
            "tasks": 0, "failed_tasks": 0, "exec_ms": 0, "shuffle_bytes": 0,
            "spill_bytes": 0, "input_bytes": 0, "input_rows": 0,
        })
        if s.status().toString() == "SKIPPED":
            continue
        st["tasks"] += int(s.numCompleteTasks()) + int(s.numFailedTasks())
        st["failed_tasks"] += int(s.numFailedTasks())
        st["exec_ms"] += int(s.executorRunTime())
        st["shuffle_bytes"] += int(s.shuffleWriteBytes())
        st["spill_bytes"] += int(s.diskBytesSpilled())
        st["input_bytes"] += int(s.inputBytes())
        st["input_rows"] += int(s.inputRecords())
    raw = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        sids = j.stageIds().iterator()
        ids = []
        while sids.hasNext():
            ids.append(int(sids.next()))
        raw.append((int(j.jobId()), _opt_time_ms(j.submissionTime()), ids))
    # a stage a later job reuses shows up in that job's stage list too
    # (as skipped); count its metrics once, for the first job
    raw.sort()
    seen: set[int] = set()
    jobs = []
    for jid, sub, ids in raw:
        rec = {"job_id": jid, "submitted_ms": sub,
               "tasks": 0, "failed_tasks": 0, "exec_ms": 0, "shuffle_bytes": 0,
               "spill_bytes": 0, "input_bytes": 0, "input_rows": 0}
        for sid in ids:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            for k, v in stages[sid].items():
                rec[k] += v
        if sub is not None and sub >= since_ms:
            jobs.append(rec)
    return jobs


def attribute(spans: list[dict], jobs: list[dict]) -> int:
    """Attach each job to the innermost span open at its submission
    time; returns the number of jobs no span covers."""
    orphans = 0
    for job in jobs:
        t = job["submitted_ms"] / 1000.0
        best = None
        for i, s in enumerate(spans):
            # millisecond submission stamps: allow the stamp's rounding
            if s["start"] - 0.001 <= t <= s["end"] + 0.001:
                if best is None or s["start"] >= spans[best]["start"]:
                    best = i
        if best is None:
            orphans += 1
        else:
            spans[best]["jobs"].append(job["job_id"])
    return orphans


def rollup(spans: list[dict], jobs: list[dict], cores: int, rows_returned: int,
           stream_progress: list[dict]) -> dict:
    """Per-layer metrics from attributed spans."""
    by_id = {j["job_id"]: j for j in jobs}
    child_time = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    acc = {layer: {f: 0 for f, _, _ in LAYER_FIELDS} for layer in LAYERS}
    action_wall = 0.0
    action_inputs = {"rows": 0, "bytes": 0, "failed": 0}
    for i, s in enumerate(spans):
        a = acc[s["name"]]
        a["calls"] += 1
        a["self_s"] += (s["end"] - s["start"]) - child_time[i]
        for jid in s["jobs"]:
            j = by_id[jid]
            a["jobs"] += 1
            a["tasks"] += j["tasks"]
            a["exec_s"] += j["exec_ms"] / 1000.0
            a["shuffle_bytes"] += j["shuffle_bytes"]
            a["spill_bytes"] += j["spill_bytes"]
            if s["name"] == "action":
                action_inputs["rows"] += j["input_rows"]
                action_inputs["bytes"] += j["input_bytes"]
                action_inputs["failed"] += j["failed_tasks"]
        if s["name"] == "action":
            action_wall += s["end"] - s["start"]
    out = {f"{layer}.{f}": v for layer, fields in acc.items() for f, v in fields.items()}
    core_s = action_wall * cores
    out["action.core_util"] = acc["action"]["exec_s"] / core_s if core_s else 0.0
    out["action.core_s"] = core_s
    out["action.failed_tasks"] = action_inputs["failed"]
    out["action.rows_returned"] = rows_returned
    out["action.scan_rows_per_result"] = (
        action_inputs["rows"] / rows_returned if rows_returned else 0.0
    )
    out["action.input_bytes"] = action_inputs["bytes"]
    out["action.shuffle_bytes_per_input_byte"] = (
        acc["action"]["shuffle_bytes"] / action_inputs["bytes"]
        if action_inputs["bytes"] else 0.0
    )
    out.update(stream_rollup(stream_progress))
    return out


def stream_rollup(progress: list[dict]) -> dict:
    batches = [p for p in progress if p["rows"] > 0]
    return {
        "streaming.batches": len(batches),
        "streaming.batch_p50_s": (
            statistics.median(p["duration_s"] for p in batches) if batches else 0.0
        ),
        "streaming.rows_per_batch": (
            sum(p["rows"] for p in batches) / len(batches) if batches else 0.0
        ),
        "streaming.state_rows": max((p["state_rows"] for p in batches), default=0),
    }


def stream_listener(sink: list):
    """A ``StreamingQueryListener`` that appends one record per
    micro-batch progress event to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({
                "t": time.time(),
                "query": p.name,
                "batch": p.batchId,
                "rows": int(p.numInputRows),
                "duration_s": p.durationMs.get("triggerExecution", 0) / 1000.0,
                "state_rows": sum(int(o.numRowsTotal) for o in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
