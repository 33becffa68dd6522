"""Tracing used only by ``--trace 1`` runs.

Spans are recorded from the benchmark side, around public calls into
the program's layers; they stay in memory and are written out when the
run ends.  Spark's own counters come from its status store (jobs,
stages, tasks, executor time, shuffle, spill, output), from each
``QueryExecution``'s phase tracker (Catalyst) and from streaming query
progress events.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from typing import Any

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
    "shuffle_bytes", "spill_bytes", "output_bytes", "input_records",
)


class Spans:
    """In-memory span log: (name, start, end, parent index, op id)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: Any = None
        self.enabled = True

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def self_times(self) -> dict[Any, dict[str, float]]:
        """{op: {span name: summed self time in ms}}; self time is a
        span's duration minus the part covered by its children."""
        child_s = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[Any, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            own = (s["end"] - s["start"]) - child_s[i]
            out[s["op"]][s["name"]] += own * 1000.0
        return out

    def totals(self) -> dict[Any, dict[str, float]]:
        """{op: {span name: summed inclusive duration in ms}}."""
        out: dict[Any, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            out[s["op"]][s["name"]] += (s["end"] - s["start"]) * 1000.0
        return out


class _SpanCtx:
    def __init__(self, log: Spans, name: str) -> None:
        self.log, self.name = log, name

    def __enter__(self):
        log = self.log
        self.idx = len(log.spans)
        log.spans.append({
            "name": self.name, "start": time.perf_counter(), "end": None,
            "parent": log._stack[-1] if log._stack else None, "op": log.op,
        })
        log._stack.append(self.idx)
        return self

    def __exit__(self, *exc) -> None:
        self.log.spans[self.idx]["end"] = time.perf_counter()
        self.log._stack.pop()


# -- Spark status store ----------------------------------------------------


def next_job_id(sc) -> int:
    """Id the next submitted job will get (job ids are sequential)."""
    v = sc._jsc.sc().dagScheduler().nextJobId()
    return int(v.get()) if hasattr(v, "get") else int(v)


def drain_listener_bus(sc, timeout_ms: int = 10_000) -> None:
    """Wait until the status store has seen every posted event."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def job_counters(sc, job_ids) -> dict[str, float]:
    """Summed stage counters over ``job_ids``; a stage shared by several
    jobs is counted once, skipped stages count no tasks."""
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    seen: set[int] = set()
    for jid in job_ids:
        try:
            it = store.job(int(jid)).stageIds().iterator()
        except Exception:  # noqa: BLE001 — job evicted from the store
            continue
        out["jobs"] += 1
        while it.hasNext():
            sid = int(it.next())
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage never ran
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_ms"] += sd.executorRunTime()
            out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["output_bytes"] += sd.outputBytes()
            out["input_records"] += sd.inputRecords()
    return out


def catalyst_ms(jdf) -> float:
    """Analysis + optimization + planning time of one QueryExecution."""
    phases = jdf.queryExecution().tracker().phases()
    return float(sum(
        phases.apply(p).durationMs()
        for p in ("analysis", "optimization", "planning")
        if phases.contains(p)
    ))


def progress_listener(events: list):
    """A StreamingQueryListener appending every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            events.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def progress_epoch(progress) -> float:
    """Trigger start of a progress event, in epoch seconds."""
    from datetime import datetime

    return datetime.fromisoformat(progress.timestamp.replace("Z", "+00:00")).timestamp()


def stream_counters(progresses) -> dict[str, float]:
    """Micro-batch count, query planning and state commit time."""
    out = {"batches": 0.0, "planning_ms": 0.0, "commit_ms": 0.0}
    for p in progresses:
        out["batches"] += 1
        out["planning_ms"] += float((p.durationMs or {}).get("queryPlanning", 0))
        out["commit_ms"] += float(sum(s.commitTimeMs for s in p.stateOperators))
    return out
