"""In-memory spans around calls into the engine's layers.

A span records ``name``, ``start``/``end`` (``time.perf_counter``
seconds), the index of its ``parent`` span and the ``op`` id shared by
every span of one benchmark operation.  When a span closes, the stages
Spark finished since the previous close are read from Spark's own
status store and their counters attached to it, so the innermost span
around a layer call owns the stages that call launched.

Spans are recorded only when tracing is on; with tracing off every
method is a cheap no-op, so the same workload code runs in both modes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict

#: StageData accessor → counter name, summed over COMPLETE/FAILED stages
_STAGE_FIELDS = {
    "numCompleteTasks": "tasks",
    "numFailedTasks": "tasks_failed",
    "executorRunTime": "task_busy_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "outputBytes": "output_bytes",
    "shuffleWriteBytes": "shuffle_bytes",
    "memoryBytesSpilled": "spill_bytes",
}


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op = 0
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._store = None
        self._bus = None
        self._gateway = None
        self._seen_stage = -1
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ wiring

    def attach(self, spark) -> None:
        """Point the tracer at the session's status store; stages that
        already ran are not attributed to any later span."""
        if not self.enabled:
            return
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._gateway = sc._gateway
        self._seen_stage = self._latest_stage_id()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper (undone
        by ``unwrap_all``)."""
        if not self.enabled:
            return
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((module, attr, original))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, original = self._patched.pop()
            setattr(module, attr, original)

    # ------------------------------------------------------------- spans

    def new_op(self) -> None:
        self.op += 1

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span; keys the body adds to the yielded dict are
        stored with it."""
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["counters"] = self.stage_counters()

    def stage_counters(self) -> dict[str, int]:
        """Sum the counters of stages finished since the last call."""
        if not self.enabled or self._store is None:
            return {}
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        stages = self._stage_list()
        out: dict[str, int] = defaultdict(int)
        newest = self._seen_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._seen_stage:
                break
            newest = max(newest, sid)
            if s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            out["stages"] += 1
            for field, key in _STAGE_FIELDS.items():
                out[key] += int(getattr(s, field)())
        self._seen_stage = newest
        self.bookkeeping_s += time.perf_counter() - t0
        return dict(out)

    def latest_job_id(self) -> int:
        if not self.enabled or self._store is None:
            return -1
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _stage_list(self):
        """Every retained stage, newest first (AppStatusStore.stageList:
        all statuses, no details, no summaries)."""
        return self._store.stageList(
            None, False, False, self._gateway.new_array(
                self._gateway.jvm.double, 0),
            self._gateway.jvm.java.util.ArrayList())

    def _latest_stage_id(self) -> int:
        stages = self._stage_list()
        return stages.apply(0).stageId() if stages.size() else -1

    # ----------------------------------------------------------- reports

    def durations(self, name: str, op_from: int = 1) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["op"] >= op_from]

    def subtree_counter(self, span: dict, key: str) -> int:
        """``key`` summed over ``span`` and every span nested in it."""
        inside = {span["id"]}
        total = span["counters"].get(key, 0)
        for s in self.spans[span["id"] + 1:]:
            if s["parent"] in inside:
                inside.add(s["id"])
                total += s["counters"].get(key, 0)
        return total

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part of it its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(),
                       "bookkeeping_s": self.bookkeeping_s}, f)
