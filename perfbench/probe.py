"""Spans and Spark execution metrics, measured from outside the engine.

Every call the benchmark makes into an engine layer runs under its own
Spark job group. After the call (traced runs) or after the enclosing
pass/day (untraced runs, outside the timed region) the probe reads the
jobs of that group and their stages from the status store, so each call
carries the stage-level numbers of the work it caused.

Spans (name, layer, start, end, parent, op id) stay in memory until the
run ends; ``run.py`` writes them out on one line before the result.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Per-call Spark counters, summed over the call's completed stages.
SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    op_id: int
    layer: str
    name: str
    scope: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    spark: dict | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Probe:
    """Records spans and scopes Spark jobs to them by job group.

    ``trace`` selects when stage metrics are read: right after each call
    (and counted as tracing overhead), or in one batch at ``settle()``.
    """

    spark: object
    trace: bool
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0
    _stack: list[Span] = field(default_factory=list)
    _pending: list[Span] = field(default_factory=list)
    _seen_stages: set = field(default_factory=set)

    def __post_init__(self) -> None:
        sc = self.spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = sc.statusTracker()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _open(self, layer: str, name: str, scope: str, group: bool) -> Span:
        parent = self._stack[-1].op_id if self._stack else None
        span = Span(len(self.spans) + 1, layer, name, scope, parent, time.perf_counter())
        if group:
            span.group = f"perfbench-{span.op_id}"
            self._sc.setJobGroup(span.group, f"{layer}:{name}")
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        if span.group is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._pending.append(span)
            if self.trace:
                t0 = time.perf_counter()
                self.settle()
                self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def span(self, layer: str, name: str, scope: str = ""):
        """A grouping span (a pass, a day, a phase): timed, no job group."""
        s = self._open(layer, name, scope, group=False)
        try:
            yield s
        finally:
            self._close(s)

    @contextmanager
    def call(self, layer: str, name: str, scope: str = ""):
        """One call into an engine layer, under its own job group (calls
        do not nest)."""
        s = self._open(layer, name, scope, group=True)
        try:
            yield s
        finally:
            self._close(s)

    def settle(self) -> None:
        """Attach stage metrics to every call closed since the last settle."""
        if not self._pending:
            return
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        for span in self._pending:
            span.spark = self._read_group(span.group)
        self._pending.clear()

    def bill_group(self, span: Span, group: str) -> None:
        """Add the jobs of another job group to a settled call: work the
        call caused on a thread that set its own group (a stream's
        micro-batches run under the query's run id)."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        for k, v in self._read_group(group).items():
            span.spark[k] += v

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def _read_group(self, group: str) -> dict:
        out = dict.fromkeys(SPARK_KEYS, 0)
        job_ids = list(self._tracker.getJobIdsForGroup(group))
        out["jobs"] = len(job_ids)
        stage_ids: set[int] = set()
        for jid in job_ids:
            stage_ids.update(self._json(self._store.job(jid))["stageIds"])
        # a reused shuffle stage is listed by every job that depends on it;
        # only the call that first ran it is billed for it
        for sid in sorted(stage_ids - self._seen_stages):
            st = self._json(self._store.lastStageAttempt(sid))
            if st["status"] not in ("COMPLETE", "FAILED"):
                continue
            self._seen_stages.add(sid)
            out["stages"] += 1
            out["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            out["executor_run_s"] += st["executorRunTime"] / 1e3
            out["executor_cpu_s"] += st["executorCpuTime"] / 1e9
            out["input_bytes"] += st["inputBytes"]
            out["shuffle_read_bytes"] += st["shuffleReadBytes"]
            out["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            out["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        return out

    def calls(self, within: Span | None = None, **match) -> list[Span]:
        """Closed calls, optionally only descendants of ``within`` and
        matching attribute values (``layer=``, ``scope=``, ``name=``)."""
        ids = None
        if within is not None:
            ids = {within.op_id}
            for s in self.spans:  # spans are in open order: parents first
                if s.parent in ids:
                    ids.add(s.op_id)
        return [
            s for s in self.spans
            if s.group is not None and s.end
            and (ids is None or s.op_id in ids)
            and all(getattr(s, k) == v for k, v in match.items())
        ]

    def spark_totals(self, calls: list[Span], slots: int) -> dict:
        """Sum of the calls' Spark counters, plus the share of the slots
        their executors kept busy over the calls' wall time."""
        self.settle()
        tot = dict.fromkeys(SPARK_KEYS, 0)
        for s in calls:
            for k in SPARK_KEYS:
                tot[k] += s.spark[k]
        wall = sum(s.seconds for s in calls)
        tot["slot_busy_frac"] = tot["executor_run_s"] / (wall * slots) if wall else 0.0
        return tot

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the time its
        child spans cover, summed by layer."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.seconds
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.seconds - child.get(s.op_id, 0.0)
        return out

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "id": s.op_id, "parent": s.parent, "layer": s.layer, "name": s.name,
                "scope": s.scope, "start": round(s.start - t0, 6),
                "end": round(s.end - t0, 6),
                **({"spark": s.spark} if s.spark else {}),
            }
            for s in self.spans
        ]
