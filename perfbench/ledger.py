"""Per-span work ledger: wall and self time plus Spark engine counters.

A span wraps one call into the package.  While it is open, every Spark job
the call issues carries the span's own job group (``setJobGroup``), so after
the call the job ids come back through ``statusTracker().getJobIdsForGroup``
and each stage's counters through the JVM ``statusStore().lastStageAttempt``.
Both work with ``spark.ui.enabled=false``.  Stages that were skipped (their
shuffle output was reused) are left out.

A span's *self* time is its duration minus its children's; its counters are
the jobs of its own group only, so self figures add up to the run's total
without double counting.

``spark.input_bytes`` counts file scans only: reads from ``localCheckpoint``
blocks and cached data carry no input metric.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import sys
import time
from dataclasses import dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "stage_retries",
    "executor_run_ms", "executor_cpu_ns", "input_bytes", "output_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "shuffle_write_records",
    "spill_bytes",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    child_s: float = 0.0
    group: str | None = None
    sc: object = None
    extra_groups: list[str] = field(default_factory=list)
    counters: dict[str, int] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    # [start_ms, end_ms] of every stage the span's own jobs ran
    stage_windows: list[tuple[int, int]] = field(default_factory=list)
    children: list[Span] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s

    def inclusive(self, key: str) -> int:
        return self.counters[key] + sum(c.inclusive(key) for c in self.children)

    def all_windows(self) -> list[tuple[int, int]]:
        out = list(self.stage_windows)
        for c in self.children:
            out.extend(c.all_windows())
        return out


def _active_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Ledger:
    """Records spans in memory; counters are read when a top-level span
    closes, after Spark's listener bus has caught up."""

    def __init__(self) -> None:
        self.roots: list[Span] = []
        self.paused = False
        self.overhead_s = 0.0
        # perf_counter -> epoch seconds, to line spans up with stage times
        self.epoch = time.time() - time.perf_counter()
        # spans open and close one at a time: while a stream's foreachBatch
        # runs on the stream thread, the main thread waits for the stream
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str):
        if self.paused:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0)
        sc = _active_sc()
        if sc is not None:
            sp.group, sp.sc = f"perfbench-{next(self._ids)}", sc
            sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.end = t1
            self._stack.pop()
            sc = _active_sc()
            if sc is not None:
                if parent is not None and parent.group and parent.sc is sc:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc._jsc.clearJobGroup()
            if parent is None:
                self.roots.append(sp)
                self._resolve(sp)
            else:
                parent.child_s += sp.wall_s
                parent.children.append(sp)
            self.overhead_s += time.perf_counter() - t1

    @contextlib.contextmanager
    def pause(self):
        prev, self.paused = self.paused, True
        try:
            yield
        finally:
            self.paused = prev

    def _resolve(self, root: Span) -> None:
        sc = _active_sc()
        if sc is None:
            return
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        stack = [root]
        while stack:
            sp = stack.pop()
            stack.extend(sp.children)
            if sp.sc is sc:
                collect_counters(sp)


def collect_counters(sp: Span) -> None:
    """Fill ``sp.counters`` from the jobs of the span's job group(s)."""
    sc = sp.sc
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    c = sp.counters
    for group in [sp.group, *sp.extra_groups]:
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            c["jobs"] += 1
            for stage_id in info.stageIds:
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Exception:  # evicted or never-run stage: no record
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["failed_tasks"] += sd.numFailedTasks()
                c["stage_retries"] += 1 if sd.attemptId() > 0 else 0
                c["executor_run_ms"] += sd.executorRunTime()
                c["executor_cpu_ns"] += sd.executorCpuTime()
                c["input_bytes"] += sd.inputBytes()
                c["output_bytes"] += sd.outputBytes()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["shuffle_write_records"] += sd.shuffleWriteRecords()
                c["spill_bytes"] += sd.diskBytesSpilled()
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    sp.stage_windows.append((sub.get().getTime(), done.get().getTime()))


def busy_s(windows: list[tuple[int, int]], lo_s: float, hi_s: float) -> float:
    """Seconds of [lo_s, hi_s] (epoch seconds) covered by any window."""
    iv = sorted((max(a / 1e3, lo_s), min(b / 1e3, hi_s)) for a, b in windows)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# Package functions the traced run wraps, as (module, attribute, span name).
# Span names are ``<layer>.<what>``; the layer is the package module.
TRACED = (
    ("datawarehouse_code_spark.session", "get_spark", "session.get_spark"),
    ("datawarehouse_code_spark.sources.catalog", "read_table", "sources.read_table"),
    ("datawarehouse_code_spark.sources.acid", "_staged_overwrite", "sources.write"),
    ("datawarehouse_code_spark.sources.bucketed", "upsert_auto", "sources.write"),
    ("datawarehouse_code_spark.sources.bucketed", "replace_keyed_auto", "sources.write"),
    ("datawarehouse_code_spark.operators.fact", "write_fact", "operators.write_fact"),
    ("datawarehouse_code_spark.operators.cube", "write_cube", "operators.write_cube"),
    ("datawarehouse_code_spark.operators.cube", "incremental_cube", "operators.incremental_cube"),
    ("datawarehouse_code_spark.operators.dimensions", "insert_if_not_exists",
     "operators.insert_if_not_exists"),
    ("datawarehouse_code_spark.operators.dimensions", "insert_if_not_exists_report",
     "operators.insert_if_not_exists"),
    ("datawarehouse_code_spark.operators.text", "content_defined_chunks",
     "operators.content_defined_chunks"),
    ("datawarehouse_code_spark.pipeline", "build_warehouse", "pipeline.build_warehouse"),
    ("datawarehouse_code_spark.pipeline", "run_pipeline", "pipeline.run_pipeline"),
    ("datawarehouse_code_spark.pipeline", "run_pipeline_incremental",
     "pipeline.run_pipeline_incremental"),
    ("datawarehouse_code_spark.streaming.jobs", "_chunk_gate_rejects", "streaming.gate"),
    ("datawarehouse_code_spark.streaming.jobs", "run_cdc_gated_ingest", "streaming.ingest"),
)


def install(ledger: Ledger) -> None:
    """Wrap every ``TRACED`` function in a span, in every loaded package
    module that holds a reference to it (``from x import f`` copies)."""
    originals = [getattr(importlib.import_module(m), attr) for m, attr, _ in TRACED]
    wrappers = {id(fn): _wrap(ledger, fn, name) for fn, (_, _, name) in zip(originals, TRACED)}
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("datawarehouse_code_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in wrappers:
                setattr(mod, attr, wrappers[id(val)])


def _wrap(ledger: Ledger, fn, span_name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with ledger.span(span_name):
            return fn(*args, **kwargs)

    return traced
