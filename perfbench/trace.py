"""Spans around calls into the engine's layers, and offline stage metrics.

A span records name, start, end, parent and run id. Spans stay in memory
and are written out when the run ends. While a span is open the Spark
job description is set to its name, so every Spark job (and its stages
and tasks) in the event log can be attributed to the innermost layer
that launched it, after the run and without editing the engine.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children[i], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append(s.duration - covered)
    return out


class Tracer:
    """Span recorder. ``enabled`` is toggled per measured pass so one
    traced run also measures its own overhead; a disabled tracer
    records nothing and leaves the job description alone."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self.enabled = False
        self.sc = None  # set when a SparkContext exists
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        self._describe(name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self._describe(self.spans[parent].name if parent is not None else None)

    def _describe(self, name: str | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(name)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a version that runs in a span.
        Engine modules look these names up at call time, so the span
        sits exactly on the call into that layer."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def wrap_everywhere(self, fn, name: str) -> None:
        """Wrap every already-imported module's binding of ``fn`` (the
        engine imports some helpers by name into each caller)."""
        for mod in list(sys.modules.values()):
            if getattr(mod, fn.__name__, None) is fn:
                self.wrap(mod, fn.__name__, name)

    def by_name(self) -> dict[str, list[tuple[Span, float]]]:
        out: dict[str, list[tuple[Span, float]]] = defaultdict(list)
        for s, st in zip(self.spans, self_times(self.spans)):
            out[s.name].append((s, st))
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, fh)


@dataclass
class StageTotals:
    """Task metrics summed over the stages of the jobs that ran under
    one job description (span name)."""

    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_records: int = 0
    input_tasks: int = 0
    output_bytes: int = 0
    single_task_run_s: float = 0.0
    # per multi-task stage: max / median task run time
    skew: list[float] = field(default_factory=list)


def stage_totals(event_log_dir: str) -> dict[str, StageTotals]:
    """Parse every Spark event log in ``event_log_dir`` and total the
    task metrics per job description."""
    out: dict[str, StageTotals] = defaultdict(StageTotals)
    for path in sorted(glob.glob(f"{event_log_dir}/**", recursive=True)):
        if not os.path.isfile(path):
            continue
        stage_desc: dict[int, str] = {}
        task_runs: dict[int, list[float]] = defaultdict(list)
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description") or "(none)"
                    out[desc].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    desc = stage_desc.get(ev.get("Stage ID"), "(none)")
                    if not m:
                        continue
                    t = out[desc]
                    t.tasks += 1
                    run = m.get("Executor Run Time", 0) / 1e3
                    t.run_s += run
                    task_runs[ev["Stage ID"]].append(run)
                    t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    t.gc_s += m.get("JVM GC Time", 0) / 1e3
                    t.shuffle_write_mb += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                        / 2**20
                    )
                    t.spill_mb += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
                    recs = m.get("Input Metrics", {}).get("Records Read", 0)
                    t.input_records += recs
                    t.input_tasks += recs > 0
                    t.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
        for sid, runs in task_runs.items():
            t = out[stage_desc.get(sid, "(none)")]
            if len(runs) == 1:
                t.single_task_run_s += runs[0]
            else:
                med = statistics.median(runs)
                if med > 0:
                    t.skew.append(max(runs) / med)
    return out
