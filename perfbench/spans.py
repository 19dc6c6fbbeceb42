"""Spans, job-group tags and Spark event-log parsing for the traced run.

Every timed phase is a span named ``"<workload>:<op>:<phase>"``. The
benchmark tags the phase with ``setJobGroup(<span name>)`` while it
runs, so the jobs it submits carry the name in Spark's own event log.
Jobs submitted from operator thread pools carry no tag; they go to
the innermost span whose wall-clock window holds their submission
time (ops run one at a time, so the window is unambiguous).

``read_event_log`` turns the log into per-span totals: jobs, stages,
tasks, the union of stage run intervals, executor run time, shuffle,
spill and output bytes.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    t0_ms: float
    t1_ms: float = 0.0

    @property
    def wall_s(self) -> float:
        return (self.t1_ms - self.t0_ms) / 1000.0


class Tracer:
    """Records spans and tags the Spark jobs submitted inside them."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setJobGroup(name, name)
        s = Span(name, time.time() * 1000.0)
        try:
            yield s
        finally:
            s.t1_ms = time.time() * 1000.0
            self.spans.append(s)
            self.sc.setLocalProperty(GROUP_KEY, prev)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    intervals: list = field(default_factory=list)
    executor_run_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    spill_bytes: float = 0.0
    output_bytes: float = 0.0

    def busy_s(self) -> float:
        """Length of the union of stage run intervals."""
        total, end = 0.0, float("-inf")
        for a, b in sorted(self.intervals):
            if b <= end:
                continue
            total += b - max(a, end)
            end = b
        return total / 1000.0


_ACCUM = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
}


def _innermost(spans: list[Span], t_ms: float) -> str | None:
    best = None
    for s in spans:
        if s.t0_ms <= t_ms <= s.t1_ms and (best is None or s.wall_s < best.wall_s):
            best = s
    return best.name if best else None


def read_event_log(log_dir: str, spans: list[Span]) -> dict[str, GroupStats]:
    """Per-span totals from every event-log file under ``log_dir``."""
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    for fn in sorted(os.listdir(log_dir)):
        stage_group: dict[int, str] = {}
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(GROUP_KEY) or _innermost(
                        spans, ev.get("Submission Time", 0)
                    )
                    if group is None:
                        continue
                    stats[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None:
                        continue
                    g = stats[group]
                    g.stages += 1
                    g.tasks += info.get("Number of Tasks", 0)
                    if "Submission Time" in info and "Completion Time" in info:
                        g.intervals.append((info["Submission Time"], info["Completion Time"]))
                    for acc in info.get("Accumulables", []):
                        attr = _ACCUM.get(acc.get("Name"))
                        if attr:
                            setattr(g, attr, getattr(g, attr) + float(acc.get("Value", 0)))
    return stats


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class LayerShims:
    """Thin timing/tagging wrappers around the names ``pipelines.runner``
    imports, installed for the traced medallion run and removed after.
    Each call becomes a span ``<prefix>:<layer>``; ``bronze[prefix]``
    sums ``load_to_bronze``'s ``[loaded, failed]``. The quality layer
    needs no shim: the benchmark's own ``run_quality`` span covers
    ``run_checks`` and the results append and verdict around it."""

    NAMES = ("RecordsSource", "load_to_bronze", "upsert", "publish_all")

    def __init__(self, runner, tracer: Tracer) -> None:
        self.runner = runner
        self.tracer = tracer
        self.prefix = ""
        self.bronze: dict[str, list[int]] = defaultdict(lambda: [0, 0])
        self._orig = {n: getattr(runner, n) for n in self.NAMES}

    def _timed(self, layer: str, fn):
        def wrapper(*args, **kwargs):
            with self.tracer.span(f"{self.prefix}:{layer}"):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        o = self._orig
        shims = self

        class RecordsSource(o["RecordsSource"]):
            def to_df(self, records):
                with shims.tracer.span(f"{shims.prefix}:to_df"):
                    return super().to_df(records)

        def load_to_bronze(*args, **kwargs):
            with self.tracer.span(f"{self.prefix}:bronze"):
                loaded, failed = o["load_to_bronze"](*args, **kwargs)
            counts = self.bronze[self.prefix]
            counts[0] += loaded
            counts[1] += failed
            return loaded, failed

        self.runner.RecordsSource = RecordsSource
        self.runner.load_to_bronze = load_to_bronze
        self.runner.upsert = self._timed("silver", o["upsert"])
        self.runner.publish_all = self._timed("gold", o["publish_all"])

    def remove(self) -> None:
        for n, fn in self._orig.items():
            setattr(self.runner, n, fn)

    def ledger(self, ledger):
        """Wrap an ``AuditLedger`` so its appends are ``ledger`` spans."""
        shims = self

        class TimedLedger:
            def __getattr__(self, name):
                attr = getattr(ledger, name)
                if name not in ("start_run", "end_run"):
                    return attr
                return shims._timed("ledger", attr)

        return TimedLedger()
