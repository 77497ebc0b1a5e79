"""In-memory spans around blspark's public functions, with Spark's own
counters attached.

Spans are recorded from outside the program: ``Tracer.wrap`` replaces a
module attribute at the name its caller binds (``blspark.jobs.classify_mirror``
rather than ``blspark.sync.classify_mirror``, because ``jobs`` imported it
by name). Every span records name, start, end, parent and run id; self
time is the span's duration minus the time its child spans cover.

Counters are deltas of Spark's global totals over the span. Job ids and
stage ids are sequential, so ``SparkCounters`` walks the jobs submitted
since its last read and sums the metrics of each stage that ran, read
from the status store that stays reachable with the UI off. That is
valid because the benchmark is one client running in sequence; jobs the
``foreachBatch`` stream thread launches land in the span that started
the stream.
"""

from __future__ import annotations

import functools
import statistics
import time
from dataclasses import dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_ms",
)
_DONE = ("COMPLETE", "FAILED")


class SparkCounters:
    """Running totals of Spark's job and stage metrics for one context."""

    def __init__(self, sc):
        self._tracker = sc.statusTracker()
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._next_job = 0
        self._pending: list[int] = []  # stage ids not finished when last read
        self._seen: set[int] = set()
        self.totals = dict.fromkeys(COUNTERS, 0)
        self.read()

    def read(self) -> dict[str, int]:
        """Bring the totals up to date and return a copy."""
        # the status listener runs on Spark's event bus: drain it so the
        # stage metrics of jobs that just returned are final
        self._jsc.listenerBus().waitUntilEmpty()
        while (info := self._tracker.getJobInfo(self._next_job)) is not None:
            self._next_job += 1
            self.totals["jobs"] += 1
            self._pending.extend(s for s in info.stageIds if s not in self._seen)
        still = []
        for sid in dict.fromkeys(self._pending):
            if sid in self._seen:
                continue
            d = self._store.lastStageAttempt(sid)
            status = d.status().toString()
            if status in ("ACTIVE", "PENDING"):
                still.append(sid)
                continue
            self._seen.add(sid)
            if status not in _DONE:  # skipped: its output was reused
                continue
            t = self.totals
            t["stages"] += 1
            t["tasks"] += d.numTasks()
            t["input_bytes"] += d.inputBytes()
            t["shuffle_read_bytes"] += d.shuffleReadBytes()
            t["shuffle_write_bytes"] += d.shuffleWriteBytes()
            t["spill_bytes"] += d.diskBytesSpilled()
            t["executor_run_ms"] += d.executorRunTime()
        self._pending = still
        return dict(self.totals)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    counters: dict[str, int] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)
    child_s: float = 0.0

    @property
    def s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.s - self.child_s


class Tracer:
    """Records spans while ``enabled``; a disabled tracer only forwards
    calls, so a run can alternate traced and untraced cycles."""

    def __init__(self, counters: SparkCounters | None = None):
        self.counters = counters
        self.enabled = counters is not None
        self.run_id = "setup"
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> int | None:
        if not self.enabled:
            return None
        before = self.counters.read()
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent, self.run_id, counters=before))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, idx: int | None, **extra: float) -> None:
        if idx is None:
            return
        sp = self.spans[idx]
        sp.end = time.perf_counter()
        after = self.counters.read()
        sp.counters = {k: after[k] - sp.counters[k] for k in COUNTERS}
        sp.extra.update(extra)
        self._stack.pop()
        if sp.parent is not None:
            self.spans[sp.parent].child_s += sp.s

    def call(self, name: str, fn, *args, **kwargs):
        idx = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    def wrap(self, module, attr: str, name: str, around=None) -> None:
        """Replace ``module.attr`` with a traced forwarder. ``around``, if
        given, is a context factory ``around(args, kwargs) -> (args,
        kwargs, finish)`` whose ``finish(result)`` returns extra span
        fields; it lets a wrapper observe inputs and outputs."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            finish = None
            if around is not None:
                args, kwargs, finish = around(args, kwargs)
            idx = self.begin(name)
            result = None
            try:
                result = orig(*args, **kwargs)
                return result
            finally:
                extra = finish(result) if finish is not None else {}
                self.end(idx, **extra)

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def per_layer(self, skip_runs: tuple[str, ...] = ("setup", "cold")) -> dict[str, dict[str, float]]:
        """Median per call of each span's duration, counters and extra
        fields. Calls made while caches fill (``skip_runs``) are left out
        unless a span only ever ran then."""
        by_name: dict[str, list[Span]] = {}
        for sp in self.spans:
            by_name.setdefault(sp.name, []).append(sp)
        out = {}
        for name, spans in by_name.items():
            warm = [sp for sp in spans if not sp.run_id.startswith(skip_runs)] or spans
            row = {"s": statistics.median(sp.s for sp in warm),
                   "self_s": statistics.median(sp.self_s for sp in warm),
                   "calls": len(warm)}
            for k in COUNTERS:
                row[k] = statistics.median(sp.counters[k] for sp in warm)
            for k in warm[0].extra:
                row[k] = statistics.median(sp.extra[k] for sp in warm)
            out[name] = row
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": sp.name, "start": sp.start, "end": sp.end, "parent": sp.parent,
             "run_id": sp.run_id, "s": sp.s, "self_s": sp.self_s,
             "counters": sp.counters, **sp.extra}
            for sp in self.spans
        ]
