"""In-memory span recorder for the traced benchmark run.

A span is (id, name, parent, start, end) plus the Spark job group it set
while open: every Spark job launched inside a span belongs to that span.
After the run, ``harvest`` reads each group's jobs from the status
tracker and their stages' task time and shuffle bytes from the driver's
status store, so the per-layer numbers come from where the work ran.

Spans nest per thread. A thread with no open span (the API server's
request threads) parents its spans under ``ambient``, the request span
the single client has in flight.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    jobs: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.ambient: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1].id if stack else self.ambient
        s = Span(next(self._ids), name, parent, time.perf_counter())
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        self.sc.setJobGroup(f"perfbench-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(f"perfbench-{stack[-1].id}", stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Wrap ``module.attr`` in a span named ``span_name`` for each
        (module, attr, span_name), restoring the originals on exit. Used
        for calls the benchmark does not make itself: the sinks inside
        ``make_release`` and the handlers inside the API server."""
        def wrap(orig, span_name):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                with self.span(span_name):
                    return orig(*a, **kw)

            return wrapper

        saved = []
        for mod, attr, span_name in targets:
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, wrap(orig, span_name))
        try:
            yield
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    # --- after the run ------------------------------------------------

    def harvest(self) -> None:
        """Attach job count, executor task seconds and shuffle-write
        bytes to every span from the jobs of its group."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans:
            for jid in tracker.getJobIdsForGroup(f"perfbench-{s.id}"):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                for sid in info.stageIds:
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # a skipped stage never ran: no data
                        continue
                    s.task_s += st.executorRunTime() / 1000.0
                    s.shuffle_bytes += st.shuffleWriteBytes()

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def subtree(self, s: Span, kids=None) -> list[Span]:
        kids = kids if kids is not None else self.children()
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids.get(x.id, ()))
        return out

    def self_time(self, s: Span, kids=None) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = kids if kids is not None else self.children()
        ivs = sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, ())
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return s.dur - covered

    def total(self, s: Span, attr: str, kids=None):
        """Sum of a harvested attribute over a span and its descendants."""
        return sum(getattr(x, attr) for x in self.subtree(s, kids))

    def write_tree(self, path: str) -> None:
        kids = self.children()
        t0 = min((s.start for s in self.spans), default=0.0)

        def node(s: Span) -> dict:
            return {
                "name": s.name,
                "start_s": round(s.start - t0, 6),
                "dur_s": round(s.dur, 6),
                "self_s": round(self.self_time(s, kids), 6),
                "jobs": s.jobs,
                "task_s": round(s.task_s, 3),
                "shuffle_bytes": s.shuffle_bytes,
                **({"counts": s.counts} if s.counts else {}),
                "children": [node(c) for c in kids.get(s.id, ())],
            }

        with open(path, "w") as fh:
            json.dump([node(s) for s in kids.get(None, ())], fh, indent=1)
