"""In-memory spans for the traced run.

A span records (name, start, end, parent, run id). With tracing on, each
span runs its Spark jobs under a job group of its own, so the status
store can attribute jobs, stages and codegen to it afterwards. With
tracing off a span only reads the clock.
"""

from __future__ import annotations

import contextlib
import functools
import time


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "group", "compiles", "stats", "info")

    def __init__(self, sid: int, name: str, parent: int | None, group: str | None):
        self.sid, self.name, self.parent, self.group = sid, name, parent, group
        self.start = time.perf_counter()
        self.end = self.start
        self.compiles = (0, 0.0)
        self.stats: dict = {}
        self.info = None  # set by the caller, e.g. a fit's iteration count

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool, runtime=None):
        self.sc, self.run_id, self.enabled, self.rt = sc, run_id, enabled, runtime
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._base_group: str | None = None

    def set_group(self, group: str | None) -> None:
        """Run the thread's next jobs under ``group`` (outside any span)."""
        self._base_group = group
        self._apply(group)

    def _apply(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        group = f"{self.run_id}:s{sid}" if self.enabled else None
        s = Span(sid, name, parent.sid if parent else None, group)
        if self.enabled:
            self.spans.append(s)
            self._stack.append(s)
            self._apply(group)
            c0 = self.rt.compiles()
            s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                c1 = self.rt.compiles()
                s.compiles = (c1[0] - c0[0], c1[1] - c0[1])
                self._stack.pop()
                self._apply(self._stack[-1].group if self._stack else self._base_group)

    def wrap(self, module, attr: str, name: str, undo: list) -> None:
        """Replace ``module.attr`` by a version that runs inside a span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        undo.append((module, attr, fn))

    def descendants(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, []))
        return out

    def records(self) -> list[dict]:
        return [
            {
                "run": self.run_id, "id": s.sid, "name": s.name, "parent": s.parent,
                "start": s.start, "end": s.end, "compiles": s.compiles[0],
                "compile_s": s.compiles[1],
                **{k: v for k, v in s.stats.items() if k != "intervals"},
            }
            for s in self.spans
        ]
