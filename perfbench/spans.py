"""In-memory spans around calls into the program's layers.

The benchmark does not change the program: it wraps public module
functions (``patch``) for the length of one operation, so calls the
program makes internally — ``lloyd`` calling ``assign`` each round, say —
are timed too. Spark jobs read from the status store are attached as
child spans of the innermost span that was open when they were
submitted. Spans are kept in memory and written out once, at the end.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass, field

from .probes import union_length


@dataclass
class Span:
    span_id: int
    name: str
    run_id: str
    parent: int | None
    start_s: float  # epoch seconds, comparable with Spark's job times
    end_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration_s(self) -> float:
        return self.end_s - self.start_s


class Tracer:
    """Records spans when ``enabled``; otherwise only sums call times
    per name (``totals``) — the cheap mode end-to-end runs use."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.totals: dict[str, float] = {}
        self.run_id = ""
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        start = time.time()
        sp = None
        if self.enabled:
            parent = self._stack[-1].span_id if self._stack else None
            sp = Span(next(self._ids), name, self.run_id, parent, start, attrs=attrs)
            self.spans.append(sp)
            self._stack.append(sp)
        try:
            yield sp
        finally:
            end = time.time()
            self.totals[name] = self.totals.get(name, 0.0) + (end - start)
            if sp is not None:
                sp.end_s = end
                self._stack.pop()

    @contextlib.contextmanager
    def patch(self, targets: list[tuple[object, str, str]]):
        """Wrap ``getattr(module, attr)`` in a span named ``name`` for
        each (module, attr, name) while the block runs."""
        saved = []
        for module, attr, name in targets:
            fn = getattr(module, attr)
            saved.append((module, attr, fn))
            setattr(module, attr, self._wrapped(fn, name))
        try:
            yield
        finally:
            for module, attr, fn in reversed(saved):
                setattr(module, attr, fn)

    def _wrapped(self, fn, name: str):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return call

    def reset_totals(self) -> None:
        self.totals.clear()

    def attach_jobs(self, jobs, root: Span) -> None:
        """Add each Spark job as a child of the innermost span of
        ``root``'s subtree that was open when the job was submitted."""
        subtree = self.subtree(root)
        for job in jobs:
            owner = root
            for sp in subtree:  # in start order, so the last match is innermost
                if sp.start_s <= job.start_s <= sp.end_s:
                    owner = sp
            self.spans.append(
                Span(
                    next(self._ids),
                    "spark.job",
                    root.run_id,
                    owner.span_id,
                    job.start_s,
                    job.end_s,
                    {"job_id": job.job_id, "stages": job.stage_ids},
                )
            )

    def subtree(self, root: Span) -> list[Span]:
        ids = {root.span_id}
        out = [root]
        for sp in self.spans:
            if sp.parent in ids:
                ids.add(sp.span_id)
                out.append(sp)
        return out

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the part of it its children cover."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        return {
            sp.span_id: sp.duration_s
            - union_length(
                [(c.start_s, c.end_s) for c in kids.get(sp.span_id, [])],
                sp.start_s,
                sp.end_s,
            )
            for sp in self.spans
        }

    def export(self) -> list[dict]:
        selfs = self.self_times()
        return [
            {
                "id": sp.span_id,
                "name": sp.name,
                "run_id": sp.run_id,
                "parent": sp.parent,
                "start_s": sp.start_s,
                "end_s": sp.end_s,
                "self_s": selfs[sp.span_id],
                **({"attrs": sp.attrs} if sp.attrs else {}),
            }
            for sp in self.spans
        ]
