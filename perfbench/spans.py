"""Spans kept in memory for the traced run, and the probes that record
them from outside the package.

A span is (name, start, end, parent, run id), times in seconds on the
wall clock.  A layer's self time is its span's duration minus the part
of that interval its children cover.  The probes wrap a package
attribute by name for the length of a ``with`` block and always put the
original back; an attribute that no longer exists (after a refactor)
is recorded as missing instead of failing the run.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.missing: set[str] = set()
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        """Record a finished span; ``parent`` defaults to the open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(Span(len(self.spans), name, start, end, parent, self.run_id))
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.add(name, time.time(), 0.0)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def wrap(self, name: str, fn):
        """``fn`` recording one span per call under the open span."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    @contextlib.contextmanager
    def patched(self, module: str, attr: str, make):
        """Replace ``module.attr`` by ``make(original)`` inside the block.
        A missing module or attribute is noted in ``self.missing``."""
        try:
            mod = importlib.import_module(module)
            original = getattr(mod, attr)
        except (ImportError, AttributeError):
            self.missing.add(f"{module}.{attr}")
            yield False
            return
        setattr(mod, attr, make(original))
        try:
            yield True
        finally:
            setattr(mod, attr, original)

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = covered_length(
                s.start, s.end, [(c.start, c.end) for c in children.get(s.id, [])])
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def leaf_cover(self, root: int) -> tuple[float, float]:
        """Over the spans under ``root`` that have no children (the
        layers): their summed duration, and the length of ``root`` their
        union covers.  The sum exceeds the union by the time two layers
        both claim; the root's wall exceeds the union by the time no
        layer claims."""
        children: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s.id)
        leaves, todo = [], list(children.get(root, []))
        while todo:
            sid = todo.pop()
            if sid in children:
                todo.extend(children[sid])
            else:
                leaves.append((self.spans[sid].start, self.spans[sid].end))
        top = self.spans[root]
        return (sum(b - a for a, b in leaves),
                covered_length(top.start, top.end, leaves))

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def covered_length(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
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
