"""Spans recorded from outside the engine, and per-layer self time.

``Tracer.wrap`` replaces a public function or method with one that
records a span around each call; ``Tracer.restore`` puts every original
back.  A span keeps its name, start, end, parent and op id in memory
until ``write`` dumps them as JSON lines.

Two kinds of wrapper exist because plans are lazy:

- ``wrap`` times an eager call (an ingest step, a commit, a refresh);
- ``label`` times nothing itself: it marks the DataFrame a lazy plan
  builder returns, and the next ``DataFrame.collect`` on the same
  thread is recorded under the builder's span name.  The span then
  covers the action, never the plan construction.

Spans nest per thread.  Spark runs ``foreachBatch`` callbacks on its
own thread, so a wrapper made with ``adopt=True`` lends its span as the
parent of spans that start on a thread with no open span.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.returns: dict[int, object] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._adopt: Span | None = None
        self._patched: list[tuple[object, str, object, bool]] = []

    # -- recording -------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, start: float | None = None,
             op: int | None = None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._adopt
        span = Span(
            next(self._ids), name,
            time.perf_counter() if start is None else start, 0.0,
            parent.id if parent else None,
            op if op is not None else (parent.op if parent else None),
        )
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.remove(span)
        with self._lock:
            self.spans.append(span)

    # -- wrappers --------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        own = attr in vars(owner)
        original = vars(owner)[attr] if own else getattr(owner, attr)
        functools.update_wrapper(wrapper, getattr(owner, attr))
        self._patched.append((owner, attr, original, own))
        setattr(owner, attr, wrapper)

    def wrap(self, owner, attr: str, name: str, adopt: bool = False,
             keep_return: bool = False) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``.  ``keep_return`` keeps the call's return value
        under the span id (for counts the layer reports itself)."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            span = tracer.open(name)
            prev = tracer._adopt
            if adopt:
                tracer._adopt = span
            try:
                out = fn(*args, **kwargs)
                if keep_return:
                    tracer.returns[span.id] = out
                return out
            finally:
                tracer._adopt = prev
                tracer.close(span)

        self._patch(owner, attr, wrapper)

    def labelled(self, fn, name: str):
        """``fn`` (a lazy plan builder) made to name the next
        ``DataFrame.collect`` on the calling thread."""
        local = self._local

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            local.pending = name
            return out

        return wrapper

    def label(self, owner, attr: str, name: str) -> None:
        self._patch(owner, attr, self.labelled(getattr(owner, attr), name))

    def replace_item(self, mapping: dict, key, value) -> None:
        """Set ``mapping[key]``; ``restore`` puts the old value back."""
        self._patched.append((mapping, key, mapping[key], None))
        mapping[key] = value

    def time_collects(self, dataframe_cls) -> None:
        """Record labelled ``collect`` actions (see ``label``)."""
        collect = dataframe_cls.collect
        tracer = self
        local = self._local

        def wrapper(df, *args, **kwargs):
            name = getattr(local, "pending", None)
            if name is None:
                return collect(df, *args, **kwargs)
            local.pending = None
            span = tracer.open(name)
            try:
                return collect(df, *args, **kwargs)
            finally:
                tracer.close(span)

        self._patch(dataframe_cls, "collect", wrapper)

    def restore(self) -> None:
        """Undo every wrapper, newest first."""
        while self._patched:
            owner, attr, original, own = self._patched.pop()
            if own is None:
                owner[attr] = original
            elif own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)

    # -- output ----------------------------------------------------------
    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for span in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(span)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part of it its children cover.
    Children are clipped to the parent and overlapping children count
    once, so an op's self times add up to the op's wall time."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cursor = s.start
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = (s.end - s.start) - covered
    return out


def layer_table(spans: list[Span]) -> dict[str, dict]:
    """Per span name: calls, total self time and total wall time."""
    selfs = self_times(spans)
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(s.name, {"calls": 0, "self_s": 0.0, "wall_s": 0.0})
        row["calls"] += 1
        row["self_s"] += selfs[s.id]
        row["wall_s"] += s.end - s.start
    return table


def op_balance(spans: list[Span]) -> float:
    """Largest gap, over ops, between an op's wall time and the sum of
    the self times of the spans in it (0 when every op adds up)."""
    selfs = self_times(spans)
    roots = {s.id: s for s in spans if s.parent is None and s.op is not None}
    sums = {i: 0.0 for i in roots}
    by_id = {s.id: s for s in spans}
    for s in spans:
        r = s
        while r.parent is not None and r.parent in by_id:
            r = by_id[r.parent]
        if r.id in sums:
            sums[r.id] += selfs[s.id]
    return max(
        (abs(sums[i] - (r.end - r.start)) for i, r in roots.items()),
        default=0.0,
    )
