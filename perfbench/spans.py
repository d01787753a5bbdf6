"""In-memory span recorder for the traced run.

``Tracer.wrap(owner, attr, name)`` replaces a public function or method
with a wrapper that records one span per call: name, start, end, the
enclosing span and the operation id current at the time. Spans stay in
memory and are written out once, when the run ends. Nothing is wrapped in
an untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections.abc import Callable
from dataclasses import asdict, dataclass

from stats import clip, interval_union


@dataclass
class Span:
    name: str
    start: float  # epoch seconds (same clock as Spark's event log)
    end: float
    parent: int  # index of the enclosing span, -1 at top level
    op: str  # operation id, "" outside timed operations
    nbytes: int = 0  # payload size, for spans that carry one
    note: int = 0  # one extra count the wrapper chose to record


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = ""
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent recording, the wrappers' own cost

    def begin(self, name: str) -> int:
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.bookkeeping_s += time.perf_counter() - t0
        return idx

    def end(self, idx: int, nbytes: int | None = None, note: int | None = None) -> None:
        t0 = time.perf_counter()
        sp = self.spans[idx]
        sp.end = time.time()
        if nbytes is not None:
            sp.nbytes = nbytes
        if note is not None:
            sp.note = note
        self._stack.pop()
        self.bookkeeping_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def wrap(self, owner: type, attr: str, name: str, size_arg: bool = False,
             size_result: bool = False, note: Callable[[object], int] | None = None) -> None:
        """Record a span around every call of ``owner.attr``. ``size_arg``
        records ``len`` of the first argument; ``size_result`` that of
        the return value; ``note`` maps the first argument (``self`` for
        a method) to a count kept on the span."""
        raw = owner.__dict__[attr]
        is_static = isinstance(raw, staticmethod)
        fn = raw.__func__ if is_static else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer.begin(name)
            out = None
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                n = None
                if size_arg and args and isinstance(args[0], (str, bytes)):
                    n = len(args[0])
                elif size_result and isinstance(out, (str, bytes)):
                    n = len(out)
                tracer.end(idx, n, note(args[0]) if note is not None and args else None)

        setattr(owner, attr, staticmethod(wrapper) if is_static else wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def children(spans: list[Span]) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for i, sp in enumerate(spans):
        if sp.parent >= 0:
            out.setdefault(sp.parent, []).append(i)
    return out


def self_time(spans: list[Span], idx: int, kids: dict[int, list[int]] | None = None,
              only: set[str] | None = None) -> float:
    """Span duration minus the part of it covered by its child spans.
    With ``only``, just the children whose name is in it are subtracted."""
    kids = children(spans) if kids is None else kids
    sp = spans[idx]
    covered = [
        (spans[k].start, spans[k].end)
        for k in kids.get(idx, [])
        if only is None or spans[k].name in only
    ]
    return (sp.end - sp.start) - interval_union(clip(covered, sp.start, sp.end))


def descendants(kids: dict[int, list[int]], idx: int) -> list[int]:
    out, todo = [], list(kids.get(idx, []))
    while todo:
        k = todo.pop()
        out.append(k)
        todo.extend(kids.get(k, []))
    return out
