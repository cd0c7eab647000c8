"""In-memory spans and counters recorded around calls into the engine.

The tracer wraps module, class and instance attributes from the
benchmark's side and puts every original back on ``restore()``; the
engine's files are never edited. A span is (id, name, start, end,
parent id, op id). Counters are keyed by (op id, name).
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[tuple] = []
        self.counts: dict[tuple, float] = defaultdict(float)
        self.op = None
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        self._next = 0

    # -- spans -------------------------------------------------------------

    def open(self, name: str) -> int:
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self.spans.append([sid, name, self.clock(), None, parent, self.op])
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        # spans close in LIFO order: wrappers nest, and an exception
        # unwinds through each wrapper's finally
        self.spans[sid][3] = self.clock()
        self._stack.pop()

    def count(self, name: str, value: float = 1) -> None:
        self.counts[(self.op, name)] += value

    # -- wrapping ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str | None = None,
             before=None, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span
        named ``name`` (no span when None) and calls the hooks:
        ``before(args, kwargs) -> ctx`` and ``after(ctx, result)``."""
        had_own = attr in vars(owner)
        original = vars(owner)[attr] if had_own else None
        target = getattr(owner, attr)
        tracer = self

        @functools.wraps(target)
        def wrapper(*args, **kwargs):
            ctx = before(args, kwargs) if before else None
            sid = tracer.open(name) if name else None
            try:
                out = target(*args, **kwargs)
            finally:
                if sid is not None:
                    tracer.close(sid)
            if after:
                after(ctx, out)
            return out

        self._saved.append((owner, attr, had_own, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        """Put back every wrapped attribute, newest first."""
        while self._saved:
            owner, attr, had_own, original = self._saved.pop()
            if had_own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)

    @property
    def installed(self) -> bool:
        return bool(self._saved)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, t0, t1, parent, op in self.spans:
                f.write(json.dumps({"id": sid, "name": name, "start": t0,
                                    "end": t1, "parent": parent,
                                    "op": op}) + "\n")


def self_times(spans) -> list[float]:
    """Self time of each span: its duration minus the part of its
    interval covered by its children (overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sid, _n, t0, t1, parent, _op in spans:
        if parent is not None:
            kids[parent].append((t0, t1))
    out = []
    for sid, _n, t0, t1, _p, _op in spans:
        covered, reach = 0.0, t0
        for c0, c1 in sorted(kids.get(sid, ())):
            c0, c1 = max(c0, reach), min(c1, t1)
            if c1 > c0:
                covered += c1 - c0
                reach = c1
        out.append((t1 - t0) - covered)
    return out
