"""In-memory span tracer that instruments the program from outside.

``Tracer.wrap(owner, attr, span)`` replaces a function or method on its
module or class with a wrapper that records a span around each call; the
program's own code is not modified.  Spans nest on one stack (the driver
is single-threaded), and a layer's self time is its duration minus the
part of that interval its child spans cover.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from dataclasses import dataclass, field


# name of the span around the instrumentation's own per-call work
HOOK = "trace.hook"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int = 0
    children: list[int] = field(default_factory=list)


def covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op = 0
        self._stack: list[int] = []
        self._undo: list = []

    # -- spans -------------------------------------------------------------
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, self.clock(), parent=parent, op=self.op))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = self.clock()
        # pop through idx: a child left open by an exception closes with it
        while self._stack:
            top = self._stack.pop()
            if top == idx:
                break
            self.spans[top].end = self.spans[idx].end

    def count(self, name: str, value: float = 1.0) -> None:
        self.counters[name] += value

    # -- instrumentation -----------------------------------------------------
    def traced(self, fn, name: str, after=None, on_error=None):
        """``fn`` wrapped to record span ``name`` around each call.

        ``after(result, args, kwargs)`` runs once the call returns, in a
        child span ``HOOK``; ``totals`` and ``self_time`` charge its cost
        to no span but ``HOOK``.  ``on_error(exc)`` sees an exception
        before it propagates.
        """
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer.begin(name)
            try:
                result = fn(*args, **kwargs)
                if after is not None:
                    hook = tracer.begin(HOOK)
                    after(result, args, kwargs)
                    tracer.end(hook)
                return result
            except Exception as exc:
                if on_error is not None:
                    on_error(exc)
                raise
            finally:
                tracer.end(idx)

        return wrapper

    def wrap(self, owner, attr: str, name: str, after=None, on_error=None) -> None:
        """Replace ``owner.attr`` (a function or method) by its traced form."""
        orig = owner.__dict__[attr] if attr in owner.__dict__ else getattr(owner, attr)
        if isinstance(orig, (staticmethod, classmethod)):
            wrapper = type(orig)(self.traced(orig.__func__, name, after, on_error))
        else:
            wrapper = self.traced(orig, name, after, on_error)
        self._undo.append(lambda: setattr(owner, attr, orig))
        setattr(owner, attr, wrapper)

    def wrap_item(self, mapping: dict, key, name: str) -> None:
        """Replace the callable ``mapping[key]`` by its traced form."""
        orig = mapping[key]
        self._undo.append(lambda: mapping.__setitem__(key, orig))
        mapping[key] = self.traced(orig, name)

    def unwrap_all(self) -> None:
        while self._undo:
            self._undo.pop()()

    # -- summaries ---------------------------------------------------------
    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        kids = [(self.spans[c].start, self.spans[c].end) for c in s.children]
        return (s.end - s.start) - covered(kids)

    def hook_time(self) -> list[float]:
        """Per span, the time the instrumentation's hooks spent inside it."""
        out = [0.0] * len(self.spans)
        for s in self.spans:
            if s.name != HOOK:
                continue
            p = s.parent
            while p is not None:
                out[p] += s.end - s.start
                p = self.spans[p].parent
        return out

    def totals(self, self_time: bool = False) -> dict[str, float]:
        """Seconds per span name: total duration, or total self time.

        Total duration counts a recursive span once, at its outermost call,
        and leaves out the hook spans inside it.
        """
        out: dict[str, float] = defaultdict(float)
        hooks = None if self_time else self.hook_time()
        for i, s in enumerate(self.spans):
            if self_time:
                out[s.name] += self.self_time(i)
            elif not self._under_same_name(i):
                out[s.name] += s.end - s.start - hooks[i]
        return dict(out)

    def _under_same_name(self, idx: int) -> bool:
        name, p = self.spans[idx].name, self.spans[idx].parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False

    def calls(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            out[s.name] += 1
        return dict(out)
