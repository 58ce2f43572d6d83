"""In-memory spans recorded around the calls the benchmark makes into each
layer, and the Spark job tags that tie the event log to them.

A span has a name, a start and end (``time.time()`` seconds), its parent
span and the step (tick or pass) it belongs to. The tracer also sets two
Spark local properties on the calling thread, which Spark copies into every
job it submits from there:

- ``perfbench.span``: the id of the innermost open span;
- ``perfbench.step``: the current tick or pass.

``setJobGroup`` cannot carry these, because ``SyncRunner.sync_table`` sets
its own job group. A disabled tracer records nothing and sets nothing.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"
STEP_PROP = "perfbench.step"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    step: str | None
    attrs: dict = field(default_factory=dict)  # counts taken at the boundary

    @property
    def seconds(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.step: str | None = None

    def _tag(self, key: str, value) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(key, None if value is None else str(value))

    def set_step(self, step: str | None) -> None:
        if self.enabled:
            self.step = step
            self._tag(STEP_PROP, step)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), None, parent.id if parent else None, self.step)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(SPAN_PROP, s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(SPAN_PROP, parent.id if parent else None)

    def instrument(self, obj, layer: str, methods: list[str], hooks: dict | None = None):
        """Wrap ``obj``'s named methods in spans called ``<layer>.<method>``.

        The wrappers are set on the instance, so every caller -- the
        program's own code included -- goes through them. ``hooks`` maps a
        method name to ``fn(span, args, kwargs)`` called before the method
        runs. Does nothing when disabled."""
        if not self.enabled:
            return obj
        hooks = hooks or {}
        for name in methods:
            setattr(obj, name, self._wrap(getattr(obj, name), f"{layer}.{name}", hooks.get(name)))
        return obj

    def _wrap(self, fn, span_name: str, hook):
        @functools.wraps(fn)
        def wrapped(*args, **kw):
            with self.span(span_name) as s:
                if hook is not None:
                    hook(s, args, kw)
                return fn(*args, **kw)

        return wrapped

    # -- queries over the recorded tree ------------------------------------

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def subtree(self, span_id: int) -> set[int]:
        """``span_id`` and every span nested under it."""
        out = {span_id}
        for s in self.spans[span_id + 1:]:  # children are recorded after parents
            if s.parent in out:
                out.add(s.id)
        return out

    def self_seconds(self, span_id: int) -> float:
        """The span's duration minus what its direct children cover (one
        thread: children never overlap)."""
        s = self.spans[span_id]
        return s.seconds - sum(c.seconds for c in self.children(span_id))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]
