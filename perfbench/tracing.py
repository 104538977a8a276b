"""In-memory spans recorded around calls into the engine's layers.

A span is (name, start, end, parent, pass id). Spans are kept in a list
and written out once, when the benchmark ends. A layer's self time is its
spans' durations minus the parts their child spans cover.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.pass_id = 0
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 self._stack[-1] if self._stack else None, self.pass_id, attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def wrap(self, owner: object, attr: str, name: str, attrs=None) -> None:
        """Replace `owner.attr` by a wrapper that records a span per call;
        `attrs(*args, **kwargs)` may name call details to keep on the span.
        `unwrap_all` restores the originals."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, **(attrs(*args, **kwargs) if attrs else {})):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def self_seconds(self, pass_ids: set[int] | None = None) -> dict[str, float]:
        """Per span name: total duration minus the time of direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.seconds
        out: dict[str, float] = {}
        for s in self.spans:
            if pass_ids is None or s.pass_id in pass_ids:
                out[s.name] = out.get(s.name, 0.0) + s.seconds - child[s.id]
        return out

    def dump(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"summary": summary, "self_s": self.self_seconds(),
                       "spans": [asdict(s) for s in self.spans]}, f)
