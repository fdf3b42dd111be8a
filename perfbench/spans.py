"""In-memory span recorder for the traced run.

Spans are recorded around calls into the engine's layers from the
benchmark's side. A function is traced by replacing it, for the length of a
traced pass, in every engine module that imported it by name.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager

from stats import Span

PACKAGE = "kafka_streams_playground_spark"


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.query: str | None = None
        self._stack: list[int] = []
        self._next_id = 0

    def _new_id(self) -> int:
        self._next_id += 1
        return self._next_id

    @contextmanager
    def span(self, name: str):
        sid = self._new_id()
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans.append(Span(name, start, time.time(), sid, parent, self.query))

    def add(self, name: str, start: float, end: float, parent: int) -> None:
        """Record a span measured elsewhere (a micro-batch Spark reported)."""
        self.spans.append(Span(name, start, end, self._new_id(), parent, self.query))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def replace_everywhere(original, replacement) -> int:
    """Point every engine module attribute bound to ``original`` at
    ``replacement``; returns how many bindings changed."""
    changed = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)
                changed += 1
    return changed
