"""In-memory spans around the benchmark's calls into each layer.

A span records its name, layer, start, end, parent span and product id.
Spans stay in memory and are written out once, when the run ends. A
span's self time is its duration minus the time its child spans cover;
children of one span never overlap, because the benchmark drives the
engine from a single thread.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_id = 0

    def span(self, name: str, layer: str, product: str | None = None):
        return self._span(name, layer, product) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, layer: str, product: str | None):
        sid, self._next_id = self._next_id, self._next_id + 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({"id": sid, "name": name, "layer": layer, "start": start,
                               "end": end, "parent": parent, "product": product})

    def calls(self, layer: str, product: str | None, *targets):
        """Put a span around every call of each ``(module, name)`` function
        made inside the block. The functions are replaced in their module
        for the block only, so this reaches the calls the program makes
        itself, as long as it looks the function up at call time."""
        return self._calls(layer, product, targets) if self.enabled else nullcontext()

    @contextmanager
    def _calls(self, layer: str, product: str | None, targets):
        originals = [(module, name, getattr(module, name)) for module, name in targets]

        def wrap(name, fn):
            @functools.wraps(fn)
            def traced(*args, **kwargs):
                with self.span(name, layer, product):
                    return fn(*args, **kwargs)
            return traced

        try:
            for module, name, fn in originals:
                setattr(module, name, wrap(name, fn))
            yield
        finally:
            for module, name, fn in originals:
                setattr(module, name, fn)

    def self_seconds(self) -> dict[str, float]:
        """Self time summed per layer."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f, indent=1)
