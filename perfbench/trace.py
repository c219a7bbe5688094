"""Outside-in tracing: wrappers around the engine's public layer
functions record spans in memory; nothing inside ``pac_spark`` changes.

The wrappers replace module attributes, so they must be installed
before any module that binds a wrapped name at import time is loaded:
``relational``, ``dedup``, ``temporal`` and ``recommend`` import
``pin`` at module level, and ``pac_spark.plans.registry`` imports them.
``install`` therefore refuses to run once the registry is imported.
"""

from __future__ import annotations

import dataclasses
import functools
import importlib
import json
import sys
import time
from collections import defaultdict

# (module, attribute, layer); order matters: a module is patched before
# any later module in the list is imported
TARGETS = (
    ("pac_spark.session", "get_spark", "session"),
    ("pac_spark.session", "tune_runtime", "session"),
    ("pac_spark.cache", "pin", "cache"),
    ("pac_spark.cache", "checkpoint", "cache"),
    ("pac_spark.cache", "release_caches", "cache"),
    ("pac_spark.catalog", "load", "catalog"),
    ("pac_spark.sources.sinks", "json_tree_write", "sinks"),
    ("pac_spark.sources.sinks", "json_tree_read", "sinks"),
    ("pac_spark.streaming.stream_exec", "run_to_memory", "streaming"),
    ("pac_spark.streaming.stateful", "_run_ivm_fold", "streaming"),
    # splits a keyed-tree write into its file write and its read-back
    ("pyspark.sql.readwriter", "DataFrameWriter.json", "sinks"),
)
LAYERS = ("session", "catalog", "registry", "cache", "sinks", "streaming", "spark")


@dataclasses.dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op_id: str | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.enabled = False
        self.op_id: str | None = None

    def begin(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        idx = self.begin(name, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, layer, fn, *args, **kwargs)

        return traced

    def install(self) -> None:
        if "pac_spark.plans.registry" in sys.modules:
            raise RuntimeError("install the tracer before importing pac_spark.plans.registry")
        for mod_name, attr, layer in TARGETS:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            setattr(owner, leaf, self.wrap(getattr(owner, leaf), f"{layer}.{leaf}", layer))

    def op_spans(self, op_id: str) -> list[Span]:
        return [s for s in self.spans if s.op_id == op_id]

    def dump(self, path: str) -> None:
        """Write every recorded span as one JSON object per line."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(dataclasses.asdict(s)) + "\n")


def layer_self_times(tracer: Tracer, op_id: str) -> dict[str, float]:
    """Seconds per layer spent in that layer's own code during one op,
    time inside nested spans subtracted."""
    members = [i for i, s in enumerate(tracer.spans) if s.op_id == op_id]
    child = defaultdict(float)
    for i in members:
        p = tracer.spans[i].parent
        if p is not None:
            child[p] += tracer.spans[i].end - tracer.spans[i].start
    out = dict.fromkeys(LAYERS, 0.0)
    for i in members:
        s = tracer.spans[i]
        if s.layer in out:
            out[s.layer] += (s.end - s.start) - child[i]
    return out
