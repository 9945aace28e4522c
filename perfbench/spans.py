"""In-memory spans around the engine's public layer boundaries.

:class:`Tracer` replaces, for the duration of a ``with`` block, the
public functions and methods listed in :data:`LAYERS` by wrappers that
record one span per call: layer name, start, end, parent span and run
id. Nothing inside the engine changes; the originals are put back when
the block exits. The ``operators.base.*`` phase wrappers also tag the
Spark jobs they start with a per-phase job group, so the status-store
rollup can be split by phase.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

from pyspark.sql import SparkSession

DFS_METHODS = (
    "exists", "mkdirs", "delete", "rename", "list_dirs", "list_entries",
    "first_file", "list_files", "committed_files", "read_bytes", "write_bytes",
)


@dataclass
class Span:
    name: str
    run: str
    start: float
    end: float = 0.0
    parent: int = -1
    items: int = -1  # length of the call's result, when it is a list


def _targets(algorithms, phases) -> list[tuple[str, object, str]]:
    """(layer, owner, attribute) of every call site the tracer wraps.
    Module-level functions are wrapped in every engine module that
    imported them by name, so the call sites inside the engine see the
    wrapper too."""
    from m3d_engine_spark.operators import graph
    from m3d_engine_spark.plans import partitions
    from m3d_engine_spark.sources import writers
    from m3d_engine_spark.sources.dfs import DFS
    from m3d_engine_spark.sources.formats import DataFormat

    out = [(f"operators.base.{p}", cls, p) for cls in algorithms for p in phases]
    out.append(("sources.formats.read", DataFormat, "read"))
    out.append(("sources.writers.write", writers.AtomicWriter, "write"))
    out += [(f"sources.dfs.{m}", DFS, m) for m in DFS_METHODS]
    for layer, fn in (
        ("plans.partitions.collect", partitions.collect_partitions),
        ("sources.writers.write_output", writers.write_output),
        ("operators.graph.cc", graph.connected_components),
        ("operators.graph.round", graph.propagation_round),
    ):
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("m3d_engine_spark") and getattr(
                mod, fn.__name__, None
            ) is fn:
                out.append((layer, mod, fn.__name__))
    return out


class Tracer:
    """Records spans while active; ``run_id`` is set per measured run."""

    def __init__(self, spark: SparkSession, algorithms, phases):
        self.sc = spark.sparkContext
        self.targets = _targets(algorithms, phases)
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.run_id = ""
        self._saved: list[tuple[object, str, object, bool]] = []

    def __enter__(self) -> "Tracer":
        for layer, owner, attr in self.targets:
            own = attr in vars(owner)
            original = getattr(owner, attr)
            self._saved.append((owner, attr, vars(owner).get(attr), own))
            setattr(owner, attr, self._wrap(layer, original))
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, original, own in reversed(self._saved):
            if own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)
        self._saved.clear()

    def _wrap(self, layer: str, fn):
        phase = layer.rsplit(".", 1)[1] if layer.startswith("operators.base.") else None

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = Span(layer, self.run_id, time.time(),
                        parent=self.stack[-1] if self.stack else -1)
            self.spans.append(span)
            self.stack.append(len(self.spans) - 1)
            if phase:
                self.sc.setJobGroup(f"{self.run_id}:{phase}", layer)
            try:
                result = fn(*args, **kwargs)
                if isinstance(result, list):
                    span.items = len(result)
                return result
            finally:
                span.end = time.time()
                self.stack.pop()
                if phase:
                    self.sc.setJobGroup(self.run_id, "run")

        return traced

    def run_spans(self, run_id: str) -> list[Span]:
        return [s for s in self.spans if s.run == run_id]

    def self_times(self, run_id: str) -> dict[str, float]:
        """Seconds per layer inside its own spans minus its children's."""
        spans = self.run_spans(run_id)
        child = defaultdict(float)
        index = {id(s): i for i, s in enumerate(self.spans)}
        for s in spans:
            if s.parent >= 0:
                child[s.parent] += s.end - s.start
        out = defaultdict(float)
        for s in spans:
            out[s.name] += (s.end - s.start) - child[index[id(s)]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
