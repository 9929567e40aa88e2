"""In-memory spans around the benchmark's calls into each layer.

A span holds its name, start and end (seconds since the run started),
the id of its parent span and the run id shared by every span of one
benchmark process. When a ``SparkStats`` is attached, each span also
carries what Spark did inside it (jobs, tasks, shuffle and Python-worker
metrics). Spans are written out once, when the run ends.

While ``enabled`` is false, ``span`` records nothing and costs nothing,
so the same code path serves untraced and traced iterations.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid
from dataclasses import asdict, dataclass, field

from perfbench.sparkstats import SparkStats


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    iteration: int
    start_s: float
    end_s: float = 0.0
    spark: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end_s - self.start_s


class Tracer:
    def __init__(self, t0: float):
        self.t0 = t0
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.enabled = False
        self.iteration = -1
        self.stats: SparkStats | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, spark: bool = False):
        """Record a span; with ``spark``, also what Spark did inside it."""
        if not self.enabled:
            yield None
            return
        mark = self.stats.mark() if spark and self.stats is not None else None
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                  self.run_id, self.iteration, time.monotonic() - self.t0)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end_s = time.monotonic() - self.t0
            self._stack.pop()
            if mark is not None:
                sp.spark = asdict(self.stats.since(mark))

    def of(self, name: str, iteration: int) -> Span | None:
        return next((s for s in self.spans
                     if s.name == name and s.iteration == iteration), None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id,
                       "spans": [asdict(s) for s in self.spans]}, fh, indent=1)
