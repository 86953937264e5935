"""Spans around the calls into each layer, recorded from outside the program.

A ``Tracer`` keeps spans in memory (name, start, end, parent, run id, and
the number of Spark jobs launched while the span was open) and writes them out
once, when the run ends. ``install`` wraps the public calls the ingest
path makes between layers; the benchmark wraps its own direct calls with
``Tracer.span``. The untraced run installs nothing and uses ``NullTracer``.

Job attribution uses the window of job ids: the highest job id known
before the span opened and after it closed. That is exact for a span
entered from the single client thread; spans opened concurrently on the
program's own worker threads (the five dimension loads) overlap, so only
top-level spans carry job counts.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    jobs: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    spans: tuple = ()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _max_job_id(self) -> int:
        # jobs outside any job group; the program sets none
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup()
        return max(ids, default=-1)

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sp = Span(
            name, 0.0, parent=stack[-1] if stack else None,
            run_id=self.run_id, attrs=attrs,
        )
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        first_job = self._max_job_id() if jobs else 0
        stack.append(idx)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if jobs:
                sp.jobs = self._max_job_id() - first_job

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _wrap(tracer: Tracer, owner, attr: str, name: str, jobs: bool) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name, jobs=jobs):
            return fn(*args, **kwargs)

    setattr(owner, attr, traced)


def install(tracer: Tracer) -> None:
    """Wrap the inter-layer calls of ``run_etl_pipeline``. ``pipeline``
    binds ``extract_any`` and ``transform_transactions`` as module
    globals, so those are wrapped where it looks them up; warehouse calls
    are methods, wrapped on the class."""
    from local_etl_csv_to_postgresql_spark import pipeline
    from local_etl_csv_to_postgresql_spark.warehouse import Warehouse

    _wrap(tracer, pipeline, "extract_any", "sources.extract_any", False)
    _wrap(tracer, pipeline, "transform_transactions",
          "operators.transform_transactions", True)
    _wrap(tracer, Warehouse, "load_warehouse", "warehouse.load_warehouse", True)
    for attr in ("load_dimension", "seed_dim_date", "enrich_fact",
                 "load_fact", "snapshot"):
        _wrap(tracer, Warehouse, attr, f"warehouse.{attr}", False)
