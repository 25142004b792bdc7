"""Spans around calls into the engine's layers, recorded from outside the
package.

A span holds its name, start, end, parent span and query id.  Spans stay in
memory and are written out once, at the end of a run.  Every span runs its
Spark jobs under a job group of its own, so jobs are attributed to the
innermost span that launched them; stage metrics come from the in-process
status store, which works with ``spark.ui.enabled=false``.

Layer boundaries that the benchmark does not call itself (the ``sources``
entry points and the public ``functions`` entry points that queries call)
are wrapped by rebinding module attributes for the length of a traced
pass.  Nothing inside ``pandas_expr_spark`` is edited.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import sys
import time
from dataclasses import asdict, dataclass, field

# Public entry points of the ``sources`` layer, per module that exposes them.
SOURCE_ENTRY_POINTS = {
    "pandas_expr_spark": ("read_parquet", "from_pandas", "from_spark"),
    "pandas_expr_spark.sources": ("read_parquet", "from_pandas",
                                  "from_spark"),
    "pandas_expr_spark.sources.tables": ("load_table",),
}

_PACKAGE = "pandas_expr_spark"

# Spark stage states that mean the stage's tasks actually ran.
_RAN = ("COMPLETE", "FAILED", "ACTIVE")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    query: str
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: dict = field(default_factory=dict)
    rows: int = 0

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracer of the untraced passes: every span is a no-op."""

    def span(self, name: str):
        return contextlib.nullcontext()

    query = span

    def set_rows(self, n: int) -> None:
        pass


class Tracer:
    """Records spans for one query at a time and harvests its Spark jobs.

    ``install()``/``uninstall()`` bracket a traced pass: they bind and
    unbind the wrappers around the sources/functions entry points and
    pyspark's ``toPandas``.
    """

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._query = ""
        self._next_id = 1
        self.harvest_s = 0.0
        self.passes = 0
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(self._next_id, name, parent.id if parent else None,
                  self._query, time.perf_counter())
        self._next_id += 1
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc._jsc.clearJobGroup()

    def set_rows(self, n: int) -> None:
        self._stack[-1].rows = n

    @contextlib.contextmanager
    def query(self, name: str):
        self._query = f"{self.passes}:{name}"
        first = len(self.spans)
        try:
            with self.span("query"):
                yield
        finally:
            self._query = ""
            self._harvest(self.spans[first:])

    # -- job and stage attribution ----------------------------------------
    def _harvest(self, spans: list[Span]) -> None:
        """Attach each span's jobs and the metrics of the stages that ran.

        Runs between queries, outside every timed region.  The listener bus
        is drained first so that every job of the query is in the store."""
        t0 = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for sp in spans:
            sp.jobs = sorted(tracker.getJobIdsForGroup(sp.group))
            stage_ids = set()
            for j in sp.jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in sorted(stage_ids):
                sd = store.lastStageAttempt(sid)
                status = sd.status().toString()
                if status not in _RAN:
                    continue
                sp.stages[sid] = {
                    "tasks": sd.numTasks(),
                    "failed_tasks": sd.numFailedTasks(),
                    "executor_run_ms": sd.executorRunTime(),
                    "input_bytes": sd.inputBytes(),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                }
        self.harvest_s += time.perf_counter() - t0

    # -- wrappers around layer entry points --------------------------------
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # Only calls from outside the package are spans: the engine's
            # own calls to an entry point are part of its caller's time.
            caller = sys._getframe(1).f_globals.get("__name__", "")
            if caller.startswith(_PACKAGE) or not tracer._stack:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def _bind(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        import pandas_expr_spark.functions as fns

        self.passes += 1
        wrapped: dict[int, object] = {}

        def wrap_once(fn, name):
            if id(fn) not in wrapped:
                wrapped[id(fn)] = self._wrap(fn, name)
            return wrapped[id(fn)]

        for modname, names in SOURCE_ENTRY_POINTS.items():
            mod = importlib.import_module(modname)
            for n in names:
                fn = getattr(mod, n)
                self._bind(mod, n, wrap_once(fn, f"sources.{n}"))
        mods = [fns] + [m for _, m in inspect.getmembers(fns, inspect.ismodule)
                        if m.__name__.startswith(fns.__name__ + ".")]
        for mod in mods:
            for n, fn in inspect.getmembers(mod, inspect.isfunction):
                if n.startswith("_") or \
                        not fn.__module__.startswith(fns.__name__):
                    continue
                short = fn.__module__.rsplit(".", 1)[-1]
                self._bind(mod, n, wrap_once(fn, f"functions.{short}.{n}"))
        # pyspark's Arrow transfer inside compute(): a child of delivery
        cls = type(self.spark.range(0))
        to_pandas = cls.toPandas
        tracer = self

        @functools.wraps(to_pandas)
        def traced_to_pandas(df, *a, **kw):
            if not tracer._stack or tracer._stack[-1].name != "delivery":
                return to_pandas(df, *a, **kw)
            with tracer.span("delivery.topandas"):
                return to_pandas(df, *a, **kw)
        self._bind(cls, "toPandas", traced_to_pandas)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patches):
            if old is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, old)
        self._patches.clear()

    # -- output -------------------------------------------------------------
    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")
