"""Spans and Spark counters for the traced benchmark run.

A span records its name, start, end, parent span and op id. Spans are
kept in memory and written out once, when the run ends. Spans opened on
the driver's main thread also carry Spark counter diffs, read from the
``AppStatusStore`` at the span's boundaries; spans opened on the program's
own pool threads record time only, because Spark job groups are
thread-local and pool threads do not inherit them.

The traced run replaces a few module attributes of the package with
timing wrappers (:func:`install`); the untraced run uses
:class:`NullTracer` and touches nothing.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time

#: Spark totals kept per snapshot, in this order.
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "input_bytes",
    "output_bytes",
    "shuffle_write_bytes",
)

_TERMINAL = {"COMPLETE", "FAILED", "SKIPPED"}


class SparkCounters:
    """Running totals over every finished stage of the application.

    Job and stage ids are never reused, so totals are sums over stages
    read once each. The session must keep every job and stage in its
    status store (``spark.ui.retainedJobs``/``retainedStages`` raised by
    the benchmark), or old stages would drop out of the totals.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._last_stage = -1
        self._totals = dict.fromkeys(COUNTERS, 0)

    def snapshot(self) -> dict[str, float]:
        """Absorb the stages finished since the last call; return totals."""
        self._jsc.listenerBus().waitUntilEmpty()
        stages = self._store.stageList(
            self._empty, False, False, self._no_quantiles, self._empty
        )
        fresh = []
        for i in range(stages.size()):  # newest first
            s = stages.apply(i)
            if s.stageId() <= self._last_stage:
                break
            fresh.append(s)
        t = self._totals
        for s in reversed(fresh):
            status = s.status().toString()
            if status not in _TERMINAL:
                break  # read it again, finished, at the next snapshot
            self._last_stage = s.stageId()
            if status == "SKIPPED":
                continue
            t["stages"] += 1
            t["tasks"] += s.numTasks()
            t["executor_run_s"] += s.executorRunTime() / 1000.0
            t["input_bytes"] += s.inputBytes()
            t["output_bytes"] += s.outputBytes()
            t["shuffle_write_bytes"] += s.shuffleWriteBytes()
        t["jobs"] = self._store.jobsList(self._empty).size()
        return dict(t)

    def storage_bytes(self) -> int:
        """Memory plus disk held by cached and checkpointed RDDs."""
        return sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo())


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    enabled = False
    op = None

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.counters = SparkCounters(spark)
        self.spans: list[dict] = []
        #: op id stamped on every span opened while it is set
        self.op: int | None = None
        #: seconds the tracer spent on its own bookkeeping, per op id
        self.overhead: dict[int | None, float] = {}
        self._main = threading.main_thread()
        self._main_open: list[dict] = []
        self._pool_open = threading.local()
        self._lock = threading.Lock()

    def _cost(self, since: float) -> None:
        with self._lock:
            self.overhead[self.op] = self.overhead.get(self.op, 0.0) + (
                time.perf_counter() - since
            )

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the block. Counter snapshots sit just outside the span's
        interval, so they land in the parent's self time and in
        :attr:`overhead`, not in the layer being measured."""
        t0 = time.perf_counter()
        on_main = threading.current_thread() is self._main
        if on_main:
            stack = self._main_open
        else:
            stack = self._pool_open.__dict__.setdefault("open", [])
        # a pool thread's first span was caused by the main thread's open span
        caller = stack or self._main_open
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "op": self.op,
                   "parent": caller[-1]["id"] if caller else None}
            self.spans.append(rec)
        if on_main:
            rec["spark_start"] = self.counters.snapshot()
        stack.append(rec)
        self._cost(t0)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t1 = time.perf_counter()
            stack.pop()
            if on_main:
                rec["spark_end"] = self.counters.snapshot()
            self._cost(t1)


def self_time(span: dict, children: list[dict]) -> float:
    """Duration minus the union of the children's intervals inside it."""
    covered, edge = 0.0, span["start"]
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], edge), min(c["end"], span["end"])
        if hi > lo:
            covered += hi - lo
            edge = hi
    return (span["end"] - span["start"]) - covered


def spark_diff(span: dict) -> dict[str, float]:
    return {k: span["spark_end"][k] - span["spark_start"][k] for k in COUNTERS}


def install(tracer: Tracer):
    """Wrap the package's layer entry points in spans; return an undo.

    Each wrapper replaces the name the caller looks up at call time:
    ``flights`` calls ``derive.derive_staging`` through the module but
    binds ``runner.run_pipeline`` by name, and ``runner`` binds
    ``etl.run_extract_load`` by name.
    """
    from flights_data_pipeline_spark.io import csv_codec
    from flights_data_pipeline_spark.pipeline import derive, etl, runner
    from flights_data_pipeline_spark.queries import flights

    def record_load(rec, result):
        rec["status"] = result.status.name

    targets = [
        (derive, "derive_staging", "derive.derive_staging", None),
        (flights, "run_pipeline", "runner.run_pipeline", None),
        (runner, "run_day", "runner.run_day", None),
        (runner, "run_transforms", "runner.run_transforms", None),
        (runner, "run_extract_load", "etl.extract_load", record_load),
        (etl, "load_upsert", "etl.load_upsert", None),
        (csv_codec, "write_csv", "csv_codec.write_csv", None),
    ]
    originals = []
    for module, attr, name, on_result in targets:
        fn = getattr(module, attr)
        originals.append((module, attr, fn))
        setattr(module, attr, _wrap(tracer, fn, name, on_result))

    def undo():
        for module, attr, fn in originals:
            setattr(module, attr, fn)

    return undo


def _wrap(tracer, fn, name, on_result):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name) as rec:
            result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(rec, result)
            return result

    return traced
