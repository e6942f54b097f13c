"""Workloads, output checks and the measuring loop of the benchmark.

One *op* is one unit of work a workload repeats: a full warehouse build,
or one pass over a fixed list of queries. The load is a closed loop
with one client: this thread issues an op, waits for it, checks its
outputs (untimed) and cleans up (untimed) before the next one.
"""

from __future__ import annotations

import datetime as dt
import gc
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import tempfile
import time
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass
from decimal import Decimal
from pathlib import Path

# The BPE oracle pins its merge table per corpus, and pins sf0.1 only if
# this is set when the package is first imported: set it before that.
os.environ["SPARK_GRAFT_PIN_SF01"] = "1"

from flights_data_pipeline_spark.queries import REGISTRY, flights  # noqa: E402
from clock import steal_s, unstolen  # noqa: E402
from tracer import self_time, spark_diff  # noqa: E402

#: Queries whose time goes to eager jobs inside ``q.fn()``: the shared
#: basket-pair kernel, the graph dispatch and BPE's per-round checkpoints.
EAGER_QUERIES = (
    "kcore_summary",
    "pagerank_copurchase",
    "clustering_coefficient",
    "bpe_train_merges",
)
#: The warehouse's oracle-checked outputs.
FLIGHTS_QUERIES = tuple(sorted(n for n in REGISTRY if n.startswith("flights_")))
#: The session: ``local[4]`` whatever the host, and a 2g driver heap.
#: With 4g, G1's heap growth moved the JVM's peak RSS by 0.21 of its
#: median (quartile spread over ten runs); 2g held it near 0.1 with the
#: same op times.
CORES = 4
DRIVER_MEMORY = "2g"
#: The testdata tables the DuckDB oracles read.
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def default_sf_dir() -> str:
    """``SPARK_GRAFT_SF_DIR``, as ``bench.py`` reads it, else the sf0.1
    testdata beside the smoke data ``__spark_entry__`` names."""
    from __spark_entry__ import SMOKE_SF_DIR

    return os.environ.get("SPARK_GRAFT_SF_DIR") or str(
        Path(SMOKE_SF_DIR).parent / "sf0.1"
    )


def start_session(run_dir: Path):
    """The benchmark's session. Everything it writes (temp files, Spark
    blocks, JVM temp files) goes under ``run_dir``; the environment is
    set before the JVM starts."""
    from flights_data_pipeline_spark.session import get_spark

    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # JVM flags that keep files out of /tmp; the launcher JVM that
    # spark-submit runs first reads them from SPARK_LAUNCHER_OPTS
    java_opts = f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    return get_spark(
        "perfbench",
        cpus=CORES,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            # the status store must keep every job and stage, or counts
            # taken as diffs of its totals wrap after 1000 jobs
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        },
    )


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the JVM exits when its stdin closes
    jvm.wait(timeout=120)


# --------------------------------------------------------------------------
# Output check: rows, schema and value multiset against the DuckDB oracle
# (the comparison of tools/driver_sim.py).
# --------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, Decimal):
        return ("d", str(v))  # raw, so a scale change is a mismatch
    if isinstance(v, dt.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("D", v.isoformat())
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, list):
        return ("l", tuple(_norm(x) for x in v))
    return v


def multiset(rows, columns: list[str]) -> Counter:
    """Rows as a multiset of normalized tuples, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def _tuples(v):
    return tuple(_tuples(x) for x in v) if isinstance(v, list) else v


class Oracles:
    """Each query's DuckDB oracle answer as a value multiset.

    An answer depends only on the oracle SQL and the data, so it is
    cached on disk under the digest of the package source: the first run
    of a checkout evaluates it, later runs read it back. An empty answer
    is never cached and matches nothing: the pinned-value oracles answer
    empty for a corpus they have not pinned, and every checked output
    has rows at sf0.1.
    """

    def __init__(self, sf_dir: str, cache_dir: Path, source_digest: str):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.source_digest = source_digest
        self._con = None
        self._answers: dict[str, tuple[list[str], Counter]] = {}

    def expected(self, name: str) -> tuple[list[str], Counter]:
        if name not in self._answers:
            self._answers[name] = self._answer(name)
        return self._answers[name]

    def _answer(self, name: str) -> tuple[list[str], Counter]:
        key = hashlib.sha256(
            f"{self.source_digest}\0{name}\0{self.sf_dir}".encode()
        ).hexdigest()[:20]
        path = self.cache_dir / f"{name}-{key}.json"
        if path.exists():
            saved = json.loads(path.read_text())
            rows = Counter({_tuples(r): n for r, n in saved["rows"]})
            return saved["columns"], rows
        cur = self._connection().execute(REGISTRY[name].oracle_text())
        columns = [d[0] for d in cur.description]
        rows = multiset(cur.fetchall(), columns)
        if not rows:
            return sorted(columns), rows
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        tmp.write_text(
            json.dumps({"columns": sorted(columns), "rows": list(rows.items())})
        )
        tmp.replace(path)
        return sorted(columns), rows

    def matches(self, name: str, df) -> bool:
        columns, expected = self.expected(name)
        if not expected or sorted(df.columns) != columns:
            return False
        return multiset(df.collect(), df.columns) == expected

    def _connection(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                )
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def source_digest(package_dir: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(package_dir.rglob("*.py")):
        h.update(str(p.relative_to(package_dir)).encode() + b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


# --------------------------------------------------------------------------
# Workloads
# --------------------------------------------------------------------------


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    seed: int
    tracer: object
    oracles: Oracles


@dataclass(frozen=True)
class Workload:
    name: str
    #: one op, timed; returns what the check and the release need
    run: Callable[[Ctx, int], object]
    #: untimed; names of the outputs that do not match their oracle
    check: Callable[[Ctx, object], list[str]]
    #: untimed; drops the op's outputs (``None`` if the op raised)
    release: Callable[[Ctx, object], None]


def _build(ctx: Ctx, op: int) -> str:
    with ctx.tracer.span("warehouse"):
        return flights._warehouse(ctx.spark, ctx.sf_dir)


def _check_build(ctx: Ctx, warehouse: str) -> list[str]:
    # the flights_* queries read the memoized warehouse: this op's
    if flights._WAREHOUSES.get(ctx.sf_dir) != warehouse:
        return ["_WAREHOUSES"]
    return [
        n for n in FLIGHTS_QUERIES
        if not ctx.oracles.matches(n, REGISTRY[n].fn(ctx.spark, ctx.sf_dir))
    ]


def _release_build(ctx: Ctx, warehouse: str | None) -> None:
    # without this every later op would time a memo hit
    flights._WAREHOUSES.clear()
    if warehouse is not None:
        # atexit would remove it only when the process ends
        shutil.rmtree(os.path.dirname(warehouse), ignore_errors=True)


def _query_pass(names: tuple[str, ...]):
    def run(ctx: Ctx, op: int) -> dict:
        order = list(names)
        random.Random(f"{ctx.seed}/{op}").shuffle(order)
        frames = {}
        for n in order:
            with ctx.tracer.span(f"q.{n}.build"):
                df = REGISTRY[n].fn(ctx.spark, ctx.sf_dir)
            with ctx.tracer.span(f"q.{n}.plan"):
                df._jdf.queryExecution().executedPlan()
            with ctx.tracer.span(f"q.{n}.exec"):
                df.write.mode("overwrite").format("noop").save()
            frames[n] = df
        return frames

    return run


def _check_queries(ctx: Ctx, frames: dict) -> list[str]:
    return [n for n, df in frames.items() if not ctx.oracles.matches(n, df)]


def _release_queries(ctx: Ctx, frames: dict | None) -> None:
    if frames is not None:
        frames.clear()


WORKLOADS = {
    "warehouse_build": Workload(
        "warehouse_build", _build, _check_build, _release_build
    ),
    "eager_queries": Workload(
        "eager_queries", _query_pass(EAGER_QUERIES), _check_queries,
        _release_queries,
    ),
}


# --------------------------------------------------------------------------
# Measuring loop
# --------------------------------------------------------------------------


def settle(spark) -> None:
    """Untimed between-op hygiene, as ``bench.py`` does it: drop cached
    plans and run a JVM GC so ContextCleaner frees dead blocks."""
    gc.collect()
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def measure(
    ctx: Ctx, workload: Workload, seconds: float, min_warm: int = 1
) -> list[dict]:
    """The cold op, then warm ops until ``seconds`` have passed since the
    cold op started (at least ``min_warm``). Returns one record per op; its
    ``time_s`` is the op's wall time less the host's steal
    (:func:`clock.unstolen`).

    The outputs of the cold op and of the last op are checked: the cold
    op takes paths a warm op does not (memo misses, first footer reads).
    The ops between them are not: a check costs seconds of a run's
    budget."""
    records = []
    start = time.perf_counter()
    while True:
        i = len(records)
        ctx.tracer.op = i
        out, error = None, None
        reset_peak_rss(ctx.spark)
        steal0 = steal_s()
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("op"):
                out = workload.run(ctx, i)
        except Exception as exc:  # a failed op is counted, not fatal
            error = f"{type(exc).__name__}: {exc}"
        wall = time.perf_counter() - t0
        steal = steal_s() - steal0
        rss_mb = peak_rss_mb(ctx.spark)  # the op's own peak: not the check's
        ctx.tracer.op = None
        last = i >= min_warm and time.perf_counter() - start >= seconds
        checked = i == 0 or last
        t_check = time.perf_counter()
        if checked and error is None:
            bad = workload.check(ctx, out)
            if bad:
                error = f"output mismatch: {bad}"
        check_s = time.perf_counter() - t_check
        workload.release(ctx, out)
        out = None
        settle(ctx.spark)
        rec = {"op": i, "time_s": unstolen(wall, steal), "wall_s": wall,
               "steal_s": steal, "peak_rss_mb": rss_mb, "checked": checked,
               "check_s": check_s, "error": error}
        if ctx.tracer.enabled:
            rec["storage_bytes"] = ctx.tracer.counters.storage_bytes()
        records.append(rec)
        if last:
            return records


def reset_peak_rss(spark) -> None:
    """Start a new peak: the driver JVM's ``VmHWM`` drops to its current
    resident size."""
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM since the last
    :func:`reset_peak_rss` (``VmHWM``)."""
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def warm(records: list[dict]) -> list[dict]:
    """The ops after the cold op (the cold op alone if there are none)."""
    return records[1:] or records[:1]


# --------------------------------------------------------------------------
# Per-layer figures from the spans of a traced run
# --------------------------------------------------------------------------

#: spans whose summed duration is a metric named ``<span>_s``
_SUMMED = ("derive.derive_staging", "runner.run_day", "runner.run_transforms")
#: spans on the program's pool threads: summed busy time across threads
_BUSY = ("etl.extract_load", "etl.load_upsert", "csv_codec.write_csv")

#: Every run reports every per-layer metric; a layer a workload never
#: enters reads 0 there. ``derive``, ``warehouse``, ``runner``, ``etl``
#: and ``csv_codec`` apply to ``warehouse_build`` only, ``q.*`` to
#: ``eager_queries`` only; ``session``, ``spark`` and ``tracing`` to both.
#: ``spark.output_bytes`` reads 0 on ``eager_queries`` (its writes are
#: ``noop``), and ``spark.storage_retained_bytes`` reads 0 on
#: ``warehouse_build`` while nothing leaks.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "derive.derive_staging_s": "s",
    "warehouse.source_write_s": "s",
    "runner.run_day_s": "s",
    "runner.run_transforms_s": "s",
    "etl.extract_load_calls": "count",
    "etl.loaded_ratio": "ratio",
    "etl.extract_load_busy_s": "s",
    "csv_codec.write_csv_busy_s": "s",
    "etl.load_upsert_busy_s": "s",
    **{f"q.{n}.{p}_s": "s" for n in EAGER_QUERIES
       for p in ("build", "plan", "exec")},
    **{f"q.{n}.jobs": "count" for n in EAGER_QUERIES},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.core_util": "ratio",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.storage_retained_bytes": "bytes",
    "tracing.overhead_s": "s",
}


def op_layers(tracer, record: dict) -> dict[str, float]:
    """Every per-layer figure of one op; layers the op never entered
    read 0."""
    spans = [s for s in tracer.spans if s["op"] == record["op"]]
    children: dict[int, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    loaded = 0
    for s in spans:
        name, dur = s["name"], s["end"] - s["start"]
        if name == "op":
            m.update({f"spark.{k}": v for k, v in spark_diff(s).items()})
            m["spark.core_util"] = m["spark.executor_run_s"] / (dur * CORES)
        elif name == "warehouse":
            m["warehouse.source_write_s"] += self_time(s, children.get(s["id"], []))
        elif name in _SUMMED:
            m[f"{name}_s"] += dur
        elif name in _BUSY:
            m[f"{name}_busy_s"] += dur
            if name == "etl.extract_load":
                m["etl.extract_load_calls"] += 1
                loaded += s.get("status") == "LOADED"
        elif name.startswith("q."):
            query, part = name[2:].rsplit(".", 1)
            m[f"q.{query}.{part}_s"] += dur
            m[f"q.{query}.jobs"] += spark_diff(s)["jobs"]
    if m["etl.extract_load_calls"]:
        m["etl.loaded_ratio"] = loaded / m["etl.extract_load_calls"]
    # read after the op's untimed GC: growth across ops is a leak
    m["spark.storage_retained_bytes"] = record["storage_bytes"]
    m["tracing.overhead_s"] = tracer.overhead.get(record["op"], 0.0)
    return m


def layer_metrics(tracer, records: list[dict]) -> dict[str, float]:
    """Median over the warm ops of each per-layer figure."""
    per_op = [op_layers(tracer, r) for r in warm(records)]
    return {k: statistics.median(m[k] for m in per_op) for k in PER_LAYER_UNITS}


def build_accounting(tracer, record: dict) -> dict[str, float] | None:
    """For a warehouse op: its wall time against the sum of the self
    times of its top-level layers -- derive, the source writes (the
    ``warehouse`` span's own time), each ``run_day``, ``run_transforms``
    and the glue of ``run_pipeline`` -- taking only top-level spans as
    children, so pool-thread spans inside a day do not count twice."""
    top = {"warehouse", "derive.derive_staging", "runner.run_pipeline",
           "runner.run_day", "runner.run_transforms"}
    spans = [s for s in tracer.spans
             if s["op"] == record["op"] and s["name"] in top]
    if not spans:
        return None
    op = next(s for s in tracer.spans
              if s["op"] == record["op"] and s["name"] == "op")
    accounted = sum(
        self_time(s, [c for c in spans if c["parent"] == s["id"]])
        for s in spans
    )
    return {"op_wall_s": op["end"] - op["start"], "accounted_s": accounted}
