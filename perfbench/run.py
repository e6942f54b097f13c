#!/usr/bin/env python3
"""Benchmark of the flights pipeline and two query families, end to end
and layer by layer.

    python3 perfbench/run.py --workload warehouse_build --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Workloads (see ``harness.WORKLOADS``):

* ``warehouse_build`` -- one op is one full flights warehouse build
  (``queries.flights._warehouse``: derive, 8 source writes, 3 days of
  extract/land/upsert, transforms).
* ``eager_queries`` -- one op is one pass over the graph/BPE queries,
  whose time goes to eager jobs inside ``q.fn()``.

Each run starts one ``local[4]`` session, times the cold op, then warm
ops until ``--seconds`` have passed since the cold op started (at least
one; with ``--seconds 10`` that is one, as a cold op takes longer), checks
the outputs of the cold op and of the last op against the DuckDB oracles
(untimed) and prints,
as its last stdout line, ``{"correct", "attempted", "failed",
"metrics"}``; ``failed`` counts ops that raised or failed the check.
End-to-end times are wall-clock less the CPU time the host stole from
this VM (``clock.py``). ``driver_peak_rss_mb`` is the largest of the
ops' own peaks: the JVM's peak is reset before each op and read right
after it, so the checks' memory is not in it. The raw wall and steal times are in the line
before the last, with the run's provenance. Per-layer times are raw.
``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` wraps the package's layer entry points in spans and
reports the per-layer metrics, writing the spans under ``.perfbench/``.

The input is the read-only sf0.1 testdata (``--sf-dir``, else
``harness.default_sf_dir()``); the seed sets the query order of each
pass and changes nothing for ``warehouse_build``.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

from clock import steal_s, unstolen

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench"
PACKAGE = ROOT / "flights_data_pipeline_spark"


def seconds_since_process_start() -> float:
    """Wall time since the process started. Both clocks count from boot:
    /proc starttime is in clock ticks."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf(
        "SC_CLK_TCK"
    )


def head_commit() -> str | None:
    """HEAD of the checkout, if the checkout is its own git repository."""
    try:
        top = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout.split()
    except (OSError, subprocess.SubprocessError):
        return None
    return top[1] if len(top) == 2 and Path(top[0]) == ROOT else None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf-dir")
    return p.parse_args(argv)


def main(argv=None) -> int:
    steal_at_start = steal_s()
    args = parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not PACKAGE.is_dir():
        print(f"perfbench: no package at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import harness

    args.sf_dir = args.sf_dir or harness.default_sf_dir()
    if not Path(args.sf_dir, "lineitem.parquet").is_file():
        print(f"perfbench: no testdata at {args.sf_dir}", file=sys.stderr)
        return 2
    run_dir = OUT / f"run-{os.getpid()}"
    try:
        return _run(args, spec, run_dir, steal_at_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, spec: dict, run_dir: Path, steal_at_start: float) -> int:
    import harness
    from tracer import NullTracer, Tracer, install

    workload = harness.WORKLOADS.get(args.workload)
    if workload is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    t0 = time.perf_counter()
    spark = harness.start_session(run_dir)
    session_s = time.perf_counter() - t0
    digest = harness.source_digest(PACKAGE)
    oracles = harness.Oracles(args.sf_dir, OUT / "oracle-cache", digest)
    try:
        tracer = Tracer(spark) if args.trace else NullTracer()
        undo = install(tracer) if args.trace else (lambda: None)
        ctx = harness.Ctx(spark, args.sf_dir, args.seed, tracer, oracles)
        setup_s = unstolen(seconds_since_process_start(), steal_s() - steal_at_start)
        try:
            records = harness.measure(ctx, workload, args.seconds)
        finally:
            undo()
    finally:
        oracles.close()
        harness.stop_session(spark)

    failed = sum(r["error"] is not None for r in records)
    measured = {
        "setup_s": setup_s,
        "cold_op_s": records[0]["time_s"],
        "op_s": statistics.median(r["time_s"] for r in harness.warm(records)),
        "driver_peak_rss_mb": max(r["peak_rss_mb"] for r in records),
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "provenance": provenance(args, digest),
        "session_s": session_s,
        "ops": records,
    }
    if args.trace:
        layers = harness.layer_metrics(tracer, records)
        layers["session.start_s"] = session_s
        measured = layers
        detail["per_layer"] = layers
        detail["warehouse_accounting"] = [
            harness.build_accounting(tracer, r) for r in records
        ]
        detail["spans"] = str(write_spans(args, tracer, detail))
    section = "per_layer" if args.trace else "end_to_end"
    metrics = {
        m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
        for m in spec[section]
    }
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def provenance(args, digest: str) -> dict:
    import duckdb
    import pyspark
    from harness import DRIVER_MEMORY

    try:
        sf = float(Path(args.sf_dir).name.removeprefix("sf"))
    except ValueError:
        sf = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": DRIVER_MEMORY,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "testdata": args.sf_dir,
        "sf": sf,
        "seed": args.seed,
        "head": head_commit(),
        # identifies the program where the checkout is not a git repository
        "package_sha256": digest,
    }


def write_spans(args, tracer, detail: dict) -> Path:
    path = OUT / "traces" / f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps({**detail, "spans": tracer.spans}, default=str))
    return path


if __name__ == "__main__":
    sys.exit(main())
