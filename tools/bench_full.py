#!/usr/bin/env python
"""Full-registry warm sweep — a longitudinal perf row for EVERY query.

The driver bench times the headline queries; this tool times all of
them, or only the ones named on the command line, with bench.py's own
protocol (``bench.time_query``: ``bench.WARMUPS`` warmups + median of 3
timed, driver GC after every execution, noop sink), so each round
leaves a complete per-query timing artifact and an A/B of a few
queries needs no other tool.

Usage:
    python tools/bench_full.py > BENCH_full_rNN.json
    python tools/bench_full.py minhash_lsh_candidates near_dup_clusters
    python tools/bench_diff.py BENCH_full_r03.json BENCH_full_r04.json

Environment: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS. Output is bench_diff.py-compatible ONE-line JSON.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import WARMUPS, materialize, time_query  # noqa: E402
from flights_data_pipeline_spark.queries import REGISTRY  # noqa: E402
from flights_data_pipeline_spark.session import get_spark  # noqa: E402


def main(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"bench_full: unknown queries: {', '.join(unknown)}")
    spark = get_spark("fdp-spark-bench-full")

    # ContextCleaner frees dead broadcast/localCheckpoint blocks only
    # after a driver GC; without one after every execution a long sweep
    # accumulates enough executor state to inflate later queries 10×
    # (round-6 postmortem: cross_source_neardup_matrix 23.5 s in-sweep
    # vs 1.8 s isolated)
    def _gc() -> None:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    timings: dict[str, float] = {}
    for name in names or sorted(REGISTRY):
        q = REGISTRY[name]
        try:
            timings[name] = round(
                time_query(
                    lambda: materialize(q.fn(spark, sf_dir)), _gc, WARMUPS
                ),
                4,
            )
        except Exception as exc:  # pragma: no cover - keep sweeping
            print(f"bench_full: {name} failed: {exc}", file=sys.stderr)
            timings[name] = -1.0
            _gc()

    total = round(sum(v for v in timings.values() if v >= 0), 4)
    print(
        json.dumps(
            {
                "metric": "full_registry_total_median_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_queries": len(timings),
            }
        )
    )


if __name__ == "__main__":
    main(sys.argv[1:])
