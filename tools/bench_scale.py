#!/usr/bin/env python
"""The at-scale bench rung (round-10 VERDICT task 1): run the headline
at sf0.1 AND an sf1-equivalent (10× key-shifted, via gen_scale.py) in
one session, plus a 128× documents probe where the candidate-join
dispatch flips to its shuffle path NATURALLY — converting the
dispatch plan-pins into measured evidence.

What it records (one JSON line, -> BENCH_sf1.json):

* ``dispatch`` — the NATURAL (un-forced) decisions of the two
  size-adaptive dispatches at each scale: global-order naive vs
  two-phase on lineitem/documents scans, candidate-join mode on the
  LSH candidate frame. The rung's point: lineitem crosses the 64 MB
  threshold at sf1 (two-phase engages) and documents crosses it at
  128× (candidate shuffle path engages) with NO code or config change.
* ``probe_docs128`` — wall time of the three candidate-gated queries
  executed end-to-end at 640k documents on their naturally-chosen
  shuffle path (1 warm + 1 timed; these are the scale path's first
  non-forced executions).
* ``sf01``/``sf1`` — per-query medians for the full headline at both
  scales (bench.py's ``time_query`` protocol both passes), plus the flights
  warehouse build, plus per-query disk/memory spill and shuffle bytes
  from the UI REST API (job-group scoped, polled per query so stage
  eviction cannot lose rows).
* ``ratio`` — sf1/sf0.1 per query. Scaling tables are 10×, so ≈10 is
  linear for corpus-bound queries; constant-input queries
  (calendar dims) sit near 1.

Usage:
    python tools/bench_scale.py > BENCH_sf1.json
Environment: SPARK_GRAFT_SF01_DIR, SPARK_GRAFT_SF1_DIR,
SPARK_GRAFT_DOCS128_DIR override the default locations; data dirs are
(re)generated on demand via tools/gen_scale.py.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, WARMUPS, materialize, time_query  # noqa: E402
from flights_data_pipeline_spark.queries import REGISTRY  # noqa: E402
from flights_data_pipeline_spark.session import get_spark  # noqa: E402

SF01 = os.environ.get("SPARK_GRAFT_SF01_DIR", "/root/testdata/sf0.1")
SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/fdp_sf1")
DOCS128 = os.environ.get("SPARK_GRAFT_DOCS128_DIR", "/tmp/fdp_docs128")

GATED_QUERIES = [
    "minhash_lsh_candidates",
    "incremental_neardup_ingest",
    "longest_shared_run",
]


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/{path}", timeout=30) as r:
        return json.loads(r.read())


def _group_metrics(base: str, app_id: str, group: str) -> dict:
    ids: set[int] = set()
    for job in _get(base, f"applications/{app_id}/jobs"):
        if job.get("jobGroup") == group:
            ids.update(job.get("stageIds", []))
    tot = {"shuffle_mb": 0.0, "spill_disk_mb": 0.0, "spill_mem_mb": 0.0}
    for st in _get(base, f"applications/{app_id}/stages?status=complete"):
        if st["stageId"] not in ids:
            continue
        tot["shuffle_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
        tot["spill_disk_mb"] += st.get("diskBytesSpilled", 0) / 1e6
        tot["spill_mem_mb"] += st.get("memoryBytesSpilled", 0) / 1e6
    return {k: round(v, 2) for k, v in tot.items()}


def dispatch_probes(spark) -> dict:
    """Natural (un-forced) decisions of both size dispatches at every
    scale — driver-side plan estimates only, no jobs."""
    from flights_data_pipeline_spark.io.catalog import load_table
    from flights_data_pipeline_spark.operators import candidate_join as cj
    from flights_data_pipeline_spark.operators import global_order as go
    from flights_data_pipeline_spark.queries.dedup import (
        _lsh_candidates,
        _minhash_per_doc,
    )

    assert cj.FORCE is None and go.FORCE is None
    out: dict = {}
    for label, d in (("sf0.1", SF01), ("sf1", SF1), ("docs128", DOCS128)):
        per_doc = _minhash_per_doc(spark, d)
        cand = _lsh_candidates(per_doc)
        out[f"candidate_join[{label}]"] = cj.dispatch(cand, per_doc)
        docs = load_table(spark, d, "documents")
        out[f"documents_small[{label}]"] = go.plan_size_small(
            docs, go.NAIVE_MAX_BYTES
        )
    for label, d in (("sf0.1", SF01), ("sf1", SF1)):
        li = load_table(spark, d, "lineitem")
        out[f"lineitem_small[{label}]"] = go.plan_size_small(
            li, go.NAIVE_MAX_BYTES
        )
    return out


def run_pass(spark, sf_dir: str, base, app_id) -> dict:
    """One headline pass: bench.py protocol + REST per-query
    shuffle/spill."""
    from flights_data_pipeline_spark.queries.flights import _warehouse

    sc = spark.sparkContext

    def _gc() -> None:
        spark.catalog.clearCache()
        sc._jvm.System.gc()

    t0 = time.perf_counter()
    _warehouse(spark, sf_dir)
    build_sec = round(time.perf_counter() - t0, 4)
    _gc()

    timings: dict[str, float] = {}
    io: dict[str, dict] = {}
    for name in HEADLINE:
        q = REGISTRY.get(name)
        if q is None:
            continue
        group = f"bench_scale:{sf_dir}:{name}"
        sc.setJobGroup(group, name)
        try:
            timings[name] = round(
                time_query(
                    lambda: materialize(q.fn(spark, sf_dir)), _gc, WARMUPS
                ),
                4,
            )
        except Exception as exc:  # pragma: no cover - keep sweeping
            print(f"bench_scale: {name}@{sf_dir} failed: {exc}", file=sys.stderr)
            timings[name] = -1.0
            _gc()
        finally:
            # PySpark's SparkContext has no clearJobGroup; resetting
            # the local property detaches subsequent jobs
            sc.setLocalProperty("spark.jobGroup.id", None)
        try:
            io[name] = _group_metrics(base, app_id, group)
        except Exception:
            io[name] = {}
    total = round(sum(v for v in timings.values() if v >= 0), 4)
    spill = round(
        sum(m.get("spill_disk_mb", 0.0) for m in io.values())
        + sum(m.get("spill_mem_mb", 0.0) for m in io.values()),
        2,
    )
    return {
        "total_sec": total,
        "flights_build_sec": build_sec,
        "queries": timings,
        "io": io,
        "spill_mb_total": spill,
    }


def probe_docs128(spark) -> dict:
    """Execute the three candidate-gated queries end-to-end at 640k
    docs on whatever path the dispatch naturally picks (expected:
    shuffle — the corpus proxy exceeds the 64 MB certificate)."""
    from flights_data_pipeline_spark import session

    out = {}
    for name in GATED_QUERIES:
        q = REGISTRY[name]
        materialize(q.fn(spark, DOCS128))  # warm (codegen/JIT)
        t0 = time.perf_counter()
        materialize(q.fn(spark, DOCS128))
        out[name] = round(time.perf_counter() - t0, 4)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    # the memoized decisions these executions actually used
    out["decisions"] = {
        str(k[1][1]): v
        for k, v in session._MEMO.items()
        if k[1][0] == "dispatch"
        and isinstance(k[1][1], tuple)
        and DOCS128 in str(k[1][1])
    }
    return out


def probe_iterative_sf1(spark) -> dict:
    """Round-12 VERDICT #6: exercise the ITERATIVE graph paths at sf1
    by forcing past the small-graph dispatch (the sf1 pair/co-purchase
    graphs still sit under SMALL_GRAPH_MAX_EDGES, so the natural
    dispatch keeps the single-task path; production-scale graphs take
    the loop, and this probe keeps that plan measured end-to-end).
    1 warm + 1 timed per query; FORCE restored afterwards."""
    from flights_data_pipeline_spark.operators import graph as G

    out = {}
    prev = G.FORCE
    G.FORCE = "iterative"
    try:
        for name in (
            "near_dup_clusters",
            "kcore_summary",
            "pagerank_copurchase",
        ):
            q = REGISTRY[name]
            materialize(q.fn(spark, SF1))  # warm (codegen/JIT)
            t0 = time.perf_counter()
            materialize(q.fn(spark, SF1))
            out[name] = round(time.perf_counter() - t0, 4)
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
    finally:
        G.FORCE = prev
    return out


def main() -> None:
    spark = get_spark(
        "fdp-bench-scale",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4048"},
    )
    sc = spark.sparkContext
    base, app_id = sc.uiWebUrl, sc.applicationId

    # (re)generate scaled inputs on demand (idempotent via manifest)
    from tools.gen_scale import generate

    gen = {
        "sf1": generate(spark, SF01, SF1, 10),
        "docs128": generate(spark, SF01, DOCS128, 128, ["documents"]),
    }

    dispatch = dispatch_probes(spark)
    probe = probe_docs128(spark)
    iterative = probe_iterative_sf1(spark)
    sf01 = run_pass(spark, SF01, base, app_id)
    sf1 = run_pass(spark, SF1, base, app_id)

    ratio = {
        n: round(sf1["queries"][n] / sf01["queries"][n], 2)
        for n in sf1["queries"]
        if sf01.get("queries", {}).get(n, 0) > 0 and sf1["queries"][n] >= 0
    }
    print(
        json.dumps(
            {
                "metric": "headline_scale_rung",
                "unit": "sec",
                "counts": {k: v.get("counts") for k, v in gen.items()},
                "dispatch": dispatch,
                "probe_docs128": probe,
                "probe_iterative_sf1": iterative,
                "sf01": sf01,
                "sf1": sf1,
                "ratio": ratio,
            }
        )
    )


if __name__ == "__main__":
    main()
