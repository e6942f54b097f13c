"""Self-tests of the benchmark: repeatable job counts, and a corrupted
output counted as a failed op.

    python -m pytest perfbench/test_harness.py -q -p no:cacheprovider

They run real ops on the sf0.1 testdata (a few minutes on 4 cores).
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import harness  # noqa: E402
from tracer import Tracer, install  # noqa: E402

SF_DIR = harness.default_sf_dir()
pytestmark = pytest.mark.skipif(
    not Path(SF_DIR, "lineitem.parquet").is_file(), reason=f"no testdata at {SF_DIR}"
)


@pytest.fixture(scope="module")
def ctx():
    out = ROOT / ".perfbench"
    run_dir = out / f"test-{os.getpid()}"
    spark = harness.start_session(run_dir)
    tracer = Tracer(spark)
    undo = install(tracer)
    oracles = harness.Oracles(
        SF_DIR, out / "oracle-cache",
        harness.source_digest(ROOT / "flights_data_pipeline_spark"),
    )
    try:
        yield harness.Ctx(spark, SF_DIR, 7, tracer, oracles)
    finally:
        undo()
        oracles.close()
        harness.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _jobs(ctx, record) -> dict[str, float]:
    layers = harness.op_layers(ctx.tracer, record)
    return {k: v for k, v in layers.items()
            if k == "spark.jobs" or (k.startswith("q.") and k.endswith(".jobs"))}


@pytest.mark.parametrize("name", sorted(harness.WORKLOADS))
def test_job_counts_repeat_between_warm_ops(ctx, name):
    # the cold op may run extra jobs (memo misses), so compare two warm ops
    records = harness.measure(ctx, harness.WORKLOADS[name], 0, min_warm=2)
    assert [r["error"] for r in records] == [None] * 3
    first, second = (_jobs(ctx, r) for r in records[1:])
    assert first["spark.jobs"] > 0
    assert first == second


def _drop_first_row(ctx, path: str) -> None:
    df = ctx.spark.read.parquet(path)
    rows = df.collect()
    ctx.spark.createDataFrame(rows[1:], df.schema).write.mode("overwrite").parquet(
        path
    )


def test_corrupted_warehouse_output_fails_the_op(ctx):
    build = harness.WORKLOADS["warehouse_build"]

    def run_then_corrupt(c, op):
        warehouse = build.run(c, op)
        _drop_first_row(c, f"{warehouse}/dim_airport")
        return warehouse

    corrupted = harness.Workload(
        "corrupted_build", run_then_corrupt, build.check, build.release
    )
    records = harness.measure(ctx, corrupted, 0)
    # the cold op and the last op are checked; here they are all the ops
    assert [r["checked"] for r in records] == [True, True]
    assert all("flights_dim_airport" in r["error"] for r in records)


def test_corrupted_query_output_fails_the_check(ctx):
    df = harness.REGISTRY["pricing_summary"].fn(ctx.spark, SF_DIR)
    assert harness._check_queries(ctx, {"pricing_summary": df}) == []
    wrong = df.limit(df.count() - 1)
    assert harness._check_queries(ctx, {"pricing_summary": wrong}) == [
        "pricing_summary"
    ]


def test_sf01_bpe_oracle_is_pinned():
    # the pin list is fixed when the package is imported; unpinned, the
    # BPE oracle answers no rows
    from flights_data_pipeline_spark.queries import pinned_oracles

    assert SF_DIR in pinned_oracles.PINNED_SF_DIRS
