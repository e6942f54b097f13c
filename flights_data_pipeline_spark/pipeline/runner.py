"""Pipeline runner: per-ds extract/load fan-out + ordered transforms.

Absorbs the reference's orchestration-level behavior (SURVEY.md §2.12):

* O1 — per-table extract fan-out (the 8 extracts are independent; a
  driver-side thread pool submits them as concurrent Spark jobs),
* O2 — extract→load dependency per table,
* O3 — skip-on-empty propagation (empty day window ⇒ SKIPPED,
  reference ``dags/flights_data_pipeline.py:116-117``),
* O4 — fixed transform topological order, dims before facts
  (``:229-251``),
* O5 — retry + failure-alert hook: the reference wires
  ``retries=1`` and an ``on_failure_callback`` webhook alert into
  every task (``dags/flights_data_pipeline.py:49-56``); the runner
  mirrors that with a ``retries`` count and an ``on_failure(step,
  exc)`` callback invoked once per step after retries are exhausted
  (Airflow's callback timing), before the error propagates,
* O6 — ``--ds`` driven daily runs with backfill; idempotency comes
  from the day-partition overwrite (S6), so re-running a ds is safe.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from .etl import TABLES, LoadResult, run_extract_load
from .transforms import TRANSFORM_ORDER, TRANSFORMS

#: O5 failure hook: called with (step_name, exception).
FailureCallback = Callable[[str, Exception], None]


def _with_retries(
    step: str,
    fn: Callable[[], object],
    retries: int,
    on_failure: FailureCallback | None,
):
    """Run ``fn``; retry up to ``retries`` times; on final failure fire
    the callback (alerting must never mask the real error) and re-raise.
    """
    for attempt in range(retries + 1):
        try:
            return fn()
        except Exception as exc:
            if attempt == retries:
                if on_failure is not None:
                    try:
                        on_failure(step, exc)
                    except Exception:
                        pass
                raise


def run_day(
    spark: SparkSession,
    source_dir: str,
    landing_dir: str,
    staging_dir: str,
    ds: str | None,
    max_parallel: int = 8,
    *,
    retries: int = 0,
    on_failure: FailureCallback | None = None,
) -> list[LoadResult]:
    """Extract+load all 8 tables for one ds (None ⇒ full load).

    Extracts fan out on driver threads (Spark schedules the jobs
    concurrently — O1); each table's load follows its own extract (O2).
    """
    with ThreadPoolExecutor(max_workers=max_parallel) as pool:
        futures = [
            pool.submit(
                _with_retries,
                f"extract_load:{t}",
                lambda t=t: run_extract_load(
                    spark, source_dir, landing_dir, staging_dir, t, ds
                ),
                retries,
                on_failure,
            )
            for t in TABLES
        ]
        return [f.result() for f in futures]


def run_transforms(
    spark: SparkSession,
    staging_dir: str,
    warehouse_dir: str,
    *,
    retries: int = 0,
    on_failure: FailureCallback | None = None,
) -> None:
    """Materialize dims then facts in the reference's fixed order (O4),
    each as a plain parquet overwrite of ``{warehouse_dir}/{name}``."""

    def step(name):
        TRANSFORMS[name](spark, staging_dir).write.mode("overwrite").parquet(
            f"{warehouse_dir}/{name}"
        )

    # O4 preserved as a BARRIER, not a total order: every transform
    # reads staging only and writes its own warehouse directory, so
    # tables within a tier are independent — dims fan out as
    # concurrent driver-thread jobs, then facts (the same overlap the
    # extract fan-out already uses; one table's write tail backfills
    # executors with the next table's scan). The dims→facts barrier
    # keeps the reference's topological contract for any future
    # fact-reads-dim transform.
    # loud tier-coverage guard (round-12 ADVICE): a future transform
    # named outside the dim_/fct_ prefixes must fail here, not be
    # silently skipped by the prefix filters below
    tiers = [n for n in TRANSFORM_ORDER if n.startswith(("dim_", "fct_"))]
    if set(tiers) != set(TRANSFORM_ORDER):
        missed = sorted(set(TRANSFORM_ORDER) - set(tiers))
        raise ValueError(f"transforms outside dim_/fct_ tiers: {missed}")
    for tier in ("dim_", "fct_"):
        names = [n for n in TRANSFORM_ORDER if n.startswith(tier)]
        with ThreadPoolExecutor(max_workers=max(1, len(names))) as pool:
            futures = [
                pool.submit(
                    _with_retries,
                    f"transform:{n}",
                    lambda n=n: step(n),
                    retries,
                    on_failure,
                )
                for n in names
            ]
            try:
                for f in futures:
                    f.result()
            except Exception:
                # keep the reference chain's failure semantics close
                # (round-12 ADVICE): a failed transform cancels the
                # tier's NOT-YET-STARTED siblings instead of fanning
                # more work out; already-running siblings finish (and
                # alert) — the Airflow-parallel reading documented in
                # test_runner_failures.
                pool.shutdown(wait=True, cancel_futures=True)
                raise


def run_pipeline(
    spark: SparkSession,
    source_dir: str,
    landing_dir: str,
    staging_dir: str,
    warehouse_dir: str,
    ds_list: list[str],
    *,
    retries: int = 0,
    on_failure: FailureCallback | None = None,
) -> list[LoadResult]:
    """Backfill-style run over a list of logical dates, then transforms."""
    results: list[LoadResult] = []
    for ds in ds_list:
        results.extend(
            run_day(
                spark,
                source_dir,
                landing_dir,
                staging_dir,
                ds,
                retries=retries,
                on_failure=on_failure,
            )
        )
    run_transforms(
        spark, staging_dir, warehouse_dir, retries=retries, on_failure=on_failure
    )
    return results
