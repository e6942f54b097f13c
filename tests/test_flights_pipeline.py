"""End-to-end flights pipeline tests (SURVEY.md §5.2.2-5.2.4).

Covers:
* golden run: 7-day backfill loads every in-window source row, and the
  blind-spot rows (updated_at > 23:59:59.000) are excluded exactly like
  the reference excludes them (SURVEY.md §7.4.2),
* idempotency: re-running a ds leaves staging content identical
  (the reference's core guarantee, ``dags/flights_data_pipeline.py:168-177``),
* codegen reuse: re-running the pipeline finds its generated classes
  in the codegen cache,
* skip-on-empty: seats has one empty day ⇒ SKIPPED status (``:116-117``),
* transform oracle: every dim/fact hash-matches its DuckDB twin,
* property tests: occupancy ∈ [0,1]; SUM(fct amount) per booking ==
  bookings.total_amount; fact FKs resolve to dim rows.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter
from decimal import Decimal

import duckdb
import pytest

from flights_data_pipeline_spark.pipeline import fixtures
from flights_data_pipeline_spark.pipeline.etl import TABLES, LoadStatus
from flights_data_pipeline_spark.pipeline.runner import run_day, run_pipeline
from flights_data_pipeline_spark.pipeline.transforms import ORACLES, TRANSFORMS

from .oracle_utils import rows_to_multiset

DS_LIST = [d.isoformat() for d in fixtures.DAYS]
N_BOOKINGS = 400


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("flights")
    return {
        "source": str(base / "source"),
        "landing": str(base / "landing"),
        "staging": str(base / "staging"),
        "warehouse": str(base / "warehouse"),
    }


@pytest.fixture(scope="module")
def pipeline_run(spark, dirs):
    fixtures.write_source(spark, dirs["source"], seed=42, n_bookings=N_BOOKINGS)
    results = run_pipeline(
        spark, dirs["source"], dirs["landing"], dirs["staging"],
        dirs["warehouse"], DS_LIST,
    )
    return results


def _staging_counts(spark, dirs):
    return {
        t: spark.read.parquet(f"{dirs['staging']}/{t}").count() for t in TABLES
    }


def test_golden_load_excludes_blind_spot(spark, dirs, pipeline_run):
    """All source rows load except those in the 23:59:59.xxx blind spot."""
    for t in TABLES:
        src = spark.read.parquet(f"{dirs['source']}/{t}")
        in_window = src.filter(
            "updated_at <= date_trunc('second', updated_at)"
        ).count()
        n_blind = src.count() - in_window
        stg = spark.read.parquet(f"{dirs['staging']}/{t}").count()
        assert stg == in_window, f"{t}: staged {stg} != in-window {in_window}"
        if t == "tickets":
            assert n_blind > 0, "fixture must include blind-spot rows"


def test_skip_on_empty_day(spark, dirs, pipeline_run):
    """seats has zero rows on SEATS_EMPTY_DAY ⇒ that load is SKIPPED."""
    empty_ds = fixtures.SEATS_EMPTY_DAY.isoformat()
    results = run_day(
        spark, dirs["source"], dirs["landing"], dirs["staging"], empty_ds
    )
    by_table = {r.table: r for r in results}
    assert by_table["seats"].status is LoadStatus.SKIPPED
    assert by_table["bookings"].status is LoadStatus.LOADED


def test_idempotent_rerun(spark, dirs, pipeline_run):
    """Re-running a ds leaves every staging table's content identical."""
    before = {
        t: Counter(map(tuple, spark.read.parquet(f"{dirs['staging']}/{t}").collect()))
        for t in TABLES
    }
    rerun_ds = DS_LIST[2]
    run_day(spark, dirs["source"], dirs["landing"], dirs["staging"], rerun_ds)
    after = {
        t: Counter(map(tuple, spark.read.parquet(f"{dirs['staging']}/{t}").collect()))
        for t in TABLES
    }
    for t in TABLES:
        assert before[t] == after[t], f"{t}: rerun of {rerun_ds} changed content"


def _janino_compiles(spark) -> int:
    """Generated classes compiled so far in this JVM."""
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


def test_rerun_reuses_generated_code(spark, dirs, pipeline_run):
    """A second run over the same inputs (idempotent) finds its generated
    classes in Spark's codegen cache: the session's cap
    (``session.CODEGEN_CACHE_ENTRIES``) holds the pipeline's ~250
    classes, where Spark's default of 100 makes a rerun compile ~230 of
    them again.

    The bound is not 0: a codegen stage's id is part of its generated
    source, and AQE can number two transforms' stages 3 and 4 the other
    way round on a rerun, which compiles those 4 classes again (measured:
    0 or 4 per rerun)."""
    before = _janino_compiles(spark)
    run_pipeline(
        spark, dirs["source"], dirs["landing"], dirs["staging"],
        dirs["warehouse"], DS_LIST,
    )
    assert _janino_compiles(spark) - before <= 5


@pytest.fixture(scope="module")
def warehouse_oracle(spark, dirs, pipeline_run):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{dirs['staging']}/{t}/**/*.parquet'"
        )
    return con


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_transform_matches_oracle(spark, dirs, warehouse_oracle, name):
    sdf = TRANSFORMS[name](spark, dirs["staging"])
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    cur = warehouse_oracle.execute(ORACLES[name])
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    assert sorted(s_cols) == sorted(o_cols), f"{name}: {s_cols} vs {o_cols}"
    assert rows_to_multiset(s_rows, s_cols) == rows_to_multiset(o_rows, o_cols), (
        f"{name}: value mismatch ({len(s_rows)} vs {len(o_rows)} rows)"
    )


def test_property_occupancy_rate_bounds(spark, dirs, pipeline_run):
    f = spark.read.parquet(f"{dirs['warehouse']}/fct_seat_occupied_daily")
    bad = f.filter("occupancy_rate < 0 OR occupancy_rate > 1").count()
    assert bad == 0


def test_property_booking_totals(spark, dirs, pipeline_run):
    """SUM(segment amount) per booking == bookings.total_amount.

    Holds only for bookings whose tickets all loaded (blind-spot ticket
    rows are deliberately excluded from staging), so compare on the
    source zone where the invariant is total by construction.
    """
    tf = spark.read.parquet(f"{dirs['source']}/ticket_flights")
    t = spark.read.parquet(f"{dirs['source']}/tickets")
    b = spark.read.parquet(f"{dirs['source']}/bookings")
    per_booking = (
        tf.join(t.select("ticket_no", "book_ref"), "ticket_no")
        .groupBy("book_ref")
        .agg({"amount": "sum"})
        .withColumnRenamed("sum(amount)", "seg_total")
    )
    joined = b.join(per_booking, "book_ref", "left").filter(
        "total_amount != COALESCE(seg_total, CAST(0 AS DECIMAL(18,2)))"
    )
    assert joined.count() == 0


def test_property_fact_fks_resolve(spark, dirs, pipeline_run):
    """Every fact surrogate key resolves to a dim row (J5)."""
    wh = dirs["warehouse"]
    fbp = spark.read.parquet(f"{wh}/fct_boarding_pass")
    dp = spark.read.parquet(f"{wh}/dim_passenger")
    dangling = fbp.join(dp, "passenger_sk", "left_anti").count()
    assert dangling == 0

    fso = spark.read.parquet(f"{wh}/fct_seat_occupied_daily")
    dd = spark.read.parquet(f"{wh}/dim_date")
    dangling_dates = fso.join(
        dd, fso.flight_date_key == dd.date_key, "left_anti"
    ).count()
    assert dangling_dates == 0
