"""Partition-level incremental fact refresh == full rebuild.

``pipeline/incremental.py`` maintains fct_seat_occupied_daily by
recomputing only the flight_date_key partitions a day's staging load
could have touched. These tests pin the contract on the fixture
pipeline: day-by-day refresh over the full window ends bit-identical
to the full rebuild, a refresh only REWRITES the affected date
partitions (file-level check), and an idempotent re-run changes
nothing.
"""

from __future__ import annotations

import os
import tempfile

import pytest

from flights_data_pipeline_spark.pipeline import fixtures
from flights_data_pipeline_spark.pipeline.incremental import (
    FACT_SOURCES,
    affected_flight_dates,
    build_fact_partitioned,
    refresh_fact,
)
from flights_data_pipeline_spark.pipeline.runner import run_day

DAYS = [d.isoformat() for d in fixtures.DAYS]


@pytest.fixture(scope="module")
def staged(spark):
    """Fixture source loaded through the real extract→land→upsert
    spine for every day (staging carries updated_date partitions)."""
    base = tempfile.mkdtemp(prefix="fdp_incr_")
    dirs = {k: f"{base}/{k}" for k in ("source", "landing", "staging")}
    fixtures.write_source(spark, dirs["source"], seed=7, n_bookings=300)
    for ds in DAYS:
        run_day(spark, dirs["source"], dirs["landing"], dirs["staging"], ds)
    return base


def _snapshot(spark, path):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select(
            "flight_sk",
            "flight_date_key",
            "flight_id",
            "aircraft_code",
            "occupied_seats",
            "total_seats",
            "occupancy_rate",
        )
        .collect()
    )


def test_daywise_refresh_equals_full_rebuild(spark, staged):
    stg = f"{staged}/staging"
    full, incr = f"{staged}/fact_full", f"{staged}/fact_incr"
    build_fact_partitioned(spark, stg, full)
    for ds in DAYS:
        refresh_fact(spark, stg, incr, ds, fact="fct_seat_occupied_daily")
    assert _snapshot(spark, incr) == _snapshot(spark, full)


def test_refresh_rewrites_only_affected_partitions(spark, staged):
    stg = f"{staged}/staging"
    fact = f"{staged}/fact_touch"
    build_fact_partitioned(spark, stg, fact)

    def mtimes():
        out = {}
        for name in os.listdir(fact):
            if name.startswith("flight_date_key="):
                d = os.path.join(fact, name)
                out[name] = max(
                    os.path.getmtime(os.path.join(d, f))
                    for f in os.listdir(d)
                    if f.endswith(".parquet")
                )
        return out

    before = mtimes()
    ds = DAYS[2]
    affected = {
        f"flight_date_key={r['flight_date_key'].isoformat()}"
        for r in affected_flight_dates(spark, stg, ds).collect()
    }
    n = refresh_fact(spark, stg, fact, ds, fact="fct_seat_occupied_daily")
    assert n == len(affected) > 0
    after = mtimes()
    rewritten = {k for k in after if after[k] != before.get(k)}
    assert rewritten == affected, (rewritten, affected)
    # untouched partitions must be byte-identical history
    assert set(before) == set(after)


def _generic_snapshot(spark, path):
    df = spark.read.parquet(path)
    cols = sorted(df.columns)
    # key=repr: NULLable timestamp columns break tuple comparison
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


@pytest.mark.parametrize("fact", sorted(FACT_SOURCES))
def test_daywise_refresh_equals_full_rebuild_all_facts(spark, staged, fact):
    """The partition-refresh contract holds uniformly across all four
    facts (reference ``dags/flights_data_pipeline.py:229-238`` treats
    them as one transform family)."""
    stg = f"{staged}/staging"
    full = f"{staged}/allfacts_full_{fact}"
    incr = f"{staged}/allfacts_incr_{fact}"
    build_fact_partitioned(spark, stg, full, fact=fact)
    for ds in DAYS:
        refresh_fact(spark, stg, incr, ds, fact=fact)
    assert _generic_snapshot(spark, incr) == _generic_snapshot(spark, full)


def _write_staging_v(spark, stg, move_flight_2):
    """Two-flight staging: v1 has flight 2 on 2025-07-02; v2 moves its
    scheduled_departure across the date boundary to 2025-07-03 with a
    later updated_date (an upserted staging row, simulated)."""
    f2_dep = "2025-07-03 09:00:00" if move_flight_2 else "2025-07-02 11:00:00"
    f2_upd = "2025-06-11" if move_flight_2 else "2025-06-10"
    spark.createDataFrame(
        [
            (1, "2025-07-01 10:00:00", "320", "2025-06-10"),
            (2, f2_dep, "320", f2_upd),
        ],
        "flight_id int, sd string, aircraft_code string, ud string",
    ).selectExpr(
        "flight_id",
        "CAST(sd AS TIMESTAMP) AS scheduled_departure",
        "aircraft_code",
        "CAST(ud AS DATE) AS updated_date",
    ).write.mode("overwrite").parquet(f"{stg}/flights")
    spark.createDataFrame(
        [(1, 1, "2025-06-10"), (2, 1, "2025-06-10")],
        "flight_id int, boarding_no int, ud string",
    ).selectExpr(
        "flight_id", "boarding_no", "CAST(ud AS DATE) AS updated_date"
    ).write.mode("overwrite").parquet(f"{stg}/boarding_passes")
    spark.createDataFrame(
        [("320", "1A", "2025-06-10"), ("320", "1B", "2025-06-10")],
        "aircraft_code string, seat_no string, ud string",
    ).selectExpr(
        "aircraft_code", "seat_no", "CAST(ud AS DATE) AS updated_date"
    ).write.mode("overwrite").parquet(f"{stg}/seats")


def test_date_move_refreshes_and_vacates_old_partition(spark):
    """Round-7 ADVICE: a load that moves scheduled_departure across a
    flight_date_key boundary must refresh the OLD partition too — and
    since flight 2 was alone on 2025-07-02, the recompute empties that
    partition, which dynamic overwrite alone would leave stale on disk;
    the explicit vacate must remove it."""
    base = tempfile.mkdtemp(prefix="fdp_move_")
    stg, fact = f"{base}/staging", f"{base}/fact"
    _write_staging_v(spark, stg, move_flight_2=False)
    assert refresh_fact(spark, stg, fact, "2025-06-10") == 2
    assert os.path.isdir(f"{fact}/flight_date_key=2025-07-02")

    _write_staging_v(spark, stg, move_flight_2=True)
    assert refresh_fact(spark, stg, fact, "2025-06-11") == 2  # old + new date
    assert not os.path.exists(f"{fact}/flight_date_key=2025-07-02")
    assert os.path.isdir(f"{fact}/flight_date_key=2025-07-03")

    full = f"{base}/fact_full"
    build_fact_partitioned(spark, stg, full)
    assert _generic_snapshot(spark, fact) == _generic_snapshot(spark, full)


def test_seat_change_blast_radius_reaches_all_aircraft_dates(spark):
    """The seats→aircraft→flights chain: adding a seat on day 2 changes
    CAPACITY for every flight of that aircraft — on every date — so the
    refresh must rewrite both flights' partitions even though neither
    flight row was touched. Anything smaller breaks rebuild
    equivalence (the documented round-7 'capacity trade' is gone)."""
    base = tempfile.mkdtemp(prefix="fdp_seatchg_")
    stg, fact = f"{base}/staging", f"{base}/fact"
    _write_staging_v(spark, stg, move_flight_2=False)
    assert refresh_fact(spark, stg, fact, "2025-06-10") == 2

    # day 2: a third seat appears on aircraft 320 (no flight touched)
    spark.createDataFrame(
        [
            ("320", "1A", "2025-06-10"),
            ("320", "1B", "2025-06-10"),
            ("320", "2A", "2025-06-11"),
        ],
        "aircraft_code string, seat_no string, ud string",
    ).selectExpr(
        "aircraft_code", "seat_no", "CAST(ud AS DATE) AS updated_date"
    ).write.mode("overwrite").parquet(f"{stg}/seats")

    # both flights' dates are in the blast radius via the aircraft
    assert refresh_fact(spark, stg, fact, "2025-06-11") == 2
    total_seats = {
        r["flight_id"]: r["total_seats"]
        for r in spark.read.parquet(fact).collect()
    }
    assert total_seats == {1: 3, 2: 3}

    full = f"{base}/fact_full"
    build_fact_partitioned(spark, stg, full)
    assert _generic_snapshot(spark, fact) == _generic_snapshot(spark, full)


def test_refresh_is_idempotent(spark, staged):
    stg = f"{staged}/staging"
    fact = f"{staged}/fact_idem"
    for ds in DAYS:
        refresh_fact(spark, stg, fact, ds, fact="fct_seat_occupied_daily")
    before = _snapshot(spark, fact)
    refresh_fact(spark, stg, fact, DAYS[3], fact="fct_seat_occupied_daily")
    assert _snapshot(spark, fact) == before


def _write_staging_null(spark, stg, give_flight_3_a_date):
    """Flight 3 has NO scheduled_departure in v1 (NULL date partition);
    v2 assigns it a real date with a later updated_date."""
    f3_dep = "2025-07-04 08:00:00" if give_flight_3_a_date else None
    f3_upd = "2025-06-11" if give_flight_3_a_date else "2025-06-10"
    spark.createDataFrame(
        [
            (1, "2025-07-01 10:00:00", "320", "2025-06-10"),
            (3, f3_dep, "320", f3_upd),
        ],
        "flight_id int, sd string, aircraft_code string, ud string",
    ).selectExpr(
        "flight_id",
        "CAST(sd AS TIMESTAMP) AS scheduled_departure",
        "aircraft_code",
        "CAST(ud AS DATE) AS updated_date",
    ).write.mode("overwrite").parquet(f"{stg}/flights")
    spark.createDataFrame(
        [(1, 1, "2025-06-10"), (3, 1, "2025-06-10")],
        "flight_id int, boarding_no int, ud string",
    ).selectExpr(
        "flight_id", "boarding_no", "CAST(ud AS DATE) AS updated_date"
    ).write.mode("overwrite").parquet(f"{stg}/boarding_passes")
    spark.createDataFrame(
        [("320", "1A", "2025-06-10"), ("320", "1B", "2025-06-10")],
        "aircraft_code string, seat_no string, ud string",
    ).selectExpr(
        "aircraft_code", "seat_no", "CAST(ud AS DATE) AS updated_date"
    ).write.mode("overwrite").parquet(f"{stg}/seats")


def test_null_flight_date_refreshes_and_vacates(spark):
    """Round-8 ADVICE: a flight with NULL scheduled_departure lands in
    the fact's NULL date partition (__HIVE_DEFAULT_PARTITION__). The
    refresh must handle the None date end-to-end — blast-radius sort,
    null-safe restricted transform, vacate — and refresh == rebuild
    must hold through a NULL→dated move."""
    base = tempfile.mkdtemp(prefix="fdp_nulldate_")
    stg, fact = f"{base}/staging", f"{base}/fact"
    _write_staging_null(spark, stg, give_flight_3_a_date=False)
    assert refresh_fact(spark, stg, fact, "2025-06-10") == 2
    null_part = f"{fact}/flight_date_key=__HIVE_DEFAULT_PARTITION__"
    assert os.path.isdir(null_part)
    full1 = f"{base}/fact_full1"
    build_fact_partitioned(spark, stg, full1)
    assert _generic_snapshot(spark, fact) == _generic_snapshot(spark, full1)

    # flight 3 gains a real date: NULL partition must be vacated
    _write_staging_null(spark, stg, give_flight_3_a_date=True)
    assert refresh_fact(spark, stg, fact, "2025-06-11") == 2  # NULL + new
    assert not os.path.exists(null_part)
    assert os.path.isdir(f"{fact}/flight_date_key=2025-07-04")
    full2 = f"{base}/fact_full2"
    build_fact_partitioned(spark, stg, full2)
    assert _generic_snapshot(spark, fact) == _generic_snapshot(spark, full2)
