"""Extract → land → load with idempotent day-window upsert.

Spark-first re-expression of the reference's ELT spine
(SURVEY.md §2.1, §3):

* **extract** (S1/S2): scan the source table, optionally filtered to the
  closed day window ``updated_at ∈ [ds 00:00:00, ds 23:59:59]``
  (reference ``dags/flights_data_pipeline.py:102-109``). The predicate
  is declarative, so Catalyst pushes it into the parquet (or JDBC)
  scan. The window's end is *inclusive at second precision* — rows in
  the ``23:59:59.001..23:59:59.999`` blind spot are excluded exactly
  like the reference excludes them (SURVEY.md §7.4.2: reproduce, don't
  fix).
* **land** (S3/S4): CSV snapshot per table per run through
  ``csv_codec`` (reference NULL convention).
* **load/upsert** (S5/S6): dynamic partition overwrite on
  ``updated_date`` — the Spark-native equivalent of the reference's
  DELETE day-window + INSERT (``:168-177``). Re-running a ds replaces
  exactly that day's partition: idempotent by construction, exactly
  like the reference's only mutation primitive. At 100 TB the staging
  zone is date-partitioned so each daily load touches one partition
  and backfills parallelize per-day.

Skip-on-empty (O3): extract returning zero rows short-circuits the
load (reference ``:116-117``); ``isEmpty`` is a cheap ``limit 1`` job.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import csv_codec
from .fixtures import SCHEMAS, TABLES


class LoadStatus(Enum):
    LOADED = "loaded"
    SKIPPED = "skipped"


@dataclass
class LoadResult:
    table: str
    ds: str | None
    status: LoadStatus
    n_rows: int


def day_window(ds: str):
    """Closed day window on ``updated_at`` (inclusive 23:59:59)."""
    return F.col("updated_at").between(f"{ds} 00:00:00", f"{ds} 23:59:59")


#: JDBC driver class per URL scheme (extend as sources are added).
_JDBC_DRIVERS = {
    "jdbc:duckdb:": "org.duckdb.DuckDBDriver",
    "jdbc:postgresql:": "org.postgresql.Driver",
}


def extract(
    spark: SparkSession, source_dir: str, table: str, ds: str | None = None
) -> DataFrame:
    """S1 (full) / S2 (incremental watermark) scan of a source table.

    ``source_dir`` is either a directory of per-table parquet (the test
    fixture layout) or a ``jdbc:`` URL — the reference's real source is
    a database over the wire (``dags/flights_data_pipeline.py:111-112``),
    and the JDBC path pushes the day window INTO the database as a
    subquery so only the day's rows cross the wire (S2 semantics,
    identical blind-spot behavior).
    """
    if source_dir.startswith("jdbc:"):
        from ..io.jdbc import JdbcConfig, jdbc_scan

        driver = next(
            (d for prefix, d in _JDBC_DRIVERS.items()
             if source_dir.startswith(prefix)),
            None,
        )
        cfg = JdbcConfig(url=source_dir, table=table, driver=driver)
        return jdbc_scan(spark, cfg, ds=ds)
    # the known schema: inferring it would cost a footer-read job per call
    df = spark.read.schema(SCHEMAS[table]).parquet(f"{source_dir}/{table}")
    if ds is not None:
        df = df.filter(day_window(ds))
    return df


def load_upsert(
    df: DataFrame, staging_dir: str, table: str, ds: str | None
) -> None:
    """S6: idempotent day-window upsert via dynamic partition overwrite."""
    staged = df.withColumn("updated_date", F.to_date("updated_at"))
    mode = "overwrite"
    writer = staged.write.mode(mode).partitionBy("updated_date")
    if ds is None:
        # full load: truncate-and-reload the whole table (reference :177)
        writer.option("partitionOverwriteMode", "static")
    else:
        # incremental: replace only the day's partition (reference :168-175)
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(f"{staging_dir}/{table}")


def run_extract_load(
    spark: SparkSession,
    source_dir: str,
    landing_dir: str,
    staging_dir: str,
    table: str,
    ds: str | None = None,
) -> LoadResult:
    """One table through extract → CSV landing → staging upsert."""
    src = extract(spark, source_dir, table, ds)
    if src.isEmpty():
        return LoadResult(table, ds, LoadStatus.SKIPPED, 0)
    land_path = f"{landing_dir}/{table}"
    csv_codec.write_csv(src, land_path)
    landed = csv_codec.read_csv(spark, land_path, SCHEMAS[table])
    # row-count metric rides the staging write itself (Observation
    # collects named aggregates during the action) — the reference DAG
    # logs per-task row counts the same way its COPY reports them; a
    # .count() here would re-scan the landed CSV just for the number.
    obs = Observation()
    landed = landed.observe(obs, F.count(F.lit(1)).alias("n_rows"))
    load_upsert(landed, staging_dir, table, ds)
    return LoadResult(table, ds, LoadStatus.LOADED, int(obs.get["n_rows"]))


def read_staging(spark: SparkSession, staging_dir: str, table: str) -> DataFrame:
    """A staging table, read with its known schema (no footer-read job).
    Staging is only ever written by :func:`load_upsert` from a landed
    CSV read with ``SCHEMAS[table]``, so that schema plus the
    ``updated_date`` partition column is exact."""
    schema = T.StructType(
        SCHEMAS[table].fields + [T.StructField("updated_date", T.DateType())]
    )
    return spark.read.schema(schema).parquet(f"{staging_dir}/{table}")


__all__ = [
    "TABLES",
    "LoadResult",
    "LoadStatus",
    "day_window",
    "extract",
    "load_upsert",
    "run_extract_load",
    "read_staging",
]
