"""Catalog of the driver-provided test tables (TESTDATA.md).

Parquet scans are the engine's canonical source: columnar, vectorized
reader, predicate pushdown and column pruning for free via Catalyst.
The reference's JDBC/CSV sources are modelled in ``csv_codec`` and
``operators.sources``; the parquet path here is what every query and
benchmark runs on.

Timestamp handling (two parquet quirks, both fixed here so every query
sees plain ``TimestampType`` in a UTC session):

* ``events.ts`` may be parquet TIMESTAMP(NANOS) (earlier testdata
  generations), which Spark's reader rejects outright. We read it via
  ``spark.sql.legacy.parquet.nanosAsLong`` (ns-since-epoch as
  LongType) and convert with **integer** division to microseconds —
  ns-since-epoch (~1.7e18) is far beyond double's 53-bit mantissa, so
  a float divide silently corrupts the low microseconds. Floor
  division matches DuckDB's TIMESTAMP_NS → µs truncation, so oracle
  comparisons stay exact. The conversion is applied only when the
  column actually reads back as LongType — TIMESTAMP(MICROS) data
  (current testdata generation) passes through untouched.
* The other tables' timestamps are not adjusted to UTC, which Spark 4
  infers as TIMESTAMP_NTZ. NTZ datetime kernels (datediff, casts to
  date, trunc) run 4-8× slower than the µs-since-epoch TimestampType
  path, so we pin ``spark.sql.parquet.inferTimestampNTZ.enabled=false``
  — with the session timezone pinned to UTC the values are identical.

Both confs are runtime-settable session confs; ``_pin_parquet_confs``
sets them idempotently so the engine behaves the same under any caller's
SparkSession (e.g. the driver's own).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..session import session_memo

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

_NANOS_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def _pin_parquet_confs(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-provided parquet table with engine-typed columns.

    ``sf_dir`` may be any supported filesystem URI (local, s3a://,
    hdfs:// …) — ``io.paths.validate_path`` gates the scheme at plan
    time, so pointing the engine at an object store is a conf change
    (``io.paths.s3a_conf``), not a code change."""
    from .paths import validate_path

    # re-pinned on every call, hits included: idempotent, and it heals
    # the memoized plan if an in-session caller flipped the confs
    _pin_parquet_confs(spark)

    def build() -> DataFrame:
        path = validate_path(f"{sf_dir}/{name}.parquet")
        df = spark.read.parquet(path)
        for c in _NANOS_TS_COLS.get(name, []):
            if isinstance(df.schema[c].dataType, LongType):
                df = df.withColumn(
                    c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
                )
        return df

    # memoizes the plan, never rows: saves the footer read and py4j
    # round-trips (~0.1 s per query build); each action re-scans
    return session_memo(spark, ("table", sf_dir, name), build)


def table_row_count(sf_dir: str, name: str) -> int:
    """Row count from parquet FOOTERS — no Spark job, no row reads.

    Adaptive operators (e.g. the sign-LSH plane dial in
    ``queries/similarity.py``) need the corpus size before building
    their plan; launching a count(*) job for it would cost a scheduling
    round-trip per query. Footer metadata is the same O(files) stat
    lookup a table format's catalog serves, so this is exactly what the
    100 TB deployment would do — just without the metastore."""
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        return sum(
            pq.read_metadata(os.path.join(root, f)).num_rows
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
    return pq.read_metadata(path).num_rows


def load_events_window(
    spark: SparkSession, sf_dir: str, start: str, end: str
) -> DataFrame:
    """Events within a closed ``[start, end]`` wall-clock window, with the
    range predicate pushed into the parquet scan.

    When ``ts`` reads back as TIMESTAMP(MICROS) (current testdata
    generation) a plain timestamp ``BETWEEN`` pushes into the scan
    natively and that is all we do. When it is TIMESTAMP(NANOS) read
    as a raw LongType (older generation via ``nanosAsLong``), a filter
    on the *converted* timestamp column cannot be pushed below the
    ns→µs conversion expression, so a naive
    ``load_table(...).filter(ts.between(...))`` reads every row group —
    a full scan at 100 TB. For that layout this helper translates the
    bounds to raw nanoseconds-since-epoch and filters the underlying
    LongType column first (Catalyst pushes plain long comparisons into
    the scan, so row groups outside the window are skipped via parquet
    min/max stats), then converts.
    """
    _pin_parquet_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if not isinstance(df.schema["ts"].dataType, LongType):
        return df.filter(
            F.col("ts").between(F.lit(start).cast("timestamp"),
                                F.lit(end).cast("timestamp"))
        )
    bounds = df.sparkSession.sql(
        f"SELECT CAST(unix_micros(TIMESTAMP '{start}') AS BIGINT) * 1000 AS lo,"
        f"       CAST(unix_micros(TIMESTAMP '{end}') AS BIGINT) * 1000 AS hi"
    ).first()
    return df.filter(F.col("ts").between(bounds.lo, bounds.hi)).withColumn(
        "ts", F.timestamp_micros(F.expr("`ts` div 1000"))
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver-provided parquet table as a DataFrame."""
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load and register each table as a temp view (for the SQL API)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
