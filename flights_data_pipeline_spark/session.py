"""SparkSession factory — M0 of the build plan (SURVEY.md §7.1).

Design decisions (all aimed at oracle-exact correctness + 100 TB posture):

* ``spark.sql.session.timeZone=UTC`` — the reference compares
  ``'{ds} 23:59:59'`` strings against timestamptz columns
  (reference ``dags/flights_data_pipeline.py:104-105``); pinning UTC makes
  day-window semantics deterministic and matches DuckDB's UTC-naive
  timestamps for the oracle tests.
* AQE on (+ coalescePartitions + skewJoin) — runtime re-planning at shuffle
  boundaries is the main lever that keeps a static plan viable at 1000×
  the test data.
* ``partitionOverwriteMode=dynamic`` — the engine's only mutation primitive
  is delete-day-window+insert (reference ``:168-177``); dynamic partition
  overwrite is the Spark-native equivalent (SURVEY.md §2.1 S6).
* shuffle partitions default to the local core count — 200 is wrong for
  local[32]; on a real cluster this would be set to ~2-3× total cores.
* Arrow enabled — every Python-side exchange (createDataFrame, toPandas,
  pandas_udf) is vectorized.
* ``spark.sql.codegen.cache.maxEntries`` = :data:`CODEGEN_CACHE_ENTRIES`
  (default 100). Whole-stage codegen caches compiled classes in an LRU
  keyed by the generated source; the engine's working set is larger
  than 100, so the default cache thrashes and every warm op recompiles
  (Janino) and reloads its classes, which also restarts the JIT on
  them. A warm warehouse build at sf0.1 compiled 246-258 classes at the
  default, and 0-4 with the cap; the counts are at the constant.
* A live session is returned untouched: ``getOrCreate`` would re-apply
  the caller's runtime confs (``shuffle.partitions`` among them) to it,
  and static confs such as the codegen cap cannot change after start.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

#: the engine's one driver-side memo, keyed (applicationId, caller key).
#: Holds values that are a pure function of the key within a session:
#: plans over the immutable sf_dir parquet, dispatch decisions, probe
#: answers and trained artifacts (BPE merges, k-means models).
_MEMO: dict[tuple[str, object], object] = {}
_MEMO_LOCK = threading.Lock()


def session_memo(spark: SparkSession, key: object, build):
    """``build()`` once per (session, ``key``); later calls return the
    same object. Callers prefix ``key`` with a tag naming what is cached.

    * ``build()`` runs OUTSIDE the lock: builds re-enter the memo (most
      reach ``io.catalog.load_table``) and may run Spark jobs.
    * Two callers that miss together both build; the first insert wins
      and both get that object back.
    * Presence is tested by key, so a falsy value is a hit.
    * An insert evicts every other application's entries, so a process
      that cycles sessions never keeps a stopped session's plans or
      checkpointed frames alive.
    """
    app_id = spark.sparkContext.applicationId
    full_key = (app_id, key)
    with _MEMO_LOCK:
        if full_key in _MEMO:
            return _MEMO[full_key]
    value = build()
    with _MEMO_LOCK:
        for stale in [k for k in _MEMO if k[0] != app_id]:
            del _MEMO[stale]
        return _MEMO.setdefault(full_key, value)


#: ``spark.sql.codegen.cache.maxEntries``, a static conf (read once, at
#: JVM start). Distinct generated classes, counted as Janino compiles
#: (``CodegenMetrics.METRIC_COMPILATION_TIME``) in a fresh ``local[4]``
#: session at sf0.1: one flights warehouse build 246, one pass of
#: perfbench's eager queries 119, one pass of the 76 ``bench.py``
#: headline queries 1,454 (a second pass adds 54). With the default of
#: 100 every warm build compiled ~250 classes again. With this cap, five
#: warm builds in one session compiled 4, 4, 0, 0, 0: the 4 are two
#: queries whose codegen stages AQE numbered the other way round. The
#: JVM's Metaspace went 166 -> 171 MB over those builds, as it grows at
#: the default (166 -> 167 MB over two).
CODEGEN_CACHE_ENTRIES = 2000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)


def get_spark(
    app_name: str = "flights-data-pipeline-spark",
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine's SparkSession with pinned semantics, or return
    the live one untouched (see the module docstring)."""
    live = SparkSession._instantiatedSession
    if live is not None and live._sc._jsc is not None:
        return live
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # filter pushdown into Python DataSources (io/pysource.py) —
        # off by default in 4.1, required for pushFilters to be called
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        # ContextCleaner frees shuffle files / broadcasts only after a
        # driver GC collects their refs; on a large-heap local session
        # GC is rare, so state accumulates and repeated queries degrade
        # 10-30× (measured). Forcing a periodic GC keeps cleanup flowing.
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_persistent_spark(
    warehouse_dir: str,
    app_name: str = "flights-data-pipeline-spark-metastore",
    *,
    cpus: int | None = None,
) -> SparkSession:
    """A session whose catalog SURVIVES the process: Hive-compatible
    metastore (embedded Derby, stored under ``warehouse_dir``) instead
    of the default in-memory catalog.

    Why it exists: bucketed tables (``bucketBy`` + ``saveAsTable``) are
    only zero-shuffle-joinable while the BUCKET SPEC is in a catalog —
    with the in-memory catalog that metadata dies with the session,
    so a nightly job would re-shuffle what last night's job carefully
    co-bucketed. Production replaces Derby with a shared metastore
    service or a table format's own catalog; the calling code is
    identical, which is the point of proving the flow here.

    Caveats: Derby is single-process (fine for one driver at a time —
    exactly the local deployment), and this must be the FIRST session
    in the JVM (enableHiveSupport cannot retrofit a live session).
    """
    cpus = cpus or default_parallelism()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.warehouse.dir", os.path.join(warehouse_dir, "wh"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={os.path.join(warehouse_dir, 'derby')}",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .enableHiveSupport()
        .getOrCreate()
    )
