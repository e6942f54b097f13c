"""``session.get_spark``: the pinned codegen cache, and a live session
left as it is."""

from __future__ import annotations

from flights_data_pipeline_spark.session import CODEGEN_CACHE_ENTRIES, get_spark

SHUFFLE = "spark.sql.shuffle.partitions"


def test_session_pins_codegen_cache(spark):
    key = "spark.sql.codegen.cache.maxEntries"
    assert CODEGEN_CACHE_ENTRIES > 100  # Spark's default thrashes
    assert spark.sparkContext.getConf().get(key) == str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get(key) == str(CODEGEN_CACHE_ENTRIES)


def test_get_spark_leaves_live_session_untouched(spark, monkeypatch):
    """A second in-process caller (the CLI's ``main()``) must not re-tune
    the shared session: ``getOrCreate`` would re-apply its runtime confs,
    here ``shuffle.partitions`` from ``SPARK_GRAFT_CPUS``."""
    before = spark.conf.get(SHUFFLE)
    other = str(int(before) // 2)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", other)
    try:
        assert get_spark("second-caller") is spark
        assert get_spark(shuffle_partitions=int(other)) is spark
        assert spark.conf.get(SHUFFLE) == before
    finally:
        spark.conf.set(SHUFFLE, before)
