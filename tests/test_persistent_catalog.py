"""Bucketed layout metadata survives the session: write in one
process, join shuffle-free in a FRESH process (SURVEY.md §4.4's
bucket-the-facts advice only pays if the bucket spec outlives the
nightly job that wrote it)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str) -> str:
    r = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=REPO,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    return r.stdout


def test_bucket_spec_survives_process_restart(tmp_path_factory, sf_dir):
    wh = str(tmp_path_factory.mktemp("persistent_wh"))

    # process 1: create the metastore, write two co-bucketed tables
    _run(f"""
        import sys; sys.path.insert(0, {REPO!r})
        from flights_data_pipeline_spark.session import get_persistent_spark
        from flights_data_pipeline_spark.io.catalog import load_table
        spark = get_persistent_spark({wh!r}, cpus=4)
        li = load_table(spark, {sf_dir!r}, "lineitem").select("l_orderkey", "l_quantity")
        o = load_table(spark, {sf_dir!r}, "orders").select("o_orderkey", "o_totalprice")
        for df, name, key in [(li, "li_persist", "l_orderkey"), (o, "o_persist", "o_orderkey")]:
            (df.write.mode("overwrite").bucketBy(8, key).sortBy(key)
               .saveAsTable(name))
        print("WROTE", spark.table("li_persist").count(), spark.table("o_persist").count())
        spark.stop()
    """)

    # process 2: brand-new JVM — catalog must still know the buckets
    out = _run(f"""
        import sys; sys.path.insert(0, {REPO!r})
        from flights_data_pipeline_spark.session import get_persistent_spark
        spark = get_persistent_spark({wh!r}, cpus=4)
        lb, ob = spark.table("li_persist"), spark.table("o_persist")
        desc = "\\n".join(str(r) for r in spark.sql("DESCRIBE EXTENDED li_persist").collect())
        assert "Num Buckets" in desc and "8" in desc, desc
        j = lb.join(ob.hint("merge"), lb.l_orderkey == ob.o_orderkey)
        j.createOrReplaceTempView("_t")
        plan = "\\n".join(r[0] for r in spark.sql("EXPLAIN FORMATTED SELECT * FROM _t").collect())
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        print("JOIN_ROWS", j.count())
        spark.stop()
    """)
    assert "JOIN_ROWS" in out
