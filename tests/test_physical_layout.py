"""Physical-layout tests: the 100 TB levers actually engage.

Asserts (via EXPLAIN FORMATTED) that:
* bucketed tables join WITHOUT a shuffle exchange (co-located join —
  SURVEY.md §4.4 "bucket facts by join keys"),
* writing date-partitioned staging gives partition-pruned scans
  (PartitionFilters, distinct from parquet row-group pruning),
* the day-window upsert rewrites only the targeted partition.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flights_data_pipeline_spark.io.catalog import load_table


def _explain(spark, df) -> str:
    df.createOrReplaceTempView("_explain_target")
    return "\n".join(
        r[0] for r in spark.sql("EXPLAIN FORMATTED SELECT * FROM _explain_target").collect()
    )


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path_factory):
    wh = tmp_path_factory.mktemp("bucketed")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    (
        li.write.mode("overwrite")
        .option("path", str(wh / "li"))
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("li_bucketed")
    )
    (
        o.write.mode("overwrite")
        .option("path", str(wh / "o"))
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("o_bucketed")
    )
    lb = spark.table("li_bucketed")
    ob = spark.table("o_bucketed")
    joined = lb.join(
        ob.hint("merge"), lb.l_orderkey == ob.o_orderkey
    )  # force sort-merge so broadcast can't mask bucketing
    plan = _explain(spark, joined)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan  # co-located: no shuffle at all
    # sanity: result matches the plain join
    assert joined.count() == li.join(o, li.l_orderkey == o.o_orderkey).count()


def test_partition_pruning_on_staged_table(spark, sf_dir, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("staged"))
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(base)

    q = spark.read.parquet(base).filter(F.col("event_date") == "2024-01-02")
    plan = _explain(spark, q)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "event_date" in pf[0], plan
    # partition pruning must reduce the files read to one day's worth
    assert q.count() > 0


def test_exists_shape_plans_semi_hash_join(spark, sf_dir):
    """Q4 shape: the correlated EXISTS must plan as a SEMI hash join
    with the non-equi predicate as a join filter — never a nested-loop
    (BroadcastNestedLoopJoin would be quadratic at scale)."""
    from flights_data_pipeline_spark.queries import REGISTRY

    df = REGISTRY["order_priority_exists"].fn(spark, sf_dir)
    plan = _explain(spark, df)
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_narrow_queries_have_no_exchange(spark, sf_dir):
    """Scan-bound per-row queries (token counts, hash split) must stay
    shuffle-free — one narrow codegen'd stage over the scan."""
    from flights_data_pipeline_spark.queries import REGISTRY

    for name in ("bpe_style_token_count", "train_test_split", "token_stats"):
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = _explain(spark, df)
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"
        # formatted EXPLAIN marks whole-stage-codegen nodes with a "*"
        assert "* Project" in plan or "* ColumnarToRow" in plan, (
            f"{name} not codegen'd:\n{plan}"
        )


def test_profile_table_is_single_scan(spark, sf_dir):
    """The profiler computes every column's metrics in ONE pass —
    exactly one parquet scan in the plan, not one per column."""
    from flights_data_pipeline_spark.queries import REGISTRY

    df = REGISTRY["profile_table"].fn(spark, sf_dir)
    plan = _explain(spark, df)
    # count scan nodes in the plan TREE only (the detail section below
    # repeats each node once more)
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, plan
    assert "Expand" in tree, plan  # multi-distinct via Expand, not re-scans


def test_pricing_summary_pushes_filter_and_prunes_columns(spark, sf_dir):
    """The flagship aggregate must push its date filter to parquet and
    read only the columns it uses (7 of 11)."""
    from flights_data_pipeline_spark.queries import REGISTRY

    df = REGISTRY["pricing_summary"].fn(spark, sf_dir)
    plan = _explain(spark, df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "l_shipdate" in pushed[0], plan
    schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schema and "l_orderkey" not in schema[0], schema  # pruned


def test_aqe_splits_skewed_join_partition(spark, tmp_path_factory):
    """The AQE skew-join lever actually engages: a sort-merge join with
    one hot key gets its skewed partition split at runtime (the
    executed plan marks the join ``skew=true``). This is the safety
    net that keeps a 100 TB join from stalling on one reducer."""
    d = str(tmp_path_factory.mktemp("skew"))
    # hot key 0: 200k rows; 100 cold keys: 50 rows each — written to
    # parquet so sizes are real, not estimates
    hot = spark.range(200_000).selectExpr("CAST(0 AS BIGINT) AS k", "id AS v")
    cold = spark.range(5_000).selectExpr("(id % 100) + 1 AS k", "id AS v")
    hot.unionAll(cold).write.mode("overwrite").parquet(f"{d}/big")
    spark.range(101).selectExpr("id AS k", "id * 10 AS w").write.mode(
        "overwrite"
    ).parquet(f"{d}/small")

    confs = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    )
    old = {c: spark.conf.get(c, None) for c in confs}
    try:
        # force sort-merge (both static + adaptive broadcast off) and
        # scale thresholds down so the test corpus counts as skewed
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        big = spark.read.parquet(f"{d}/big")
        small = spark.read.parquet(f"{d}/small")
        joined = big.join(small, "k")
        # execute THIS frame so its adaptive plan finalizes
        assert len(joined.collect()) == 205_000
        executed = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in executed, executed
        assert "skew=true" in executed, executed
    finally:
        for c, v in old.items():
            if v is not None:
                spark.conf.set(c, v)
            else:
                spark.conf.unset(c)


def test_dynamic_overwrite_touches_one_partition(spark, sf_dir, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("upsert"))
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(base)
    before = {
        r.event_date: r.n
        for r in spark.read.parquet(base).groupBy("event_date").count()
        .withColumnRenamed("count", "n").collect()
    }

    # rewrite only 2024-01-02 with a filtered slice (half the rows)
    day = ev.filter(F.col("event_date") == "2024-01-02")
    half = day.filter(F.col("event_id") % 2 == 0)
    (
        half.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(base)
    )
    after = {
        r.event_date: r.n
        for r in spark.read.parquet(base).groupBy("event_date").count()
        .withColumnRenamed("count", "n").collect()
    }
    import datetime as dt

    target = dt.date(2024, 1, 2)
    assert after[target] < before[target]
    for d in before:
        if d != target:
            assert after[d] == before[d], f"partition {d} was touched"


def test_minhash_verify_join_never_broadcasts_arrays(spark, sf_dir):
    """The minhash verification join must keep hash-set ARRAY payloads
    out of broadcast exchanges: array-carrying rows round-tripping
    through the driver caused intermittent multi-second GC spikes (the
    round-1 43s bench outlier and its smaller round-2 echo). Candidate
    id/count rows may broadcast; the set-carrying side must arrive via
    a shuffle join."""
    from flights_data_pipeline_spark.queries import REGISTRY

    df = REGISTRY["minhash_lsh_candidates"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan[:2000]
    # every broadcast exchange must be free of the hset/hs_a/hs_b arrays
    for chunk in plan.split("BroadcastExchange")[1:]:
        head = chunk.split("\n")[0]
        assert "hset" not in head and "hs_a" not in head and "hs_b" not in head, head


def test_disjunctive_predicate_pushes_single_side_implications(spark, sf_dir):
    """Q19 shape: the OR-of-ANDs mixes columns from both join sides, so
    the full predicate can only run as a join residual — but Catalyst
    must still push each side's own disjunction into its scan (the
    quantity envelope into lineitem, the brand/size brackets into
    part). Without that, the fact scan reads every row group."""
    from flights_data_pipeline_spark.queries import REGISTRY

    df = REGISTRY["disjunctive_bracket_revenue"].fn(spark, sf_dir)
    plan = _explain(spark, df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_quantity" in l for l in pushed), plan
    assert any("p_brand" in l for l in pushed), plan
    assert "BroadcastHashJoin" in plan, plan
    # the only exchanges are broadcast + the global-agg single partition
    assert "Exchange hashpartitioning" not in plan, plan


def test_profit_rollup_broadcasts_every_dim(spark, sf_dir):
    """Q9 shape: part/supplier/nation must all arrive via broadcast
    hash joins — the fact table is never shuffled for a dim lookup."""
    from flights_data_pipeline_spark.queries import REGISTRY

    df = REGISTRY["profit_by_nation_year"].fn(spark, sf_dir)
    plan = _explain(spark, df)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dormant_rich_plans_anti_join(spark, sf_dir):
    """Q22 shape: NOT EXISTS must plan as a LEFT ANTI hash join; the
    scalar threshold is the only nested-loop (1-row broadcast)."""
    from flights_data_pipeline_spark.queries import REGISTRY

    df = REGISTRY["dormant_rich_customers"].fn(spark, sf_dir)
    plan = _explain(spark, df)
    assert "LeftAnti" in plan, plan


def test_events_window_pushes_timestamp_bounds(spark):
    """load_events_window on TIMESTAMP(MICROS) data (current testdata
    generation): both window bounds reach the parquet scan as pushed
    timestamp filters — row groups outside the window never read."""
    from flights_data_pipeline_spark.io.catalog import load_events_window

    df = load_events_window(
        spark, "/root/testdata/sf0.01", "2024-01-05 00:00:00",
        "2024-01-08 00:00:00",
    )
    plan = _explain(spark, df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    assert "GreaterThanOrEqual(ts" in pushed[0], pushed[0]
    assert "LessThanOrEqual(ts" in pushed[0], pushed[0]
    assert df.count() > 0


def test_dynamic_partition_pruning_on_date_partitioned_fact(spark, tmp_path_factory):
    """A date-partitioned fact joined to a dim filtered on a NON-key
    attribute scans only the partitions the dim's surviving keys name —
    Spark injects a dynamicpruningexpression into PartitionFilters at
    runtime (the 100 TB lever for star joins over partitioned facts,
    where the filterable day set is only known after the dim filter)."""
    base = tmp_path_factory.mktemp("dpp")
    fact = spark.range(0, 20000).select(
        F.col("id"),
        (F.col("id") % 40).alias("day_key"),
        (F.col("id") * 3).alias("v"),
    )
    fact.write.mode("overwrite").partitionBy("day_key").parquet(str(base / "fact"))
    dim = spark.range(0, 40).select(
        F.col("id").alias("day_key"),
        F.concat(F.lit("day-"), F.col("id")).alias("label"),
    )
    dim.write.mode("overwrite").parquet(str(base / "dim"))
    f = spark.read.parquet(str(base / "fact"))
    d = spark.read.parquet(str(base / "dim")).filter(
        F.col("label").isin("day-3", "day-17")
    )
    joined = f.join(d, "day_key")
    plan = _explain(spark, joined)
    assert "dynamicpruning" in plan.lower(), plan
    assert "PartitionFilters" in plan
    # semantics: only the two surviving days' rows come back
    assert joined.count() == 2 * (20000 // 40)


def test_bucket_pruning_scans_one_bucket(spark, sf_dir, tmp_path_factory):
    """An equality filter on the bucket key prunes the scan to a
    SINGLE bucket (executed scan reports ``SelectedBucketsCount: 1 out
    of 8``) — the read-side payoff of bucketing beyond shuffle-free
    joins: a point lookup touches 1/n_buckets of the files no matter
    how large the table grows."""
    wh = tmp_path_factory.mktemp("bucket_prune")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    (
        o.write.mode("overwrite")
        .option("path", str(wh / "o"))
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("o_bucket_prune")
    )
    key = o.select("o_orderkey").first().o_orderkey
    conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    old = spark.conf.get(conf)
    # auto-bucketed-scan turns the bucketed layout OFF for scans with
    # no join/agg on the key — a point lookup must opt back in to get
    # the bucket-pruned read
    spark.conf.set(conf, "false")
    try:
        probe = spark.table("o_bucket_prune").filter(
            F.col("o_orderkey") == key
        )
        plan = _explain(spark, probe)
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan
        assert probe.count() >= 1
    finally:
        spark.conf.set(conf, old)


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """A selective dim-side filter injects a runtime BLOOM FILTER into
    the fact scan (``might_contain(...)`` guard fed by a
    ``bloom_filter_agg`` subquery) when broadcast is off the table —
    the shuffle-join analogue of DPP: fact rows that cannot match die
    at the scan instead of crossing the exchange. At 100 TB this is
    the difference between shuffling the whole fact table and
    shuffling the ~matching slice."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    confs = {
        # size thresholds assume cluster-scale tables; scale them to
        # the test corpus, and forbid broadcast so the bloom path (the
        # one a too-big-to-broadcast dim takes) is what gets planned
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = _explain(spark, j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        # and the filtered join still returns the right rows
        want = li.join(
            load_table(spark, sf_dir, "orders").filter(
                "o_orderpriority = '1-URGENT'"
            ),
            li.l_orderkey == F.col("o_orderkey"),
        ).count()
        assert j.count() == want > 0
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_schema_evolution_merge_on_read(spark, tmp_path_factory):
    """Additive schema evolution at the storage layer: generation 1
    lands without a column, generation 2 adds it; a ``mergeSchema``
    read unifies the generations (old rows NULL-padded), and the
    filter on the new column still pushes into the scan. This is the
    ingest reality a long-lived 100 TB table lives with — upstream
    adds a field, history is never rewritten."""
    base = str(tmp_path_factory.mktemp("evolve"))
    g1 = spark.range(0, 100).select(
        F.col("id").alias("event_id"), F.lit("v1").alias("payload")
    )
    g1.write.mode("overwrite").parquet(f"{base}/gen=1")
    g2 = spark.range(100, 150).select(
        F.col("id").alias("event_id"),
        F.lit("v2").alias("payload"),
        (F.col("id") % 5).alias("quality_score"),
    )
    g2.write.mode("overwrite").parquet(f"{base}/gen=2")

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"event_id", "payload", "quality_score", "gen"}
    assert merged.count() == 150
    # old generation surfaces as NULL, not as a read error
    assert merged.filter("gen = 1 AND quality_score IS NULL").count() == 100
    # a predicate on the evolved column pushes into the parquet scan
    q = merged.filter(F.col("quality_score") == 3)
    plan = _explain(spark, q)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "quality_score" in pushed[0], plan
    assert q.count() == 10


def test_cbo_column_stats_enable_broadcast_after_filter(spark):
    """Cost-based optimization uses ANALYZE'd COLUMN statistics to see
    through a selective dimension filter: the dim's on-disk size is
    above the broadcast threshold, but its post-filter cardinality
    estimate (from cat's NDV) is far below it — so with CBO on the
    planner picks BroadcastHashJoin where rule-based sizing falls back
    to SortMergeJoin. At 100 TB this is THE star-join planning lever:
    filtered dims broadcast only if the optimizer can estimate the
    filter, and it can only estimate it from collected stats.

    AQE is disabled here to isolate STATIC planning (AQE could rescue
    the join at runtime from observed shuffle sizes; the point of CBO
    stats is to get the right plan before running anything)."""
    import shutil

    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS cbo_fact")
    spark.sql("DROP TABLE IF EXISTS cbo_dim")
    # an in-memory catalog forgets managed tables between sessions but
    # their warehouse directories persist — clear any leftovers so
    # saveAsTable doesn't refuse the location
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for tbl in ("cbo_fact", "cbo_dim"):
        shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)
    spark.range(0, 500_000).select(
        F.col("id").alias("k"), (F.col("id") % 100_000).alias("d")
    ).write.mode("overwrite").saveAsTable("cbo_fact")
    spark.range(0, 100_000).select(
        F.col("id").alias("d"),
        (F.col("id") % 10).alias("cat"),
        F.md5(F.col("id").cast("string")).alias("pad"),
    ).write.mode("overwrite").saveAsTable("cbo_dim")
    spark.sql("ANALYZE TABLE cbo_fact COMPUTE STATISTICS FOR ALL COLUMNS")
    spark.sql("ANALYZE TABLE cbo_dim COMPUTE STATISTICS FOR ALL COLUMNS")

    q = (
        "SELECT f.k, d.pad FROM cbo_fact f "
        "JOIN cbo_dim d ON f.d = d.d WHERE d.cat = 0"
    )
    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.cbo.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(1024 * 1024))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.cbo.enabled", "false")
        plan_off = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
        spark.conf.set("spark.sql.cbo.enabled", "true")
        # stats reached the optimizer: exact rowCount (only surfaced
        # in plan stats once CBO is on), not a size guess
        st = (
            spark.table("cbo_dim")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
        )
        assert "100000" in st.rowCount().toString()
        plan_on = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS cbo_fact")
        spark.sql("DROP TABLE IF EXISTS cbo_dim")

    assert "SortMergeJoin" in plan_off and "BroadcastHashJoin" not in plan_off
    assert "BroadcastHashJoin" in plan_on


def test_zorder_layout_bounds_both_dimensions(spark, sf_dir, tmp_path_factory):
    """Range-partitioning by the Morton zvalue gives every output file
    a small bounding box in BOTH key dimensions, while a single-column
    sort only bounds its own column — the data-skipping win z-order
    layout exists for. Measured on real written parquet: per-file
    (min, max) spans, exactly what footer-based min/max pruning sees."""
    from flights_data_pipeline_spark.queries.io_functions import (
        _orders_with_zvalue,
    )

    keyed = _orders_with_zvalue(spark, sf_dir)

    n_files = 16
    zdir = str(tmp_path_factory.mktemp("zorder"))
    xdir = str(tmp_path_factory.mktemp("xsort"))
    keyed.repartitionByRange(n_files, "zvalue").write.mode("overwrite").parquet(zdir)
    keyed.repartitionByRange(n_files, "xk").write.mode("overwrite").parquet(xdir)

    def mean_span_fraction(path: str, col: str) -> float:
        per_file = (
            spark.read.parquet(path)
            .withColumn("f", F.input_file_name())
            .groupBy("f")
            .agg((F.max(col) - F.min(col)).alias("span"))
            .collect()
        )
        lo, hi = keyed.agg(F.min(col), F.max(col)).first()
        return sum(r["span"] for r in per_file) / len(per_file) / (hi - lo)

    # single-column sort: its own column is tightly bounded, the other
    # dimension stays ~uniform in every file (no skipping possible)
    assert mean_span_fraction(xdir, "xk") < 0.15
    assert mean_span_fraction(xdir, "yk") > 0.8
    # z-order: BOTH dimensions bounded well below uniform in every file
    zx, zy = mean_span_fraction(zdir, "xk"), mean_span_fraction(zdir, "yk")
    assert zx < 0.6, zx
    assert zy < 0.6, zy


def test_aqe_coalesces_small_shuffle_partitions(spark, sf_dir):
    """AQE's post-shuffle coalesce actually engages: a low-cardinality
    aggregate over 32 configured shuffle partitions reads back through
    AQEShuffleRead with far fewer coalesced partitions — the runtime
    lever that keeps small-stage task counts sane when the static
    shuffle-partition number is sized for the 100 TB stages."""
    df = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    df.collect()  # AQE finalizes the plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan
    n_out = df.rdd.getNumPartitions()
    assert n_out < int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_no_corpus_grain_single_partition_window(spark, sf_dir):
    """Round-7 VERDICT task 2: the global-window query class is now
    two-phase (operators/global_order) — in the executed plan, every
    remaining Exchange SinglePartition must sit directly above an
    aggregate (the config-bounded per-partition offset rows), never
    above corpus-grain rows flowing into a WindowExec.

    Forces ``FORCE = "two-phase"``: size-adaptive dispatch (round-8
    VERDICT task 3) picks the naive window at test scale, but the
    SCALE guarantee is the two-phase plan — this pin holds it."""
    from flights_data_pipeline_spark.operators import global_order
    from flights_data_pipeline_spark.queries.registry import REGISTRY

    global_order.FORCE = "two-phase"
    try:
        _assert_no_corpus_grain_single_partition_window(spark, sf_dir, REGISTRY)
    finally:
        global_order.FORCE = None


def _assert_no_corpus_grain_single_partition_window(spark, sf_dir, REGISTRY):
    for name in [
        "rfm_segments",
        "weighted_systematic_sample",
        "percentile_exact",
        "ks_drift_statistic",
        "vocab_growth_curve",
        "pareto_revenue_concentration",
        "gini_spend_concentration",
        "mann_whitney_u",
        "null_semantics",
        "quantile_normalize_spend",
    ]:
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" in ln:
                below = "\n".join(lines[i + 1 : i + 3])
                # Partition-grain inputs only: a Hash/Sort/ObjectHash
                # aggregate (per-partition offset rows), or
                # global_lag's boundary-patch branch — the
                # `__go_last` projection of the one row per partition
                # where local row_number == partition count.
                assert "Aggregate" in below or "__go_last" in below, (
                    name,
                    plan,
                )
