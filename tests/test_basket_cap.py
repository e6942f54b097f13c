"""BASKET_CAP: the co-purchase family's per-basket pair bound.

One hot basket with 10^5 distinct items would turn the pair self-join
into a 10^10-row stage at 100 TB scale; ``olap.BASKET_CAP`` drops such
baskets before the quadratic step, the same way ``dedup.NGRAM_DF_CAP``
caps shingle document frequency. These tests pin (a) that every capped
oracle carries the same literal bound (lockstep with the constant),
(b) that a planted pathological basket is actually excluded while
normal baskets pass through untouched, on the item set and on the
array/pair kernel the queries actually call, (c) that NULL keys follow
the DuckDB oracle, and (d) that the arrays are built on one shuffle.
"""

from __future__ import annotations

import re
from collections import Counter
from itertools import combinations

import duckdb
from pyspark.sql import functions as F

from flights_data_pipeline_spark.io.catalog import load_table
from flights_data_pipeline_spark.queries import REGISTRY
from flights_data_pipeline_spark.queries.olap import (
    _BASKET_ITEMS_SQL,
    BASKET_CAP,
    _basket_arrays,
    _basket_items,
    _basket_pair_counts,
)

SCHEMA = "l_orderkey: bigint, l_partkey: bigint"

CAPPED_QUERIES = [
    "copurchase_part_pairs",
    "copurchase_triangles",
    "pagerank_copurchase",
    "bfs_hop_distance",
    "association_rules",
    "clustering_coefficient",
    "frequent_triples",
    "degree_distribution",
]


def test_every_capped_oracle_carries_the_bound():
    """The oracle SQL holds the cap as a literal; if BASKET_CAP moves
    without the oracles, results diverge silently — this is the
    lockstep guard."""
    for name in CAPPED_QUERIES:
        oracle = REGISTRY[name].oracle
        assert oracle is not None, name
        assert f"bsz <= {BASKET_CAP}" in oracle, (
            f"{name}: oracle bound out of lockstep with BASKET_CAP"
        )


def test_hot_basket_is_dropped_before_the_pair_join(spark):
    """A planted basket with BASKET_CAP+1 distinct items contributes
    ZERO rows to the capped item set; normal baskets are untouched.
    The pair stage over the capped set is therefore bounded at
    C(BASKET_CAP, 2) rows per basket by construction."""
    hot = [(999, p) for p in range(BASKET_CAP + 1)]
    normal = [(1, 10), (1, 11), (1, 12), (2, 10), (2, 13)]
    li = spark.createDataFrame(hot + normal, SCHEMA)
    items = _basket_items(li)
    got = {(r.l_orderkey, r.l_partkey) for r in items.collect()}
    assert got == set(normal)

    # and the pair join over the capped set stays tiny: C(3,2)+C(2,2)
    a, b = items.alias("a"), items.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    )
    assert pairs.count() == 3 + 1


def test_cap_admits_boundary_basket(spark):
    """A basket with exactly BASKET_CAP items is ADMITTED (<=, not <) —
    off-by-one here would silently drop legitimate baskets."""
    rows = [(7, p) for p in range(BASKET_CAP)]
    li = spark.createDataFrame(rows, SCHEMA)
    assert _basket_items(li).count() == BASKET_CAP


def _pairs_of(baskets: dict[int, set[int]]) -> Counter:
    """Brute-force (pa, pb) -> basket support over distinct items."""
    return Counter(
        pair
        for items in baskets.values()
        for pair in combinations(sorted(items), 2)
    )


def test_arrays_and_pairs_hold_the_cap_boundary(spark):
    """The kernel the queries call keeps the ``_basket_items`` bound: a
    basket of exactly BASKET_CAP items (plus a duplicate row) is
    admitted whole, one of BASKET_CAP+1 is dropped from both the arrays
    and the pair counts."""
    admitted = {7: set(range(BASKET_CAP)), 1: {10, 11, 12}, 2: {10, 13}}
    rows = [(b, p) for b, items in admitted.items() for p in items]
    rows += [(7, 0)] + [(999, p) for p in range(BASKET_CAP + 1)]
    li = spark.createDataFrame(rows, SCHEMA)

    arrs = {r.l_orderkey: r.arr for r in _basket_arrays(li).collect()}
    assert arrs == {b: sorted(items) for b, items in admitted.items()}

    got = Counter(
        {(r.pa, r.pb): r.w for r in _basket_pair_counts(li).collect()}
    )
    assert got == _pairs_of(admitted)


def test_null_keys_match_the_oracle(spark):
    """NULL ``l_partkey`` counts toward the cap (DISTINCT keeps it,
    ``COUNT(*)`` counts it) but pairs with nothing; a NULL
    ``l_orderkey`` basket pairs with nothing. Checked against DuckDB on
    ``_BASKET_ITEMS_SQL`` plus the oracles' pair join."""
    rows = (
        [(5, p) for p in range(BASKET_CAP)] + [(5, None)]  # CAP+1: dropped
        + [(6, p) for p in range(BASKET_CAP - 1)] + [(6, None), (6, None)]
        + [(None, 1), (None, 2)]
        + [(8, None)]
        + [(9, 1), (9, 2), (9, 2)]
    )
    li = spark.createDataFrame(rows, SCHEMA)
    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_orderkey BIGINT, l_partkey BIGINT)")
    con.executemany("INSERT INTO lineitem VALUES (?, ?)", rows)

    want_items = Counter(
        con.execute(
            f"WITH {_BASKET_ITEMS_SQL} SELECT l_orderkey, l_partkey FROM items"
        ).fetchall()
    )
    got_items = Counter(tuple(r) for r in _basket_items(li).collect())
    assert got_items == want_items

    want_pairs = Counter(
        {
            (pa, pb): w
            for pa, pb, w in con.execute(
                f"""WITH {_BASKET_ITEMS_SQL}
                SELECT a.l_partkey, b.l_partkey, COUNT(*)
                FROM items a JOIN items b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2"""
            ).fetchall()
        }
    )
    got_pairs = Counter(
        {(r.pa, r.pb): r.w for r in _basket_pair_counts(li).collect()}
    )
    assert got_pairs == want_pairs
    assert got_pairs == _pairs_of({6: set(range(BASKET_CAP - 1)), 9: {1, 2}})


def test_basket_arrays_plan_has_one_exchange(spark, sf_dir):
    """Dedup, cap count, cap filter and ``collect_list`` all ride ONE
    hash exchange on ``l_orderkey``; a second shuffle (or a broadcast)
    creeping back in is a regression of the kernel's main cost."""
    li = load_table(spark, sf_dir, "lineitem")
    plan = _basket_arrays(li)._jdf.queryExecution().executedPlan().toString()
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    assert re.search(
        r"Exchange hashpartitioning\(l_orderkey#\d+L?, \d+\)", exchanges[0]
    ), plan
