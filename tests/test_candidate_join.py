"""Size-gated candidate-set joins (round-9 VERDICT task #1; round-10
ADVICE closed the quadratic-pair hole with the three-way dispatch).

The LSH verify kernels attach the candidate-pair frame to the
array-carrying per-doc state through ``operators/candidate_join``:
a self-certified-small pair frame broadcasts; a corpus certificate
(the Generate-free per-doc proxy) broadcasts only the LINEAR id list
(semi-broadcast) — never the pair frame, whose cardinality is
quadratic in duplicate density and not bounded by corpus bytes; an
uncertified input takes the pure shuffle plan. These tests pin
(a) all three physical paths produce identical results on every
affected query, (b) the shuffle path's plan contains NO
BroadcastExchange at all and the semi-broadcast path broadcasts ONLY
the id list (the scale guarantee — a dup-dense 100 TB candidate set
degrades to a shuffle instead of OOMing the driver), and (c) the
dispatch itself: bench-scale corpora certify semi-broadcast (the pair
frame can never self-certify through its stack Generate); an
unestimatable (checkpointed) frame without a proxy routes to shuffle;
decisions memoize per (session, cache key).
"""

from __future__ import annotations

import pytest

from flights_data_pipeline_spark import session
from flights_data_pipeline_spark.operators import candidate_join as cj
from flights_data_pipeline_spark.queries import REGISTRY

from .conftest import SF_DIR

GATED_QUERIES = [
    "minhash_lsh_candidates",
    "incremental_neardup_ingest",
    "longest_shared_run",
]

MODES = ["broadcast", "semi-broadcast", "shuffle"]


@pytest.fixture()
def force_restore():
    yield
    cj.FORCE = None


def _rows(spark, name: str) -> dict:
    df = REGISTRY[name].fn(spark, SF_DIR)
    return {tuple(r) for r in df.collect()}  # scale-ok: sf0.001 equivalence pin


@pytest.mark.parametrize("name", GATED_QUERIES)
def test_all_paths_equal(spark, name, force_restore):
    results = {}
    for mode in MODES:
        cj.FORCE = mode
        results[mode] = _rows(spark, name)
    assert results["broadcast"], name
    assert results["broadcast"] == results["semi-broadcast"]
    assert results["broadcast"] == results["shuffle"]


def test_shuffle_path_has_no_broadcast_of_candidates(spark, force_restore):
    """Under FORCE='shuffle' the plan contains no FORCED broadcast:
    with Catalyst's auto-broadcast disabled (so its own
    cost-justified choices — e.g. BHJ for the band self-join at tiny
    SF — don't mask the pin) the plan must contain ZERO
    BroadcastExchange nodes, and the pair join stays shuffle-side."""
    cj.FORCE = "shuffle"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY["minhash_lsh_candidates"].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastExchange" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_semi_broadcast_path_broadcasts_only_id_list(spark, force_restore):
    """Under FORCE='semi-broadcast' with auto-broadcast disabled, the
    only BroadcastExchange in the plan is the forced id-list semi
    filter (exactly one), and the pair join itself stays shuffle-side
    — the corpus certificate never broadcasts the quadratic pair
    frame (the round-10 ADVICE hole)."""
    cj.FORCE = "semi-broadcast"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY["minhash_lsh_candidates"].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("BroadcastExchange") == 1, plan
    assert "ShuffledHashJoin" in plan, plan


def test_broadcast_path_pins_candidate_broadcast(spark, force_restore):
    cj.FORCE = "broadcast"
    df = REGISTRY["minhash_lsh_candidates"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan, plan


def test_dispatch_decisions(spark):
    from flights_data_pipeline_spark.queries.dedup import (
        _lsh_candidates,
        _minhash_per_doc,
    )

    per_doc = _minhash_per_doc(spark, SF_DIR)
    cand = _lsh_candidates(per_doc)
    # the candidate plan alone contains a stack Generate, so the
    # leaf-sum fallback refuses to certify it ...
    assert not cj.plan_size_small(cand, cj.CAND_BROADCAST_MAX_BYTES)
    assert cj.dispatch(cand) == "shuffle"
    # ... the Generate-free corpus proxy certifies the LINEAR id list
    # only — semi-broadcast, never a pair-frame broadcast (pair
    # cardinality is quadratic in dup density, unbounded by corpus
    # bytes)
    assert cj.dispatch(cand, per_doc) == "semi-broadcast"
    # a checkpointed frame is unestimatable: without a proxy it must
    # route to the shuffle path (never risk the driver)
    ckpt = cand.select("a_id", "b_id").localCheckpoint(eager=False)
    assert cj.dispatch(ckpt) == "shuffle"
    # a frame that self-certifies small broadcasts outright
    assert cj.dispatch(per_doc.select("doc_id").limit(10)) == "broadcast"


def test_dispatch_decision_cache(spark):
    from flights_data_pipeline_spark.queries.dedup import (
        _lsh_candidates,
        _minhash_per_doc,
    )

    per_doc = _minhash_per_doc(spark, SF_DIR)
    cand = _lsh_candidates(per_doc)
    key = ("test_dispatch_decision_cache", SF_DIR)
    memo_key = (spark.sparkContext.applicationId, ("dispatch", key))
    session._MEMO.pop(memo_key, None)
    first = cj.dispatch(cand, per_doc, cache_key=key)
    assert first == "semi-broadcast"
    # the memo is consulted before any plan walk: a conflicting frame
    # under the same key returns the cached decision (callers assert
    # key → plans is a pure function within a session)
    assert cj.dispatch(cand, None, cache_key=key) == first
    assert memo_key in session._MEMO
