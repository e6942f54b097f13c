"""Driver-sample rotation: the driver verifies the HEAD of queries()
per round, so the registry must order itself by sampling history —
latest-fail first, never-sampled second, then least-recently-sampled —
or the tail never earns an acceptance signal."""

from __future__ import annotations

from flights_data_pipeline_spark.queries import REGISTRY, queries_map
from flights_data_pipeline_spark.queries.registry import (
    _driver_sample_order,
    _order_from_history,
)


def test_order_kernel_priorities():
    names = ["a_pass_old", "b_pass_new", "c_fail", "d_never", "e_never"]
    latest = {
        "a_pass_old": (1, True, False),
        "b_pass_new": (4, True, False),
        "c_fail": (1, False, False),
    }
    assert _order_from_history(names, latest) == [
        "c_fail",  # latest check failed — front of queue
        "d_never",  # never sampled, name tiebreak
        "e_never",
        "a_pass_old",  # passed in round 1 — stale first
        "b_pass_new",  # freshest pass goes last
    ]


def test_order_kernel_fail_then_pass_is_a_pass():
    # a fixed query re-sampled green must NOT stay pinned at the front
    latest = {"q": (3, True, False), "r": (1, False, False)}
    assert _order_from_history(["q", "r"], latest) == ["r", "q"]


def test_order_kernel_oracle_upgrade_counts_as_never_sampled():
    # 'topk' carries an oracle in the real REGISTRY; a stale rows-only
    # datapoint for it must re-queue with the never-sampled bucket
    # (behind the genuinely never-sampled) so the hash gate certifies
    # the upgrade (round-7 VERDICT task 3)
    latest = {"topk": (2, True, True), "zz_pass": (1, True, False)}
    assert _order_from_history(["topk", "x_never", "zz_pass"], latest) == [
        "x_never",
        "topk",
        "zz_pass",
    ]


def test_queries_map_covers_registry_in_rotation_order():
    order = _driver_sample_order()
    assert order == list(queries_map().keys())
    assert sorted(order) == sorted(REGISTRY)  # a permutation, no loss


def test_rotation_head_prefers_unsampled(tmp_path):
    """Against the real committed CORRECTNESS history: nothing in the
    head-50 should be a query whose latest driver check passed while
    a never-sampled or failed query waits behind it."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        for name, res in json.load(open(path)).items():
            if not isinstance(res, dict):
                continue
            passed = res.get("err") == "no_oracle" or bool(
                res.get("rows_match")
                and res.get("schema_match", True)
                and res.get("hash_match", True)
            )
            prev = latest.get(name)
            if prev is None or rnd >= prev[0]:
                latest[name] = (rnd, passed)
    if not latest:  # fresh clone without driver artifacts
        return
    order = _driver_sample_order()
    needs_signal = [
        n for n in order if n not in latest or not latest[n][1]
    ]
    head = order[: min(50, len(needs_signal))]
    assert set(head) <= set(needs_signal)

