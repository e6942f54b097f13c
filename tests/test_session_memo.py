"""``session.session_memo``: the engine's one (applicationId, key) memo.

Runs on fake sessions (only ``sparkContext.applicationId`` is read), so
no JVM is needed. Each test gets an empty memo and a fresh lock.
"""

from __future__ import annotations

import sys
import threading
import time
from types import SimpleNamespace

import pytest

from flights_data_pipeline_spark import session
from flights_data_pipeline_spark.session import session_memo


def fake_session(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture(autouse=True)
def empty_memo(monkeypatch):
    monkeypatch.setattr(session, "_MEMO", {})
    monkeypatch.setattr(session, "_MEMO_LOCK", threading.Lock())


def test_build_runs_once_per_key():
    spark = fake_session("app-1")
    calls = []

    def build(tag):
        calls.append(tag)
        return [tag]

    first = session_memo(spark, ("t", "a"), lambda: build("a"))
    assert session_memo(spark, ("t", "a"), lambda: build("again")) is first
    assert session_memo(spark, ("t", "b"), lambda: build("b")) == ["b"]
    assert calls == ["a", "b"]


def test_false_result_is_a_hit():
    spark = fake_session("app-1")
    calls = []

    def probe():
        calls.append(1)
        return False

    assert session_memo(spark, ("few_splits", "x"), probe) is False
    assert session_memo(spark, ("few_splits", "x"), probe) is False
    assert calls == [1]


def test_insert_under_new_app_evicts_old_app():
    old, new = fake_session("app-1"), fake_session("app-2")
    session_memo(old, ("t", 1), lambda: 1)
    session_memo(old, ("t", 2), lambda: 2)
    session_memo(new, ("t", 1), lambda: 10)
    assert session._MEMO == {("app-2", ("t", 1)): 10}


def test_build_may_call_the_memo():
    spark = fake_session("app-1")
    out = []

    def outer():
        return session_memo(spark, ("inner",), lambda: "in") + "+out"

    worker = threading.Thread(
        target=lambda: out.append(session_memo(spark, ("outer",), outer)),
        daemon=True,
    )
    worker.start()
    worker.join(timeout=10)
    assert not worker.is_alive(), "nested session_memo call deadlocked"
    assert out == ["in+out"]
    assert session._MEMO[("app-1", ("inner",))] == "in"


def test_concurrent_misses_share_the_first_insert():
    spark = fake_session("app-1")
    n = 8
    # every build waits until all 8 are building: all threads miss
    all_missed = threading.Barrier(n, timeout=10)
    results = [None] * n

    def build():
        all_missed.wait()
        return object()

    def run(i):
        results[i] = session_memo(spark, ("shared",), build)

    threads = [
        threading.Thread(target=run, args=(i,), daemon=True) for i in range(n)
    ]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        deadline = time.monotonic() + 20
        for th in threads:
            th.join(timeout=max(0.0, deadline - time.monotonic()))
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert results[0] is not None
    assert all(r is results[0] for r in results)
    assert session._MEMO[("app-1", ("shared",))] is results[0]
