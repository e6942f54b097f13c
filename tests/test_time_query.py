"""bench.time_query, the one timing protocol every bench tool shares:
warmups untimed, then the timed runs, a GC after every run, and the
median of the timed runs returned. No JVM: the run, GC and clock are
fakes."""

from __future__ import annotations

import types

import pytest

import bench


@pytest.mark.parametrize("warmups", [0, 2, 5])
def test_time_query_protocol(monkeypatch, warmups):
    now = [0.0]
    monkeypatch.setattr(
        bench, "time", types.SimpleNamespace(perf_counter=lambda: now[0])
    )
    # warmups and GCs take far longer than any timed run: if either
    # were inside the timed window the median would show it
    durations = [1000.0] * warmups + [7.0, 1.0, 2.0]
    events: list[str] = []

    def run():
        now[0] += durations[events.count("run")]
        events.append("run")

    def gc():
        now[0] += 500.0
        events.append("gc")

    assert bench.time_query(run, gc, warmups) == 2.0
    assert events == ["run", "gc"] * (warmups + 3)


def test_time_query_runs_argument():
    events: list[str] = []
    bench.time_query(lambda: events.append("run"), lambda: None, 1, runs=5)
    assert events == ["run"] * 6
