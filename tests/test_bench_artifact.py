"""Where ``bench.py`` writes its full-fidelity record: only a run at the
headline configuration (sf0.1, 32 cores) replaces the committed
``BENCH_headline_latest.json``; any other sf or core count writes a
gitignored file keyed by both. Runs ``bench.main`` on a fake session,
so no JVM is needed."""

from __future__ import annotations

import fnmatch
import json
import os
from types import SimpleNamespace

import pytest

import bench
from flights_data_pipeline_spark.queries import flights

TRACKED = "BENCH_headline_latest.json"


def _gitignore_patterns() -> list[str]:
    with open(os.path.join(os.path.dirname(bench.__file__), ".gitignore")) as f:
        return [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]


def test_only_the_headline_configuration_names_the_tracked_file():
    assert bench.headline_artifact(bench.HEADLINE_SF, bench.HEADLINE_CPUS) == TRACKED
    for sf, cpus in ((0.1, 4), (0.01, 32), (1.0, 32), (0.01, 4)):
        name = bench.headline_artifact(sf, cpus)
        assert name != TRACKED
        assert name == f"BENCH_headline_sf{sf:g}_c{cpus}.json"
        assert any(fnmatch.fnmatch(name, p) for p in _gitignore_patterns())
    assert not any(fnmatch.fnmatch(TRACKED, p) for p in _gitignore_patterns())


@pytest.mark.parametrize(
    "sf_dir,cpus,written",
    [
        ("/data/sf0.01", "4", "BENCH_headline_sf0.01_c4.json"),
        ("/data/sf0.1", "4", "BENCH_headline_sf0.1_c4.json"),
        ("/data/sf0.1", "32", TRACKED),
    ],
)
def test_main_writes_the_keyed_artifact(
    monkeypatch, tmp_path, capsys, sf_dir, cpus, written
):
    fake = SimpleNamespace(
        sparkContext=SimpleNamespace(
            _jvm=SimpleNamespace(System=SimpleNamespace(gc=lambda: None))
        ),
        catalog=SimpleNamespace(clearCache=lambda: None),
    )
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    monkeypatch.setattr(bench, "ROOT", str(tmp_path))
    monkeypatch.setattr(bench, "HEADLINE", [])
    monkeypatch.setattr(bench, "get_spark", lambda *a, **k: fake)
    monkeypatch.setattr(flights, "_warehouse", lambda spark, sf_dir: None)
    bench.main()
    assert os.listdir(tmp_path) == [written]
    record = json.loads((tmp_path / written).read_text())
    assert record["sf"] == float(sf_dir.rsplit("sf", 1)[1])
    # the final line is unchanged: it still names the committed key map
    last = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(last)["keymap"] == "BENCH_headline_latest.json short_keys"
