"""bench.py's compact final line: the short-key map over the headline
names must equal the committed ``BENCH_headline_latest.json`` table
(cross-round comparisons resolve through it), and the line carries a
length guard for the 2000-char stdout snapshot it is parsed from."""

from __future__ import annotations

import json
import os

import bench

ARTIFACT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCH_headline_latest.json",
)


def _committed() -> dict:
    with open(ARTIFACT) as f:
        return json.load(f)


def test_short_key_map_matches_committed_mapping():
    committed = _committed()["short_keys"]
    assert len(bench.HEADLINE) == 76
    assert set(committed) == set(bench.HEADLINE)
    assert bench.short_key_map(bench.HEADLINE) == committed


def test_committed_final_line_fits_without_warning(capsys):
    full = _committed()
    line = bench.final_line(full, full["short_keys"])
    assert len(line) <= bench.FINAL_LINE_WARN_CHARS
    assert json.loads(line)["n_queries"] == 76
    assert capsys.readouterr().err == ""


def test_oversized_final_line_warns(capsys):
    full = _committed()
    names = [f"query_number_{i}_{'x' * 20}" for i in range(120)]
    full["queries"] = {n: 1.0 for n in names}
    shorts = {n: n for n in names}
    line = bench.final_line(full, shorts)
    assert len(line) > bench.FINAL_LINE_WARN_CHARS
    assert "final line is" in capsys.readouterr().err
