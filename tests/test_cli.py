"""CLI surface: list-queries, single-query run, end-to-end pipeline run."""

from __future__ import annotations

import tempfile

from flights_data_pipeline_spark.__main__ import main
from flights_data_pipeline_spark.pipeline import fixtures


def test_list_queries(capsys):
    assert main(["list-queries"]) == 0
    out = capsys.readouterr().out
    assert "multiway_join" in out and "[oracle]" in out


def test_query_command(spark, capsys):
    assert main(["query", "topk", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    assert "c_custkey" in capsys.readouterr().out


def test_query_unknown_name(capsys):
    assert main(["query", "no_such_query"]) == 2


def test_run_command_end_to_end(spark, capsys):
    d = tempfile.mkdtemp(prefix="fdp_cli_")
    fixtures.write_source(spark, f"{d}/src", seed=42, n_bookings=50)
    ds = fixtures.DAYS[0].isoformat()
    rc = main(
        [
            "run",
            "--source", f"{d}/src",
            "--landing", f"{d}/land",
            "--staging", f"{d}/stg",
            "--warehouse", f"{d}/wh",
            "--ds", ds,
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "bookings" in out and ("loaded" in out or "skipped" in out)
    assert spark.read.parquet(f"{d}/wh/dim_aircrafts").count() > 0


def test_sql_command(spark, capsys):
    rc = main(
        [
            "sql",
            "SELECT o_orderstatus, COUNT(*) AS n FROM orders "
            "GROUP BY o_orderstatus ORDER BY o_orderstatus",
            "--sf-dir", "/root/testdata/sf0.001",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "o_orderstatus" in out and "n" in out


def test_curate_command(spark, capsys, tmp_path):
    rc = main(
        [
            "curate",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "cur"),
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "final_corpus" in out
