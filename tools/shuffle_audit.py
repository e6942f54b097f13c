"""Per-query shuffle/IO profile via the Spark UI REST API -> SHUFFLE.md.

PLANS.md proves each query's plan SHAPE (pushdown, codegen, join
strategy); this tool measures what the plan actually MOVES: bytes read
from parquet, bytes written+read across shuffles, and disk/memory
spill, per headline query at the bench scale factor. Shuffle bytes are
the 100 TB cost model — a query whose shuffle volume ~ its input has a
linear scale path; one whose shuffle volume explodes past its input is
hiding a pair blowup no local timing reveals.

Method: each query runs once under its own job group; completed jobs
are mapped to stages through /api/v1/applications/{app}/jobs (the
jobGroup field), and stage metrics are summed from /stages. Uses only
the session's own UI endpoint — no extra instrumentation, no listener
jar, works on any Spark 3/4 local or cluster driver.

Usage: python tools/shuffle_audit.py [sf_dir] (default sf0.1).
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE, materialize  # noqa: E402
from flights_data_pipeline_spark.queries import REGISTRY  # noqa: E402
from flights_data_pipeline_spark.session import get_spark  # noqa: E402


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/{path}", timeout=30) as r:
        return json.loads(r.read())


def _stage_ids_for_group(base: str, app_id: str, group: str) -> set[int]:
    ids: set[int] = set()
    for job in _get(base, f"applications/{app_id}/jobs"):
        if job.get("jobGroup") == group:
            ids.update(job.get("stageIds", []))
    return ids


def _sum_metrics(base: str, app_id: str, stage_ids: set[int]) -> dict:
    tot = {
        "input_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "spill_disk_mb": 0.0,
        "n_stages": 0,
    }
    for st in _get(base, f"applications/{app_id}/stages?status=complete"):
        if st["stageId"] not in stage_ids:
            continue
        tot["n_stages"] += 1
        tot["input_mb"] += st.get("inputBytes", 0) / 1e6
        tot["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
        tot["shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / 1e6
        tot["spill_disk_mb"] += st.get("diskBytesSpilled", 0) / 1e6
    return tot


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    # the engine session pins spark.ui.enabled=false (bench hygiene);
    # the audit NEEDS the UI's REST metrics, so flip it for this app
    spark = get_spark(
        "fdp-shuffle-audit",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4047"},
    )
    sc = spark.sparkContext
    base = sc.uiWebUrl
    app_id = sc.applicationId
    if base is None:
        raise SystemExit("Spark UI disabled; enable spark.ui.enabled")

    rows = []
    for name in HEADLINE:
        q = REGISTRY.get(name)
        if q is None:
            continue
        group = f"audit:{name}"
        sc.setJobGroup(group, name)
        try:
            materialize(q.fn(spark, sf_dir))
        except Exception as exc:  # keep auditing the rest
            rows.append((name, None, f"ERROR {type(exc).__name__}"))
            continue
        finally:
            sc.setJobGroup("", "")
        stage_ids = _stage_ids_for_group(base, app_id, group)
        rows.append((name, _sum_metrics(base, app_id, stage_ids), ""))
        print(name, rows[-1][1], file=sys.stderr)

    lines = [
        "# SHUFFLE.md — measured per-query data movement",
        "",
        f"Source: `tools/shuffle_audit.py` at `{sf_dir}`, one run per",
        "query, stage metrics summed over the query's own job group via",
        "the Spark UI REST API. MB = 10^6 bytes. `shuffle_w/r` is bytes",
        "written to / read from shuffle (they differ when AQE coalesces",
        "or a stage is reused); `spill` is disk spill (0 everywhere =",
        "partitions sized within executor memory at this SF).",
        "",
        "| query | stages | input MB | shuffle_w MB | shuffle_r MB |"
        " spill MB |",
        "|---|---|---|---|---|---|",
    ]
    for name, m, err in rows:
        if m is None:
            lines.append(f"| {name} | — | — | — | — | {err} |")
        else:
            lines.append(
                f"| {name} | {m['n_stages']} | {m['input_mb']:.1f} "
                f"| {m['shuffle_write_mb']:.1f} "
                f"| {m['shuffle_read_mb']:.1f} "
                f"| {m['spill_disk_mb']:.1f} |"
            )
    ok = [m for _, m, _ in rows if m]
    lines += [
        "",
        f"Totals over {len(ok)} queries: "
        f"input {sum(m['input_mb'] for m in ok):.0f} MB, "
        f"shuffle write {sum(m['shuffle_write_mb'] for m in ok):.0f} MB, "
        f"shuffle read {sum(m['shuffle_read_mb'] for m in ok):.0f} MB, "
        f"spill {sum(m['spill_disk_mb'] for m in ok):.0f} MB.",
        "",
    ]
    out = os.path.join(ROOT, "SHUFFLE.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
