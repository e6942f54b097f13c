"""Query registry plumbing.

A *query* is a named, tested unit of the engine contract:

* ``fn(spark, sf_dir) -> DataFrame`` — the Spark-side implementation
  (DataFrame API or spark.sql over registered views).
* ``oracle`` — an equivalent ANSI SQL string for DuckDB, or ``None`` for
  genuinely non-SQL-expressible operators (the driver then records a
  weaker rows-only check; the judge sees which).

Column names are part of the contract: the driver sorts columns by name
before hashing values, so every computed column is aliased identically
on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    #: DuckDB oracle SQL; a zero-arg callable is resolved LAZILY (and
    #: once) at ``oracle_sql_map()`` time — for oracles that embed
    #: pinned values computed from the corpus (``pinned_oracles``),
    #: so module import stays free of I/O.
    oracle: str | Callable[[], str] | None
    doc: str

    def oracle_text(self) -> str | None:
        if callable(self.oracle):
            self.oracle = self.oracle()
        return self.oracle


REGISTRY: dict[str, Query] = {}


def query(
    name: str, oracle: str | Callable[[], str] | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name`` with an optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def _driver_sample_order() -> list[str]:
    """Order the registry so the driver's head-first 50-query sample
    rotates through EVERYTHING over successive rounds.

    The driver verifies the first ~50 entries of ``queries()`` per
    round; a fixed insertion order would re-sample the same head
    forever and leave the tail without an acceptance signal. We read
    the accumulated ``CORRECTNESS_r*.json`` files (the driver's own
    output, committed at the repo root) and sort:

    1. queries whose LATEST driver check failed (re-verify fixes first),
    2. queries never driver-sampled,
    3. everything else, least-recently-sampled first.

    Ties break on name for determinism. Falls back to insertion order
    if the history files are unreadable (e.g. the package is used
    outside this repo).
    """
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    latest: dict[str, tuple[int, bool, bool]] = {}  # name -> (round, passed, was_rows_only)
    try:
        for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
            m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
            if not m:
                continue
            rnd = int(m.group(1))
            with open(path) as f:
                data = json.load(f)
            for name, res in data.items():
                if not isinstance(res, dict):
                    continue
                rows_only = res.get("err") == "no_oracle"
                if rows_only:
                    # rows-only query: the driver recorded its weaker
                    # check — that IS a successful sample, not a fail
                    passed = True
                else:
                    passed = bool(
                        res.get("rows_match")
                        and res.get("schema_match", True)
                        and res.get("hash_match", True)
                    )
                prev = latest.get(name)
                if prev is None or rnd >= prev[0]:
                    latest[name] = (rnd, passed, rows_only)
    except (OSError, ValueError):
        return list(REGISTRY)

    return _order_from_history(list(REGISTRY), latest)


def _order_from_history(
    names: list[str], latest: dict[str, tuple[int, bool, bool]]
) -> list[str]:
    """Pure ordering kernel: latest-fail first, never-sampled second
    (a stale rows-only datapoint for a query that has SINCE gained an
    oracle counts as never-sampled — the upgrade must be re-certified,
    round-7 VERDICT task 3), then passed least-recently-sampled-first;
    name breaks ties."""

    def key(name: str):
        hist = latest.get(name)
        if hist is None:
            return (1, 0, name)  # never sampled
        rnd, passed, rows_only = hist
        if not passed:
            return (0, rnd, name)  # latest check failed — front of queue
        q = REGISTRY.get(name)
        if rows_only and q is not None and q.oracle is not None:
            # oracle gained since the stale rows-only sample: the hash
            # gate has never seen it — treat as never-sampled
            return (1, rnd, name)
        return (2, rnd, name)  # passed; least-recent first

    return sorted(names, key=key)


def queries_map() -> dict[str, QueryFn]:
    return {name: REGISTRY[name].fn for name in _driver_sample_order()}


def oracle_sql_map() -> dict[str, str]:
    out: dict[str, str] = {}
    for name in _driver_sample_order():
        text = REGISTRY[name].oracle_text()
        if text is not None:
            out[name] = text
    return out
