"""Size-gated candidate-set joins for the LSH verify kernels.

The near-dup pipeline's verification stage attaches the (id-only)
candidate-pair frame produced by banded LSH to the array-carrying
per-document state (MinHash sets, positional gram tables). At bench
scale the candidate frame is a few hundred rows, and broadcasting it
is the right plan: the array payloads stay on the shuffle side and
only tiny id/count rows cross the driver (the round-2 lesson — never
broadcast the array side). But a FORCED ``F.broadcast(cand)`` is a
scale hazard the round-9 VERDICT flagged: a 100 TB corpus with high
duplicate density makes the candidate set itself GBs, and a forced
broadcast then OOMs the driver instead of degrading to a shuffle.

This module puts the dispatch the global-order operator already has
(``operators/global_order.plan_size_small`` — driver-side Catalyst
estimate, no jobs) in front of every candidate broadcast. Three-way
dispatch (:func:`dispatch`), because the two frames involved scale
DIFFERENTLY in the corpus:

* ``"broadcast"`` — the candidate PAIR frame itself is confidently
  estimated small → ``payload.join(F.broadcast(cand))``: one
  broadcast, zero shuffles of the payload.
* ``"semi-broadcast"`` — the pair frame cannot self-certify (the LSH
  candidate plan contains a ``stack`` Generate, which defeats the
  leaf-sum fallback), but a Generate-free corpus proxy (``scale_df``,
  the per-doc signature frame) certifies the CORPUS small. A small
  corpus bounds the candidate **id list** (≤ one id per corpus row —
  linear), so the distinct id list broadcasts into the semi filter;
  the PAIR frame does **not** broadcast — pair cardinality is
  quadratic in duplicate density, not bounded by corpus bytes (a
  dup-dense ≤64 MB corpus of ~100k near-identical tiny docs yields
  O(n²) ≈ GBs of pairs — the round-10 ADVICE hole). The pair join
  runs SHUFFLE_HASH on the semi-filtered payload, which at that point
  holds only candidate rows.
* ``"shuffle"`` — neither certifies (or the input is checkpointed,
  i.e. unestimatable): LEFT-SEMI filter with no broadcast hint (AQE
  converts it to a broadcast at runtime if the id list MEASURES
  small, and keeps a shuffle join if not, degrading instead of
  OOMing), then the SHUFFLE_HASH pair join. The semi join and the
  pair join hash-partition on the same key, so the filtered payload
  is not re-shuffled between them. No ``distinct`` on the semi
  right side — a semi join already ignores right-side duplicates,
  and the dedup exchange+aggregate would be pure overhead when
  nothing is broadcast.

Like the global-order threshold, 64 MB sits deliberately above the
true crossover because un-analyzed estimates are conservative upward;
a misroute inside the band costs a bounded extra shuffle, never a
driver OOM.

``FORCE`` pins a path for tests: equivalence tests run all paths on
the same input; the plan pin asserts the shuffle path contains no
BroadcastExchange at all and the semi-broadcast path broadcasts only
the id list (exactly one BroadcastExchange under disabled
auto-broadcast).

Dispatch decisions are memoizable per (session, caller key): the
driver-side ``optimizedPlan()`` walk costs ~0.2-0.3 s on a large
composed plan (measured on ``incremental_neardup_ingest``, BASELINE
round-10), constant in data size but repeated when composers re-run —
callers whose inputs are immutable within a session (the registry
queries: everything derives from the sf_dir parquet) pass
``cache_key`` and pay it once, through ``session.session_memo``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import session_memo
from .global_order import plan_size_small

#: dispatch override: ``None`` = size-adaptive; ``"broadcast"`` /
#: ``"semi-broadcast"`` / ``"shuffle"`` force a path.
FORCE: str | None = None

#: candidate frames confidently estimated at or below this broadcast;
#: corpus proxies at or below this certify the (linear) id list for
#: the semi-broadcast path. Same calibration posture as
#: ``global_order.NAIVE_MAX_BYTES``.
CAND_BROADCAST_MAX_BYTES = 64 * 1024 * 1024


def dispatch(
    cand: DataFrame,
    scale_df: DataFrame | None = None,
    cache_key: object | None = None,
) -> str:
    """Three-way dispatch decision for a candidate frame —
    ``"broadcast"`` | ``"semi-broadcast"`` | ``"shuffle"`` (see module
    docstring). Call BEFORE ``localCheckpoint`` — a checkpointed plan
    is an ExistingRDD leaf whose stat is the session default, which
    would always route to the shuffle path.

    Only the pair frame's OWN estimate can certify ``"broadcast"``:
    the corpus proxy bounds ids (linear) but never pairs (quadratic in
    duplicate density), so ``scale_df`` certifying small yields
    ``"semi-broadcast"`` — broadcast the id list, shuffle the pairs.
    """
    if FORCE is not None:
        return FORCE

    def decide() -> str:
        if plan_size_small(cand, CAND_BROADCAST_MAX_BYTES):
            return "broadcast"
        if scale_df is not None and plan_size_small(
            scale_df, CAND_BROADCAST_MAX_BYTES
        ):
            return "semi-broadcast"
        return "shuffle"

    if cache_key is None:
        return decide()
    # the caller asserts its (cand, scale_df) plans are a pure function
    # of cache_key within a session, so the key alone decides a hit
    return session_memo(cand.sparkSession, ("dispatch", cache_key), decide)


def join_candidates(
    payload: DataFrame,
    cand: DataFrame,
    on: str | list[str],
    *,
    mode: str | None = None,
    scale_df: DataFrame | None = None,
    cache_key: object | None = None,
) -> DataFrame:
    """Inner-join ``cand`` (id/count rows, no arrays) into ``payload``
    (the array-carrying side) on ``on``, choosing the physical plan by
    the three-way size dispatch.

    ``mode`` overrides the decision for callers that must decide on a
    pre-checkpoint plan (pass ``dispatch(cand, ...)`` computed before
    the checkpoint)."""
    if mode is None:
        mode = dispatch(cand, scale_df, cache_key)
    if mode == "broadcast":
        return payload.join(F.broadcast(cand), on)
    keys = [on] if isinstance(on, str) else list(on)
    if mode == "semi-broadcast":
        # the DISTINCT id list is linear in the corpus (≤1 id per doc),
        # so the corpus certificate covers it; distinct here shrinks
        # the broadcast payload, unlike the shuffle path below
        ids = F.broadcast(cand.select(*keys).distinct())
    else:
        # semi join ignores right-side duplicates; no distinct, no
        # broadcast hint — AQE picks broadcast-vs-shuffle at runtime
        ids = cand.select(*keys)
    filtered = payload.join(ids, keys, "left_semi")
    return filtered.join(cand.hint("shuffle_hash"), keys)


def filter_by_keys(
    payload: DataFrame,
    keys_df: DataFrame,
    on: str | list[str],
    *,
    mode: str | None = None,
    scale_df: DataFrame | None = None,
) -> DataFrame:
    """Restrict ``payload`` to rows whose ``on`` keys appear in
    ``keys_df``, size-gated the same way. A key list is LINEAR in the
    corpus, so both non-shuffle modes broadcast the distinct key list
    into the semi join; ``"shuffle"`` joins un-hinted (no distinct)
    so AQE picks broadcast-vs-shuffle at runtime."""
    if mode is None:
        mode = dispatch(keys_df, scale_df)
    keys = [on] if isinstance(on, str) else list(on)
    if mode == "shuffle":
        right = keys_df.select(*keys)
    else:
        right = F.broadcast(keys_df.select(*keys).distinct())
    return payload.join(right, keys, "left_semi")
