"""Similarity search over the ``embeddings`` table (array<float> vectors).

Extension surface for large-scale training-data pipelines (SURVEY.md
§2.11 / build plan M4): brute-force cosine top-k as the exact baseline,
and a sign-LSH bucketed variant as the scale path. The reference has no
vector operators; this is the declared LLM-pipeline extension surface.

Float determinism: a dot product is only cross-engine-exact if both
engines do the *same IEEE operations in the same order*. Both sides
here compute ``fold_left(+, 0.0, [toDouble(a_i) * toDouble(b_i)])`` —
Spark via ``aggregate(zip_with(...))``, DuckDB via
``list_reduce(list_transform(...))`` — float→double promotion is exact,
double multiply/add/sqrt/divide are IEEE-defined, so cosines are
bit-identical and rank ordering agrees exactly (ties break on id).

Scale posture: brute-force is O(Q·N) with a broadcast query side —
fine for reranking, wrong as the primary search at 100 TB. The
bucketed variant is the real plan: hash vectors into sign-pattern
buckets (random-hyperplane LSH with axis-aligned planes), shuffle once
on the bucket key, and search within buckets only. More planes and
multi-probe widen recall at scale; both knobs are data-independent.
No Python UDFs anywhere — all vector math is JVM-side higher-order
array expressions inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..io.catalog import load_table as t
from ..io.catalog import table_row_count
from ..session import session_memo
from . import pinned_oracles
from .registry import query

#: number of query vectors for the brute-force baseline.
N_QUERIES = 10
TOP_K = 5
#: sign-LSH plane count is a RECALL/COST dial that must scale with the
#: corpus: 2^planes buckets ⇒ in-bucket pairwise work is O(N²/2^planes),
#: so any FIXED count is quadratic at scale. The bucketed queries below
#: therefore DERIVE the count per corpus: the smallest plane count (in
#: [ANN_MIN_PLANES, ANN_MAX_PLANES]) whose bucket grid holds the corpus
#: at ≤ ANN_TARGET_BUCKET expected vectors per bucket — integer-exact
#: arithmetic so the Spark plan and the DuckDB oracle agree bit-for-bit
#: (a float log2 would disagree at exact powers of two). At 100 TB the
#: same rule lands at 20 planes (the cap ⇒ 2^20 buckets); multi-probe
#: (see ``ann_recall_multiprobe``) buys back the recall that finer
#: bucketing costs.
ANN_TARGET_BUCKET = 32
ANN_MIN_PLANES = 4
ANN_MAX_PLANES = 20
#: legacy fixed count — only the oracle-twin helper's default; every
#: bucketed query passes an adaptive count explicitly.
N_PLANES = 4


def adaptive_planes(n_vectors: int, dim: int | None = None) -> int:
    """Smallest plane count whose 2^p buckets hold ``n_vectors`` at
    ≤ ANN_TARGET_BUCKET expected occupancy, clamped to
    [ANN_MIN_PLANES, min(ANN_MAX_PLANES, dim)]. Pure integer math —
    the DuckDB twin (``_duck_planes_cte``) evaluates the identical
    rule, so both engines always bucket with the same plane count."""
    hi = ANN_MAX_PLANES if dim is None else min(ANN_MAX_PLANES, dim)
    return next(
        (p for p in range(ANN_MIN_PLANES, hi + 1) if (1 << p) * ANN_TARGET_BUCKET >= n_vectors),
        hi,
    )


def _duck_planes_cte(table: str = "embeddings") -> str:
    """`pl` CTE computing ``adaptive_planes`` in exact integer SQL."""
    return (
        f"pl AS (SELECT COALESCE((SELECT MIN(p) FROM range({ANN_MIN_PLANES}, "
        f"{ANN_MAX_PLANES + 1}) t(p) WHERE (1::BIGINT << p) * {ANN_TARGET_BUCKET} "
        f">= (SELECT count(*) FROM {table})), {ANN_MAX_PLANES}) AS planes)"
    )


def _duck_bucket_dyn(col: str) -> str:
    """Sign-pattern bucket over the first (SELECT planes FROM pl) dims."""
    return (
        f"list_aggregate(list_transform(range(1, (SELECT planes FROM pl) + 1), "
        f"i -> CASE WHEN {col}[i] >= 0 THEN '1' ELSE '0' END), 'string_agg', '')"
    )


#: Spark-SQL-string twins of ``_dot``/``_bucket``. The bucketed ANN
#: queries build their hot expressions as ONE parsed SQL string instead
#: of dozens of py4j Column calls — measured ~0.2 s less per-query
#: construction latency, with an identical expression tree (same
#: zip_with/aggregate fold, same casts) so results stay bit-equal.
def _spark_dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, x) -> acc + x)"
    )


def _spark_bucket_sql(planes: int, col: str = "embedding") -> str:
    digits = " || ".join(
        f"(CASE WHEN element_at({col}, {i + 1}) >= 0 THEN '1' ELSE '0' END)"
        for i in range(planes)
    )
    return f"({digits})"
BUCKET_TOP_K = 3
#: plane count for the multi-probe recall measurement — the rule of
#: thumb applied to THIS corpus: log2(2000 vectors / ~128 per bucket)
#: = 4. Measured at sf0.1 (see BASELINE.md): Hamming≤1 multi-probe
#: lifts mean recall@5 from 0.10 (own bucket only) to 0.66 while
#: scanning ~31% of the corpus; 8 planes here would drop recall to
#: 0.10 because this synthetic corpus's "neighbors" sit at cosine
#: ≈0.34 — barely closer than random, the worst case for any LSH.
N_PROBE_PLANES = 4


def _dot(a: Column, b: Column) -> Column:
    """Strict left-fold dot product — bit-identical to the DuckDB twin."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


#: DuckDB twin: fold over an index range (1-based list access). The
#: bound derives from the actual array length — a hardcoded dimension
#: would silently truncate or NULL-pollute if the corpus dim changed.
def _duck_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
        f"(x, y) -> x + y)"
    )


# ---------------------------------------------------------------------------
# Brute-force cosine top-k (exact baseline / reranking kernel).
# ---------------------------------------------------------------------------
@query(
    "embedding_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             {_duck_dot('q.embedding', 'e.embedding')}
               / (sqrt({_duck_dot('q.embedding', 'q.embedding')})
                  * sqrt({_duck_dot('e.embedding', 'e.embedding')}))
               AS cosine
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id)
                  AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank, cosine
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def embedding_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{TOP_K} for {N_QUERIES} query vectors.

    The query side is broadcast (tiny), so the scan of the candidate
    side is a single narrow pass — no shuffle until the per-query top-k
    window, which AQE keeps small (Q·N rows → Q·k).
    """
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_nrm"),
    )
    cand = e.select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    scored = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# Sign-LSH bucketed ANN (the 100 TB scale path).
# ---------------------------------------------------------------------------
def _bucket(col: str, n_planes: int) -> Column:
    """Sign-pattern LSH bucket key: '0'/'1' per separating plane.

    Axis-aligned planes (leading dimensions' signs) — data-independent,
    so the bucketing is a narrow map with no fitting step.
    """
    return F.concat(
        *[
            F.when(F.element_at(col, i + 1) >= 0, "1").otherwise("0")
            for i in range(n_planes)
        ]
    )


def _duck_bucket(col: str, n_planes: int = N_PLANES) -> str:
    digits = " || ".join(
        f"(CASE WHEN {col}[{i + 1}] >= 0 THEN '1' ELSE '0' END)"
        for i in range(n_planes)
    )
    return f"({digits})"


@query(
    "ann_lsh_bucketed",
    oracle=f"""
    WITH {_duck_planes_cte()},
    b AS (
      SELECT vec_id, embedding, {_duck_bucket_dyn('embedding')} AS bucket
      FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id, a.bucket, e.vec_id AS neighbor_id,
             {_duck_dot('a.embedding', 'e.embedding')}
               / (sqrt({_duck_dot('a.embedding', 'a.embedding')})
                  * sqrt({_duck_dot('e.embedding', 'e.embedding')}))
               AS cosine
      FROM b a JOIN b e ON a.bucket = e.bucket AND a.vec_id != e.vec_id
    ),
    ranked AS (
      SELECT vec_id, bucket, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cosine DESC, neighbor_id)
                  AS BIGINT) AS rank
      FROM scored
    )
    SELECT vec_id, bucket, neighbor_id, rank, cosine
    FROM ranked WHERE rank <= {BUCKET_TOP_K}
    """,
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN: sign-pattern LSH buckets, exact search in-bucket.

    Every vector gets a bucket from the signs of its leading dimensions
    (axis-aligned random-hyperplane LSH — planes are data-independent
    so the bucketing is a narrow map). The plane count is CORPUS-
    DERIVED via ``adaptive_planes`` (smallest grid with ≤
    {ANN_TARGET_BUCKET} expected vectors per bucket, capped at
    {ANN_MAX_PLANES}): in-bucket work stays O(N · bucket), linear in
    the corpus, instead of the O(N²/2^const) a fixed count degrades to.
    The self-join is pinned SHUFFLE_HASH on the bucket key: both sides
    shuffle their (small) bucket partitions instead of broadcasting the
    whole vector corpus through the driver — the same rationale as the
    minhash verify join, and the only shape that survives a corpus that
    outgrows executor memory. AQE's skew-join still splits any hot
    bucket. At 100 TB the rule caps at 2^{ANN_MAX_PLANES} buckets;
    recall is bought back with multi-probe (``ann_recall_multiprobe``)
    and hot buckets get salted.
    """
    e = t(spark, sf_dir, "embeddings")
    # corpus size from parquet footers — no Spark job for the dial
    planes = adaptive_planes(table_row_count(sf_dir, "embeddings"))
    # norms are computed once per vector BEFORE the pair join — inside
    # the join each norm would be re-folded for every pair (~bucket-size
    # times redundantly). Same fold, same bits, ~2x fewer array folds.
    b = e.selectExpr(
        "vec_id",
        "embedding",
        f"{_spark_bucket_sql(planes)} AS bucket",
        f"sqrt({_spark_dot_sql('embedding', 'embedding')}) AS nrm",
    )
    a, c = b.alias("a"), b.hint("shuffle_hash").alias("c")
    scored = a.join(
        c,
        (F.col("a.bucket") == F.col("c.bucket"))
        & (F.col("a.vec_id") != F.col("c.vec_id")),
    ).selectExpr(
        "a.vec_id AS vec_id",
        "a.bucket AS bucket",
        "c.vec_id AS neighbor_id",
        f"{_spark_dot_sql('a.embedding', 'c.embedding')} / (a.nrm * c.nrm) AS cosine",
    )
    return (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY vec_id "
            "ORDER BY cosine DESC, neighbor_id) AS rn",
        )
        .filter(F.col("rn") <= BUCKET_TOP_K)
        .selectExpr(
            "vec_id", "bucket", "neighbor_id", "CAST(rn AS BIGINT) AS rank", "cosine"
        )
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (dedup family, LSH-blocked).
# ---------------------------------------------------------------------------
NEAR_DUP_COSINE = 0.3


@query(
    "embedding_near_dup",
    oracle=f"""
    WITH {_duck_planes_cte()},
    b AS (
      SELECT vec_id, embedding, {_duck_bucket_dyn('embedding')} AS bucket,
             sqrt({_duck_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS a_id, e.vec_id AS b_id,
           {_duck_dot('a.embedding', 'e.embedding')} / (a.nrm * e.nrm)
             AS cosine
    FROM b a JOIN b e ON a.bucket = e.bucket AND a.vec_id < e.vec_id
    WHERE {_duck_dot('a.embedding', 'e.embedding')} / (a.nrm * e.nrm)
          >= {NEAR_DUP_COSINE}
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate vector pairs: cosine ≥ {NEAR_DUP_COSINE} within
    sign-LSH blocks (threshold calibrated to this synthetic corpus's
    similarity range — real near-dup corpora would use ~0.95).

    The dedup-family twin of ``ann_lsh_bucketed``: same blocking (near-
    identical vectors agree on leading-dimension signs with high
    probability), but the output is the near-dup *pair list* a dedup
    pipeline would feed into connected-components / keep-one-per-group.
    The plane count grows with the corpus via ``adaptive_planes``, so
    candidate pairs stay linear in corpus size; at 100 TB add
    multi-probe to recover pairs straddling a bucket boundary.
    """
    e = t(spark, sf_dir, "embeddings")
    planes = adaptive_planes(table_row_count(sf_dir, "embeddings"))
    b = e.selectExpr(
        "vec_id",
        "embedding",
        f"{_spark_bucket_sql(planes)} AS bucket",
        f"sqrt({_spark_dot_sql('embedding', 'embedding')}) AS nrm",
    )
    a, c = b.alias("a"), b.hint("shuffle_hash").alias("c")
    return (
        a.join(
            c,
            (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col("a.vec_id") < F.col("c.vec_id")),
        )
        .selectExpr(
            "a.vec_id AS a_id",
            "c.vec_id AS b_id",
            f"{_spark_dot_sql('a.embedding', 'c.embedding')} / (a.nrm * c.nrm)"
            " AS cosine",
        )
        .filter(F.col("cosine") >= NEAR_DUP_COSINE)
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH ANN + recall-vs-bruteforce measurement (scale path).
# ---------------------------------------------------------------------------
@query(
    "ann_recall_multiprobe",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_duck_bucket('embedding', N_PROBE_PLANES)} AS bucket,
             sqrt({_duck_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, bucket
          FROM b WHERE vec_id < {N_QUERIES}),
    probes AS (
      SELECT query_id, q_emb, q_nrm, bucket AS probe FROM q
      UNION ALL
      SELECT query_id, q_emb, q_nrm,
             substr(bucket, 1, i.i)
             || (CASE WHEN substr(bucket, i.i + 1, 1) = '1'
                      THEN '0' ELSE '1' END)
             || substr(bucket, i.i + 2) AS probe
      FROM q CROSS JOIN (SELECT unnest(range({N_PROBE_PLANES})) AS i) i
    ),
    approx_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY p.query_id
                 ORDER BY {_duck_dot('p.q_emb', 'c.embedding')}
                          / (p.q_nrm * c.nrm) DESC, c.vec_id) AS rn
        FROM probes p JOIN b c
          ON p.probe = c.bucket AND c.vec_id != p.query_id
      ) WHERE rn <= {TOP_K}
    ),
    exact_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_duck_dot('q.q_emb', 'c.embedding')}
                          / (q.q_nrm * c.nrm) DESC, c.vec_id) AS rn
        FROM q CROSS JOIN b c WHERE c.vec_id != q.query_id
      ) WHERE rn <= {TOP_K}
    ),
    hits AS (
      SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM approx_topk a JOIN exact_topk x
        ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
      GROUP BY 1
    )
    SELECT q.query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(h.n_hits, 0) / {TOP_K} AS recall_at_k
    FROM q LEFT JOIN hits h ON q.query_id = h.query_id
    """,
)
def ann_recall_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN, measured: recall@{TOP_K} against the
    exact brute-force top-{TOP_K} per query vector.

    The scale path the module docstring promises, with its knobs
    exercised: plane count follows log2(corpus / target_bucket_size)
    (4 for this 2k corpus; 16-20 at 100 TB), and Hamming-distance-1
    multi-probe — each query searches its own bucket plus the
    {N_PROBE_PLANES} buckets with one sign flipped — buys back the
    recall finer bucketing costs (0.10 → 0.66 mean recall@5 at sf0.1).
    Candidate work stays O(probes · bucket_size) per query — one
    equi-join on the probe key, no quadratic blow-up — and the probe
    fan-out is a constant factor, not a corpus factor.

    The recall column IS the measurement: the driver gate pins it
    cross-engine, the bench records it at sf0.1 (see BASELINE.md).
    Two regimes reported there: 0.66 mean recall@5 on this corpus's
    ADVERSARIAL organic neighbors (cosine ≈0.34, LSH's worst case) and
    10/10 planted cosine-0.92 near-dups retrieved at sf0.1 — the
    production near-dup regime, pinned by
    ``tests/test_operators.py::test_multiprobe_retrieves_planted_near_dups``.
    """
    e = t(spark, sf_dir, "embeddings")
    q, approx_topk, exact_topk = multiprobe_topk(e)
    hits = approx_topk.join(exact_topk, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count("*").cast("bigint").alias("n_hits"))
    return (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(TOP_K)
            ).alias("recall_at_k"),
        )
    )


def multiprobe_topk(
    e: DataFrame,
    *,
    n_planes: int = N_PROBE_PLANES,
    n_queries: int = N_QUERIES,
    top_k: int = TOP_K,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The multi-probe retrieval kernel shared by the recall query and
    the planted-near-dup recall fixture (``tests/test_operators.py``):
    given a corpus ``(vec_id, embedding)``, returns ``(queries,
    approx_topk, exact_topk)`` where queries are the vectors with
    ``vec_id < n_queries`` and each top-k is ``(query_id,
    neighbor_id)``."""
    b = e.select(
        "vec_id",
        "embedding",
        _bucket("embedding", n_planes).alias("bucket"),
        _norm(F.col("embedding")).alias("nrm"),
    )
    q = (
        b.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            "bucket",
        )
    )
    nb = n_planes
    flips = [
        F.expr(
            f"concat(substring(bucket, 1, {i}), "
            f"CASE WHEN substring(bucket, {i + 1}, 1) = '1' "
            f"THEN '0' ELSE '1' END, "
            f"substring(bucket, {i + 2}))"
        )
        for i in range(nb)
    ]
    probes = q.select(
        "query_id",
        "q_emb",
        "q_nrm",
        F.explode(F.array(F.col("bucket"), *flips)).alias("probe"),
    )
    # each corpus vector lives in exactly one bucket and probe keys are
    # distinct, so no (query, neighbor) pair can appear twice
    approx = (
        b.join(F.broadcast(probes), F.col("probe") == F.col("bucket"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    approx_topk = (
        approx.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select("query_id", "neighbor_id")
    )
    exact = (
        b.crossJoin(F.broadcast(q.select("query_id", "q_emb", "q_nrm")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cosine"),
        )
    )
    exact_topk = (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select("query_id", "neighbor_id")
    )
    return q, approx_topk, exact_topk


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer + probed posting lists.
# ---------------------------------------------------------------------------
#: coarse-quantizer size (number of posting lists). Like the LSH plane
#: count, a cost/recall dial that scales with the corpus: nlist ≈
#: sqrt(N) is the standard rule (≈2^16 lists for a 100 TB corpus).
IVF_N_LISTS = 16
#: posting lists probed per query — the recall dial (scan fraction ≈
#: nprobe/nlist given balanced lists; 4/16 = 25% here).
IVF_N_PROBE = 4


def _ivf_oracle() -> str:
    dot_vc = _duck_dot("v.embedding", "c.c_emb")
    dot_qc = _duck_dot("q.q_emb", "c.c_emb")
    dot_pa = _duck_dot("p.q_emb", "a.embedding")
    return f"""
    WITH v AS (
      SELECT vec_id, embedding,
             sqrt({_duck_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS list_id, embedding AS c_emb, nrm AS c_nrm
      FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {IVF_N_LISTS}
    ),
    assign AS (
      SELECT vec_id, embedding, nrm, list_id FROM (
        SELECT v.vec_id, v.embedding, v.nrm, c.list_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {dot_vc} / (v.nrm * c.c_nrm) DESC, c.list_id) AS rn
        FROM v CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
          FROM v WHERE vec_id < {N_QUERIES}),
    qprobe AS (
      SELECT query_id, q_emb, q_nrm, list_id FROM (
        SELECT q.query_id, q.q_emb, q.q_nrm, c.list_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {dot_qc} / (q.q_nrm * c.c_nrm) DESC, c.list_id) AS rn
        FROM q CROSS JOIN cent c
      ) WHERE rn <= {IVF_N_PROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {dot_pa} / (p.q_nrm * a.nrm) AS cosine
      FROM qprobe p JOIN assign a ON p.list_id = a.list_id
      WHERE a.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """


@query("ann_ivf_probe", oracle=_ivf_oracle())
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN — the other canonical vector-index family beside
    sign-LSH (``ann_lsh_bucketed``/``ann_recall_multiprobe``): a coarse
    quantizer of {IVF_N_LISTS} centroids partitions the corpus into
    posting lists; each query probes its {IVF_N_PROBE} nearest lists
    and searches them exactly.

    Centroids here are a deterministic uniform sample (the
    {IVF_N_LISTS} vectors with smallest key-md5 — same hashed-key
    discipline as ``train_test_split``; k-means refinement would
    improve list balance but adds an iterative fitting stage and no new
    plan shape). Data-dependent bucketing is IVF's edge over LSH: list
    boundaries adapt to the corpus distribution, so probing
    {IVF_N_PROBE}/{IVF_N_LISTS} lists scans ≈{IVF_N_PROBE}/{IVF_N_LISTS}
    of the corpus with recall concentrated where the data is.

    Scale plan: the centroid table is O(nlist) and broadcast twice
    (assignment + query routing) — the corpus shuffles ONCE on
    ``list_id`` (at rest this is the partitioning of the stored index:
    write the assigned corpus bucketed by list_id and the probe join
    prunes partitions instead of shuffling). nlist ≈ sqrt(N) keeps
    per-list work O(sqrt(N)); skewed lists get the same salting/AQE
    treatment as any hot key.
    """
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    cent = (
        v.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(IVF_N_LISTS)
        .select(
            F.col("vec_id").alias("list_id"),
            F.col("embedding").alias("c_emb"),
            F.col("nrm").alias("c_nrm"),
        )
    )
    c_sim = _dot(F.col("embedding"), F.col("c_emb")) / (
        F.col("nrm") * F.col("c_nrm")
    )
    wa = W.partitionBy("vec_id").orderBy(F.col("c_sim").desc(), F.col("list_id"))
    assign = (
        v.crossJoin(F.broadcast(cent))
        .select("vec_id", "embedding", "nrm", "list_id", c_sim.alias("c_sim"))
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "nrm", "list_id")
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    q_sim = _dot(F.col("q_emb"), F.col("c_emb")) / (
        F.col("q_nrm") * F.col("c_nrm")
    )
    wq = W.partitionBy("query_id").orderBy(F.col("c_sim").desc(), F.col("list_id"))
    qprobe = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "q_emb", "q_nrm", "list_id", q_sim.alias("c_sim"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= IVF_N_PROBE)
        .select("query_id", "q_emb", "q_nrm", "list_id")
    )
    scored = (
        assign.join(F.broadcast(qprobe), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cosine"),
        )
    )
    wr = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# k-NN label vote (classification on top of the exact top-k kernel).
# ---------------------------------------------------------------------------
@query(
    "knn_label_vote",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding, label FROM embeddings
               WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label,
             e.label AS neighbor_label,
             {_duck_dot('q.embedding', 'e.embedding')}
               / (sqrt({_duck_dot('q.embedding', 'q.embedding')})
                  * sqrt({_duck_dot('e.embedding', 'e.embedding')}))
               AS cosine,
             e.vec_id AS neighbor_id
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id != q.vec_id
    ),
    topk AS (
      SELECT * FROM (
        SELECT query_id, true_label, neighbor_label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rn
        FROM scored
      ) WHERE rn <= {TOP_K}
    ),
    votes AS (
      SELECT query_id, true_label, neighbor_label,
             CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM topk GROUP BY 1, 2, 3
    )
    SELECT query_id, true_label,
           CAST(neighbor_label AS INT) AS predicted_label, n_votes
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, neighbor_label) AS rn
      FROM votes
    ) WHERE rn = 1
    """,
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-label vote among the cosine top-{TOP_K} neighbors."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("true_label"),
        _norm(F.col("embedding")).alias("q_nrm"),
    )
    cand = e.select(
        "vec_id", "embedding", "label", _norm(F.col("embedding")).alias("nrm")
    )
    scored = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            F.col("label").alias("neighbor_label"),
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    topk = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= TOP_K
    )
    votes = topk.groupBy("query_id", "true_label", "neighbor_label").agg(
        F.count("*").cast("bigint").alias("n_votes")
    )
    wv = W.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("neighbor_label")
    )
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("neighbor_label").cast("int").alias("predicted_label"),
            "n_votes",
        )
    )


# ---------------------------------------------------------------------------
# IVF centroid training (k-means refinement of the coarse quantizer).
# ---------------------------------------------------------------------------
@query("ivf_kmeans_fit", oracle=pinned_oracles.kmeans_fit_oracle)
def ivf_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means-refined IVF coarse quantizer (``operators.kmeans``):
    Lloyd's over the embedding corpus, deterministic hash init, 3
    rounds — the fitting stage ``ann_ivf_probe``'s docstring defers.

    Rows-only gate entry: an iterative fixed-point algorithm has no
    single-statement SQL twin. Cross-engine verification runs in pytest
    instead: ``tests/test_kmeans.py`` asserts the fitted centroids are
    BIT-EQUAL to an independent pure-Python Lloyd's
    (``tests/kmeans_reference.py``) at sf0.001 and sf0.01 — this exact
    k=8/hash/3-round configuration — on top of the
    recovery/monotonicity/determinism properties. Output is one row
    per posting list with its population and centroid norm — the list-
    balance diagnostic an IVF build reports. The fit comes from the
    session quantizer cache (``_kmeans_cached``) — trained once per
    (session, corpus, k) like a persisted model artifact.
    """
    model = _kmeans_cached(spark, sf_dir, 8)
    return model.centroids.select(
        "cluster_id",
        "n_members",
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    "centroid", "centroid", lambda a, b: a * b
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("centroid_norm"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup: kmeans blocking → in-cluster cosine pairs → closure.
# ---------------------------------------------------------------------------
#: cosine threshold for "semantically duplicate" (corpus-calibrated —
#: this synthetic corpus's nearest neighbors sit at ~0.34; real
#: near-dup corpora use ≥0.9).
SEMANTIC_DUP_COSINE = 0.3
#: k-means block count is the same RECALL/COST dial as the sign-LSH
#: plane count above: the in-block pair kernel is O(N²/k), so any FIXED
#: k is quadratic at scale. The semantic-dedup queries DERIVE k per
#: corpus — smallest k holding the corpus at ≤ SEMANTIC_TARGET_BLOCK
#: expected vectors per block (integer-exact ceil; multi-assignment
#: variants count each vector once per block it lands in). The cap
#: bounds the centroid broadcast and the per-vector distance scan; a
#: corpus that saturates it (≥ ~256k vectors at target 64) shards into
#: hierarchical blocking — coarse kmeans to route, fine kmeans within.
SEMANTIC_TARGET_BLOCK = 64
SEMANTIC_K_MIN = 2
SEMANTIC_K_MAX = 4096


def adaptive_kmeans_blocks(n_vectors: int, assignments_per_vector: int = 1) -> int:
    """Corpus-derived k-means block count (the ``adaptive_planes``
    rule applied to data-adaptive blocking): smallest k with expected
    block occupancy ≤ SEMANTIC_TARGET_BLOCK, clamped to
    [SEMANTIC_K_MIN, SEMANTIC_K_MAX]. Pure integer math — the same
    corpus always blocks with the same k."""
    occupancy = n_vectors * assignments_per_vector
    need = -(-occupancy // SEMANTIC_TARGET_BLOCK)  # exact ceil
    return max(SEMANTIC_K_MIN, min(SEMANTIC_K_MAX, need))


def _kmeans_cached(spark: SparkSession, sf_dir: str, k: int):
    """One 3-round hash-init Lloyd's fit per (session, corpus, k);
    returns the memoized ``KMeansModel`` (centroids + assignments).
    Consumers need the TRAINED quantizer, not the training run; the
    model's frames are localCheckpointed by ``kmeans_fit``, so reuse
    replays no lineage. ``keep_assignments`` lets the blocking
    consumers skip a corpus re-assignment scan."""
    from ..operators.kmeans import kmeans_fit

    def fit():
        return kmeans_fit(
            t(spark, sf_dir, "embeddings"),
            k=k,
            max_iterations=3,
            init="hash",
            keep_assignments=True,
            expect_convergence=False,
        )

    return session_memo(spark, ("kmeans", sf_dir, k), fit)


@query(
    "semantic_cluster_dedup",
    oracle=pinned_oracles.semantic_cluster_dedup_oracle,
)
def semantic_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end semantic dedup over the embedding corpus: k-means
    blocks the vectors (data-ADAPTIVE buckets, unlike the sign-LSH
    blocking of ``embedding_near_dup``), exact cosine runs only within
    blocks, and connected components closes the pair set into dedup
    groups with a keep-one representative per group.

    Rows-only gate entry (the kmeans stage has no SQL twin — it is
    bit-pinned against a pure-Python reference in
    ``tests/test_kmeans.py`` instead; the in-cluster pair kernel and
    the closure are each oracle-matched in their own queries). Measured on this corpus (BASELINE.md): kmeans
    lists are tighter than hash-sampled ones (size CV 0.088 vs 0.102),
    and at 100 TB adaptive blocking concentrates true neighbors into
    the same block, which fixed hyperplanes cannot promise. Caveat,
    measured not hidden: k-means blocking has no collision guarantee —
    a pair straddling a block boundary is missed (LSH multi-probe
    bounds that miss probability; the production design uses kmeans
    blocks + multi-assignment of boundary vectors, i.e. assign each
    vector to its top-2 nearest centroids).
    """
    from ..operators.graph import connected_components

    e = t(spark, sf_dir, "embeddings")
    # corpus-derived block count (see adaptive_kmeans_blocks): 8 on the
    # 500-vector sf≤0.01 corpora — the exact configuration the kmeans
    # bit-pin fixtures verify — 32 at sf0.1, bounded occupancy at any sf
    k = adaptive_kmeans_blocks(table_row_count(sf_dir, "embeddings"))
    # session quantizer cache: fit once per (session, corpus, k); the
    # cached assignments replace a second full corpus assignment scan.
    model = _kmeans_cached(spark, sf_dir, k)
    labeled = (
        model.assignments.join(e.select("vec_id", "embedding"), "vec_id")
        .select(
            "vec_id",
            "cluster_id",
            "embedding",
            _norm(F.col("embedding")).alias("nrm"),
        )
        # materialize the assignment frame ONCE per run (round-12
        # VERDICT #5): it feeds both self-join sides, and without the
        # barrier the assignments⋈embeddings join + norm projection
        # re-derive per side; the checkpoint also truncates the plan
        # the O(N²/k) pair kernel is built over
        .localCheckpoint(eager=False)
    )
    a, b = labeled.alias("a"), labeled.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            (
                _dot(F.col("a.embedding"), F.col("b.embedding"))
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= SEMANTIC_DUP_COSINE)
    )
    comp = connected_components(pairs, "a_id", "b_id")
    return comp.select(
        F.col("node").cast("bigint").alias("vec_id"),
        F.col("component").cast("bigint").alias("dup_group"),
        (F.col("node") == F.col("component")).alias("is_representative"),
    )


@query("ann_ivf_kmeans", oracle=pinned_oracles.ann_ivf_kmeans_oracle)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe over a K-MEANS-trained quantizer — `ann_ivf_probe`
    with `operators.kmeans` centroids in place of the hash sample
    (measured list balance: size CV 0.088 vs 0.102, BASELINE.md; the
    gap widens on clustered real corpora where sampled centroids land
    inside dense regions).

    Rows-only gate entry (the quantizer training is iterative — and
    bit-pinned against a pure-Python reference Lloyd's in
    ``tests/test_kmeans.py``); the probe mechanics — top-`IVF_N_PROBE`
    list routing, in-list exact cosine, per-query top-k — are
    identical to the oracle-matched `ann_ivf_probe`. Plan: centroids broadcast twice (assignment +
    routing), corpus shuffles once on list_id; the quantizer comes from
    the session cache (``_kmeans_cached``).
    """
    e = t(spark, sf_dir, "embeddings")
    model = _kmeans_cached(spark, sf_dir, IVF_N_LISTS)
    v = e.select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    assign = model.assignments.select(
        "vec_id", F.col("cluster_id").alias("list_id")
    ).join(v, "vec_id")

    cents = model.centroids.select(
        F.col("cluster_id").alias("list_id"),
        F.transform("centroid", lambda x: x.cast("float")).alias("c_emb"),
    ).withColumn("c_nrm", _norm(F.col("c_emb")))
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    q_sim = _dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm"))
    wq = W.partitionBy("query_id").orderBy(F.col("q_sim").desc(), F.col("list_id"))
    qprobe = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "q_emb", "q_nrm", "list_id", q_sim.alias("q_sim"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= IVF_N_PROBE)
        .drop("rn", "q_sim")
    )
    scored = qprobe.join(assign, "list_id").filter(
        F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            _dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_nrm") * F.col("nrm"))
        ).alias("cosine"),
    )
    wr = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training.
# ---------------------------------------------------------------------------
#: hard negatives returned per query vector.
N_HARD_NEG = 5


def _hardneg_oracle() -> str:
    dot = _duck_dot("q.q_emb", "v.embedding")
    return f"""
    WITH v AS (
      SELECT vec_id, label, embedding,
             sqrt({_duck_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb,
             nrm AS q_nrm
      FROM v WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, q.q_label, v.vec_id AS neg_id,
             v.label AS neg_label,
             {dot} / (q.q_nrm * v.nrm) AS cosine
      FROM q JOIN v ON v.label <> q.q_label
    )
    SELECT query_id, q_label, neg_id, neg_label,
           CAST(rn AS BIGINT) AS rank, cosine
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neg_id) AS rn
      FROM scored
    ) WHERE rn <= {N_HARD_NEG}
    """


@query("hard_negative_mining", oracle=_hardneg_oracle())
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard negatives: for each query vector, the
    {N_HARD_NEG} most similar vectors with a DIFFERENT label — the
    near-misses that make a contrastive loss learn boundaries (random
    negatives are trivially separable and teach nothing).

    The query side broadcasts (queries are the small side by
    construction); the label-mismatch predicate rides the broadcast
    join as a residual filter, so the corpus is scanned once with no
    shuffle before the per-query top-k window. At 100 TB the exact
    scan becomes the rerank stage behind an ANN candidate pass
    (`ann_ivf_probe`/`ann_lsh_bucketed`) — same kernel, pre-filtered
    input.
    """
    e = t(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id", "label", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        v.join(F.broadcast(q), F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            "q_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            (
                _dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= N_HARD_NEG)
        .select("query_id", "q_label", "neg_id", "neg_label", "rank", "cosine")
    )


@query(
    "semantic_dedup_multiblock",
    oracle=pinned_oracles.semantic_dedup_multiblock_oracle,
)
def semantic_dedup_multiblock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`semantic_cluster_dedup`'s production variant: every vector is
    assigned to its TOP-2 nearest centroids (k corpus-derived via
    ``adaptive_kmeans_blocks`` over 2N), so a duplicate
    pair straddling a block boundary still shares at least one block
    whenever the second-nearest centroid agrees — the multi-assignment
    answer to single-block kmeans' miss mode, at the same kernel cost
    (k doubles, per-block size halves: 16·C(2N/16, 2) ≈ 8·C(2N/8, 2)).

    Rows-only gate entry like its sibling (the kmeans stage is
    bit-pinned in ``tests/test_kmeans.py``; the cosine kernel and the
    closure are oracle-matched in their own queries). Plan: one
    broadcast of the k-row centroid array (top-2 via sorted distance
    structs, sliced — no per-centroid join), block explode ×2, one
    shuffle on block for the pair kernel, pair-level distinct before
    closure (a pair sharing both blocks must not double-edge).
    """
    from ..operators.graph import connected_components
    from ..operators.kmeans import _sq_l2

    e = t(spark, sf_dir, "embeddings")
    # top-2 assignment doubles block occupancy, so derive k from 2N —
    # 16 on the 500-vector sf≤0.01 corpora (the pinned configuration),
    # 63 at sf0.1; O(N²/k) pair work stays bounded by construction
    k = adaptive_kmeans_blocks(
        table_row_count(sf_dir, "embeddings"), assignments_per_vector=2
    )
    model = _kmeans_cached(spark, sf_dir, k)
    carr = model.centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("cluster_id").cast("int").alias("cid"),
                    F.col("centroid").alias("c"),
                )
            )
        ).alias("cents_arr")
    )
    vec = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
        _norm(F.col("embedding")).alias("nrm"),
    )
    top2 = F.slice(
        F.array_sort(
            F.transform(
                F.col("cents_arr"),
                lambda s: F.struct(
                    _sq_l2(F.col("vec"), s["c"]).alias("d2"),
                    s["cid"].alias("cid"),
                ),
            )
        ),
        1,
        2,
    )
    blocks = (
        vec.crossJoin(F.broadcast(carr))
        .select("vec_id", "vec", "nrm", F.explode(top2).alias("blk"))
        .select("vec_id", "vec", "nrm", F.col("blk.cid").alias("block_id"))
        # materialize the top-2 block assignment ONCE per run
        # (round-12 VERDICT #5): the k-distance sort per vector feeds
        # both self-join sides; the checkpoint runs it once and
        # truncates the big top2 expression tree from the pair plan
        .localCheckpoint(eager=False)
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            (
                _dot(F.col("a.vec"), F.col("b.vec"))
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= SEMANTIC_DUP_COSINE)
        .select("a_id", "b_id")
        .distinct()
    )
    comp = connected_components(pairs, "a_id", "b_id")
    return comp.select(
        F.col("node").cast("bigint").alias("vec_id"),
        F.col("component").cast("bigint").alias("dup_group"),
        (F.col("node") == F.col("component")).alias("is_representative"),
    )


# ---------------------------------------------------------------------------
# Matryoshka dimension ablation: retrieval quality of prefix-dim slices.
# ---------------------------------------------------------------------------
#: prefix dimensions evaluated against the full 64-dim ground truth.
MATRYOSHKA_DIMS = (8, 16, 32, 64)


def _matryoshka_oracle() -> str:
    full_dot = _duck_dot("q.embedding", "c.embedding")
    selects = []
    for dim in MATRYOSHKA_DIMS:
        pd = _duck_dot(f"q.embedding[1:{dim}]", f"c.embedding[1:{dim}]")
        selects.append(f"""
    SELECT CAST({dim} AS BIGINT) AS dim, query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {pd}
                 / (sqrt({_duck_dot(f"q.embedding[1:{dim}]", f"q.embedding[1:{dim}]")})
                    * sqrt({_duck_dot(f"c.embedding[1:{dim}]", f"c.embedding[1:{dim}]")}))
                 DESC, c.vec_id) AS rn
      FROM qv q CROSS JOIN embeddings c WHERE c.vec_id != q.vec_id
    ) WHERE rn <= {TOP_K}""")
    prefix_union = "\n    UNION ALL\n".join(selects)
    return f"""
    WITH qv AS (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id < {N_QUERIES}),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {full_dot}
                   / (sqrt({_duck_dot("q.embedding", "q.embedding")})
                      * sqrt({_duck_dot("c.embedding", "c.embedding")}))
                   DESC, c.vec_id) AS rn
        FROM qv q CROSS JOIN embeddings c WHERE c.vec_id != q.vec_id
      ) WHERE rn <= {TOP_K}
    ),
    pref AS ({prefix_union})
    SELECT p.dim, p.query_id,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hits,
           COUNT(t.neighbor_id) / {TOP_K} AS overlap_at_k
    FROM pref p LEFT JOIN truth t
      ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
    GROUP BY 1, 2
    """


@query("matryoshka_dim_ablation", oracle=_matryoshka_oracle())
def matryoshka_dim_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension ablation: for each prefix width in
    {MATRYOSHKA_DIMS}, the overlap@{TOP_K} between exact retrieval on
    the TRUNCATED embedding and exact retrieval on the full vector —
    the measurement behind the modern "store 64 dims, search 16, rerank
    full" serving pattern (truncating a matryoshka-trained embedding is
    a free 4-8× scan-cost cut IF retrieval quality holds; this query is
    the dial that says whether it does for a given corpus).

    Plan: the {N_QUERIES}-row query side broadcasts once per prefix
    width; each scoring pass is a narrow corpus scan (slice + fold —
    the slice costs nothing extra: the fold just stops early), and the
    per-query top-k window sees Q·N rows pre-AQE. All arithmetic is the
    engine-pinned strict-left-fold cosine, so rankings — and therefore
    the integer overlap counts — are bit-identical cross-engine.
    """
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    cand = e.select("vec_id", "embedding")

    def topk_at(dim: int | None) -> DataFrame:
        qe = F.col("q_emb") if dim is None else F.slice("q_emb", 1, dim)
        ce = (
            F.col("embedding")
            if dim is None
            else F.slice("embedding", 1, dim)
        )
        scored = (
            cand.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                (_dot(qe, ce) / (_norm(qe) * _norm(ce))).alias("cosine"),
            )
        )
        w = W.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    truth = topk_at(None)
    pref = None
    for dim in MATRYOSHKA_DIMS:
        part = topk_at(dim).select(
            F.lit(dim).cast("bigint").alias("dim"), "query_id", "neighbor_id"
        )
        pref = part if pref is None else pref.unionByName(part)
    return (
        pref.alias("p")
        .join(
            truth.alias("t"),
            (F.col("p.query_id") == F.col("t.query_id"))
            & (F.col("p.neighbor_id") == F.col("t.neighbor_id")),
            "left",
        )
        .groupBy("p.dim", "p.query_id")
        .agg(
            F.count(F.col("t.neighbor_id")).cast("bigint").alias("n_hits"),
            (
                F.count(F.col("t.neighbor_id")) / F.lit(TOP_K)
            ).alias("overlap_at_k"),
        )
        .select("dim", "query_id", "n_hits", "overlap_at_k")
    )


# ---------------------------------------------------------------------------
# Label-quality eval: confusion counts + precision/recall per class.
# ---------------------------------------------------------------------------
def _knn_eval_oracle() -> str:
    from .registry import REGISTRY

    votes = REGISTRY["knn_label_vote"].oracle.rstrip()
    return f"""
    WITH votes AS ({votes}),
    cls AS (
      SELECT true_label AS label FROM votes
      UNION
      SELECT predicted_label FROM votes
    )
    SELECT c.label,
           CAST((SELECT COUNT(*) FROM votes v
                 WHERE v.true_label = c.label) AS BIGINT) AS n_true,
           CAST((SELECT COUNT(*) FROM votes v
                 WHERE v.predicted_label = c.label) AS BIGINT) AS n_pred,
           CAST((SELECT COUNT(*) FROM votes v
                 WHERE v.true_label = c.label
                   AND v.predicted_label = c.label) AS BIGINT) AS n_correct,
           CASE WHEN (SELECT COUNT(*) FROM votes v
                      WHERE v.predicted_label = c.label) = 0 THEN NULL
                ELSE (SELECT COUNT(*) FROM votes v
                      WHERE v.true_label = c.label
                        AND v.predicted_label = c.label)
                     / CAST((SELECT COUNT(*) FROM votes v
                             WHERE v.predicted_label = c.label) AS DOUBLE)
           END AS precision,
           CASE WHEN (SELECT COUNT(*) FROM votes v
                      WHERE v.true_label = c.label) = 0 THEN NULL
                ELSE (SELECT COUNT(*) FROM votes v
                      WHERE v.true_label = c.label
                        AND v.predicted_label = c.label)
                     / CAST((SELECT COUNT(*) FROM votes v
                             WHERE v.true_label = c.label) AS DOUBLE)
           END AS recall
    FROM cls c
    """


@query("knn_label_eval", oracle=_knn_eval_oracle())
def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class eval of the kNN label vote (`knn_label_vote`):
    support, prediction count, correct count, precision and recall —
    the label-quality report a training-data pipeline runs when weak
    labels (here: neighbor votes) stand in for gold ones.

    Composition pin like ``dedup_keep_list``: the vote query is
    oracle-matched alone; this gate pins that the eval layer computes
    the confusion counts off it with the right polarity (precision
    divides by PREDICTED support, recall by TRUE support, NULL — not
    0 — on empty denominators). Ratios divide the same bigints in both
    engines → identical IEEE doubles. Plan: the 10-row vote output
    aggregates twice and full-outer-joins on label — all driver-cheap,
    the expensive part (the vote) is one corpus scan.
    """
    votes = knn_label_vote(spark, sf_dir)
    truth = votes.groupBy(F.col("true_label").alias("label")).agg(
        F.count("*").cast("bigint").alias("n_true")
    )
    pred = votes.groupBy(F.col("predicted_label").alias("label")).agg(
        F.count("*").cast("bigint").alias("n_pred"),
        F.count(
            F.when(F.col("predicted_label") == F.col("true_label"), 1)
        ).cast("bigint").alias("n_correct"),
    )
    z = F.lit(0).cast("bigint")
    joined = truth.join(pred, "label", "full_outer").select(
        "label",
        F.coalesce("n_true", z).alias("n_true"),
        F.coalesce("n_pred", z).alias("n_pred"),
        F.coalesce("n_correct", z).alias("n_correct"),
    )
    return joined.select(
        "label",
        "n_true",
        "n_pred",
        "n_correct",
        F.when(
            F.col("n_pred") > 0, F.col("n_correct") / F.col("n_pred")
        ).alias("precision"),
        F.when(
            F.col("n_true") > 0, F.col("n_correct") / F.col("n_true")
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Product quantization: PQ encode + asymmetric-distance (ADC) retrieval.
# ---------------------------------------------------------------------------
#: PQ geometry: M subspaces of SUB dims each (M·SUB = the corpus'
#: 64-dim vectors), K centroids per subspace → codes are M small ints,
#: a 64-float vector compresses to 8 bytes (32×). K and M are the
#: memory/recall dials; production PQ trains per-subspace k-means —
#: here the codebook is the hash-chosen sample quantizer (the
#: ``ann_ivf_probe`` trick) so the WHOLE pipeline stays
#: SQL-expressible and cross-engine exact; swap in
#: ``operators.kmeans`` per subspace for trained codebooks (the
#: ``ann_ivf_kmeans`` upgrade path).
PQ_M = 8
PQ_SUB = 8
PQ_K = 16


def _pq_oracle_ctes() -> str:
    """Shared CTEs: hash-chosen codebook + per-vector PQ codes."""
    return f"""
    cents AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_K}
    ),
    sub AS (
      SELECT e.vec_id, m.m, c.cid AS k,
             list_reduce(list_transform(range(1, {PQ_SUB + 1}), i ->
               (CAST(e.embedding[(m.m-1)*{PQ_SUB} + i] AS DOUBLE)
                  - c.emb[(m.m-1)*{PQ_SUB} + i])
               * (CAST(e.embedding[(m.m-1)*{PQ_SUB} + i] AS DOUBLE)
                  - c.emb[(m.m-1)*{PQ_SUB} + i])),
               (x, y) -> x + y) AS d2
      FROM embeddings e, range(1, {PQ_M + 1}) m(m), cents c
    ),
    best AS (
      SELECT vec_id, m, k, d2,
             row_number() OVER (PARTITION BY vec_id, m
                                ORDER BY d2, k) AS rn
      FROM sub
    ),
    coded AS (
      SELECT vec_id, list(k ORDER BY m) AS codes,
             list_reduce(list(d2 ORDER BY m), (x, y) -> x + y) AS recon_d2
      FROM best WHERE rn = 1 GROUP BY vec_id
    )"""


@query(
    "pq_encode",
    oracle=f"""
    WITH {_pq_oracle_ctes()}
    SELECT vec_id, array_to_string(codes, '-') AS codes, recon_d2
    FROM coded
    """,
)
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing surface of :func:`_pq_codes_df`: identical rows,
    but ``codes`` serialized ``'-'``-joined (``3-0-7-...``) so the
    acceptance harness — which canonicalizes columns via a pandas sort
    and cannot sort ``array`` cells — can hash it. Internal consumers
    (``pq_adc_topk``, ``ivf_pq_topk``) stay on the array form."""
    return _pq_codes_df(spark, sf_dir).select(
        "vec_id",
        F.concat_ws(
            "-", F.transform("codes", lambda c: c.cast("string"))
        ).alias("codes"),
        "recon_d2",
    )


def _pq_codes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding of the corpus: each vector → {PQ_M} centroid ids
    (nearest codebook entry per {PQ_SUB}-dim subspace) plus the exact
    reconstruction error — 32× compression with a quantization-quality
    column, the build step of a FAISS-style IVFPQ index.

    Cross-engine exactness: the per-subspace argmin is a strict fold
    over centroid ids ascending with a strict ``<`` (Spark) ⇔
    row_number ordered by (d2, k) (DuckDB) — identical tie-breaks; all
    distances are the module's strict-left-fold arithmetic, and the
    reconstruction error sums subspace minima in subspace order (a
    plain SUM would be order-nondeterministic in BOTH engines). Plan:
    the {PQ_K}-row codebook broadcasts as ONE nested-array row; encode
    is a single narrow corpus pass (no shuffle, no explode — the
    {PQ_M}×{PQ_K} search runs inside one codegen'd expression per row).
    """
    e = t(spark, sf_dir, "embeddings")
    cb = _pq_codebook(e)
    INF = F.lit(float("inf"))

    def d2(a, b):
        return F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def sub_m(col, m):
        return F.slice(col, (m - F.lit(1)) * PQ_SUB + F.lit(1), PQ_SUB)

    best = F.transform(
        F.sequence(F.lit(1), F.lit(PQ_M)),
        lambda m: F.aggregate(
            F.sequence(F.lit(1), F.lit(PQ_K)),
            F.struct(INF.alias("d"), F.lit(0).alias("k")),
            lambda acc, k: F.when(
                d2(sub_m(F.col("embedding"), m),
                   F.element_at(F.element_at("cb", m), k)) < acc["d"],
                F.struct(
                    d2(sub_m(F.col("embedding"), m),
                       F.element_at(F.element_at("cb", m), k)).alias("d"),
                    k.alias("k"),
                ),
            ).otherwise(acc),
        ),
    )
    return (
        e.crossJoin(F.broadcast(cb))
        .select("vec_id", best.alias("best"))
        .select(
            "vec_id",
            F.transform("best", lambda s: s["k"]).alias("codes"),
            F.aggregate(
                F.transform("best", lambda s: s["d"]),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("recon_d2"),
        )
    )


def _pq_codebook(e: DataFrame) -> DataFrame:
    """One-row DataFrame: ``cb[m][k]`` = the {PQ_SUB}-dim slice of the
    k-th hash-chosen codebook vector — the broadcastable nested-array
    form both PQ queries attach with a crossJoin."""
    cents = (
        e.select(
            "vec_id",
            "embedding",
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(PQ_K)
        .withColumn("cid", F.row_number().over(W.orderBy("h", "vec_id")))
        .select(
            "cid",
            F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
        )
    )
    return cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "emb"))).alias("carr")
    ).select(
        F.transform(
            F.sequence(F.lit(1), F.lit(PQ_M)),
            lambda m: F.transform(
                F.col("carr"),
                lambda s: F.slice(
                    s["emb"], (m - F.lit(1)) * PQ_SUB + F.lit(1), PQ_SUB
                ),
            ),
        ).alias("cb")
    )


@query(
    "pq_adc_topk",
    oracle=f"""
    WITH {_pq_oracle_ctes()},
    cbrow AS (
      SELECT list_transform(range(1, {PQ_M + 1}), m ->
               list_transform(cl, e ->
                 e[(m-1)*{PQ_SUB} + 1 : (m-1)*{PQ_SUB} + {PQ_SUB}])) AS cb
      FROM (SELECT list(emb ORDER BY cid) AS cl FROM cents)
    ),
    qv AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id < {N_QUERIES}),
    adc AS (
      SELECT q.vec_id AS query_id, cd.vec_id AS neighbor_id,
             list_reduce(list_transform(range(1, {PQ_M + 1}), m ->
               list_reduce(list_transform(range(1, {PQ_SUB + 1}), i ->
                 (CAST(q.embedding[(m-1)*{PQ_SUB} + i] AS DOUBLE)
                    - cb.cb[m][cd.codes[m]][i])
                 * (CAST(q.embedding[(m-1)*{PQ_SUB} + i] AS DOUBLE)
                    - cb.cb[m][cd.codes[m]][i])),
                 (x, y) -> x + y)),
               (a, b) -> a + b) AS adc_d2
      FROM qv q, coded cd, cbrow cb
      WHERE cd.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2, neighbor_id)
                AS BIGINT) AS rank,
           adc_d2
    FROM adc
    QUALIFY rank <= {TOP_K}
    """,
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-{TOP_K}: queries stay exact,
    corpus vectors are their PQ codes — distance ≈ sum over subspaces
    of ‖query-subvector − codebook[code]‖², the compressed-domain scan
    that makes billion-vector search fit in memory (8 bytes/vector
    here vs 256).

    Plan: the scan side carries CODES ONLY (the {PQ_K}-row codebook
    and the {N_QUERIES} queries broadcast as one nested-array row), so
    the scan's working set is the compressed corpus — the entire point
    of PQ at 100 TB. The distance is a strict fold over subspaces of
    strict-fold subspace distances (identical in both engines;
    relying on a SUM across joined rows would be order-random in
    both). Ranking ties break on neighbor_id.
    """
    e = t(spark, sf_dir, "embeddings")
    cb = _pq_codebook(e)
    codes = _pq_codes_df(spark, sf_dir).select("vec_id", "codes")
    qv = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("q_emb"),
    )

    def sub_m(col, m):
        return F.slice(col, (m - F.lit(1)) * PQ_SUB + F.lit(1), PQ_SUB)

    adc = F.aggregate(
        F.sequence(F.lit(1), F.lit(PQ_M)),
        F.lit(0.0),
        lambda acc, m: acc
        + F.aggregate(
            F.zip_with(
                sub_m(F.col("q_emb"), m),
                F.element_at(
                    F.element_at("cb", m), F.element_at("codes", m)
                ),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )
    scored = (
        codes.crossJoin(F.broadcast(qv.crossJoin(cb)))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adc.alias("adc_d2"),
        )
    )
    w = W.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "adc_d2")
    )


# ---------------------------------------------------------------------------
# MMR (maximal marginal relevance) diversified top-k.
# ---------------------------------------------------------------------------
MMR_POOL = 20  #: relevance-ranked candidate pool fed to the greedy stage
MMR_K = 5     #: diversified picks


def _mmr_oracle() -> str:
    dot = (
        "list_sum(list_transform(range(1, len({a}) + 1),"
        " i -> {a}[i] * {b}[i]))"
    )
    return f"""
    WITH RECURSIVE s AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) / 127.0
               AS scale
      FROM embeddings
    ),
    q AS (
      SELECT vec_id,
             CASE WHEN scale = 0
                  THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(embedding,
                         x -> greatest(CAST(-127 AS BIGINT),
                                least(CAST(127 AS BIGINT),
                                  CAST(floor(CAST(x AS DOUBLE) / scale + 0.5)
                                       AS BIGINT))))
             END AS qv
      FROM s
    ),
    qq AS (SELECT qv AS qqv FROM q WHERE vec_id = (SELECT MIN(vec_id) FROM q)),
    rels AS (
      SELECT q.vec_id, q.qv,
             CAST({dot.format(a="q.qv", b="qq.qqv")} AS BIGINT) AS relevance
      FROM q CROSS JOIN qq
      WHERE q.vec_id != (SELECT MIN(vec_id) FROM q)
    ),
    pool AS (
      SELECT vec_id, qv, relevance FROM rels
      ORDER BY relevance DESC, vec_id LIMIT {MMR_POOL}
    ),
    sims AS (
      SELECT a.vec_id AS ai, b.vec_id AS bi,
             CAST({dot.format(a="a.qv", b="b.qv")} AS BIGINT) AS sim
      FROM pool a JOIN pool b ON a.vec_id != b.vec_id
    ),
    sel AS (
      SELECT 1 AS step,
             [(SELECT vec_id FROM pool ORDER BY relevance DESC, vec_id
               LIMIT 1)] AS picked
      UNION ALL
      SELECT step + 1,
             list_append(picked, (
               SELECT p.vec_id FROM pool p
               WHERE NOT list_contains(sel.picked, p.vec_id)
               ORDER BY p.relevance - (
                   SELECT MAX(si.sim) FROM sims si
                   WHERE si.ai = p.vec_id
                     AND list_contains(sel.picked, si.bi)
                 ) DESC, p.vec_id
               LIMIT 1))
      FROM sel WHERE step < {MMR_K}
    ),
    final AS (SELECT picked FROM sel WHERE step = {MMR_K}),
    ranked AS (
      SELECT unnest(range(1, {MMR_K} + 1)) AS rank, picked FROM final
    )
    SELECT CAST(r.rank AS INT) AS rank,
           r.picked[r.rank] AS vec_id,
           p.relevance,
           COALESCE((SELECT MAX(si.sim) FROM sims si
                     WHERE si.ai = r.picked[r.rank]
                       AND list_contains(r.picked[1:r.rank - 1], si.bi)),
                    0) AS max_sim_prior,
           p.relevance - COALESCE((SELECT MAX(si.sim) FROM sims si
                     WHERE si.ai = r.picked[r.rank]
                       AND list_contains(r.picked[1:r.rank - 1], si.bi)),
                    0) AS mmr_score
    FROM ranked r JOIN pool p ON p.vec_id = r.picked[r.rank]
    """


@query("mmr_diverse_topk", oracle=_mmr_oracle())
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance selection: from the {MMR_POOL}
    most-relevant vectors (integer-dot relevance to the corpus' first
    vector), greedily pick {MMR_K} that balance relevance against
    redundancy — score = relevance − max-similarity-to-already-picked
    (λ=0.5, scaled ×2 so the arithmetic stays integral). The
    de-redundancy step every retrieval-augmented pipeline runs between
    ANN recall and the context window: plain top-k returns near-dup
    passages, MMR spends the k slots on COVERAGE.

    Exactness: similarities are integer dot products of the SAME int8
    quantization ``embedding_int8_quant`` pins (scale = max|v|/127,
    floor(x+0.5) quantizer) — every comparison in both engines is
    exact bigint arithmetic, so the greedy argmax (ties by vec_id)
    is fully deterministic and the oracle's recursive-CTE greedy
    lands on the identical selection.

    Scale shape: relevance ranking is a linear scan + top-{MMR_POOL}
    (TakeOrdered, no global sort); the inherently-sequential greedy
    runs EXECUTOR-side over the bounded pool via one
    single-group ``applyInPandas`` (a {MMR_POOL}×{MMR_POOL} integer
    matrix — never a driver collect, never corpus-quadratic; the pool
    bound is the knob that keeps the greedy O(k·pool) at any corpus
    size).
    """
    import pandas as pd

    e = t(spark, sf_dir, "embeddings")
    dbl = lambda x: x.cast("double")  # noqa: E731
    scale = (
        F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(dbl(x))))
        / 127.0
    )
    s = e.select("vec_id", "embedding", scale.alias("scale"))
    quant = F.when(
        F.col("scale") == 0,
        F.transform(F.col("embedding"), lambda x: F.lit(0).cast("bigint")),
    ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda x: F.greatest(
                F.lit(-127).cast("bigint"),
                F.least(
                    F.lit(127).cast("bigint"),
                    F.floor(dbl(x) / F.col("scale") + 0.5),
                ),
            ),
        )
    )
    q = s.select("vec_id", quant.alias("qv"))
    qid = q.agg(F.min("vec_id").alias("qid"))
    qq = (
        q.join(F.broadcast(qid), q.vec_id == F.col("qid"))
        .select(F.col("qv").alias("qqv"))
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    rels = (
        q.crossJoin(F.broadcast(qq))
        .crossJoin(F.broadcast(qid))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("vec_id", "qv", dot(F.col("qv"), F.col("qqv")).alias("relevance"))
    )
    pool = (
        rels.orderBy(F.col("relevance").desc(), "vec_id")
        .limit(MMR_POOL)
        .withColumn("g", F.lit(1))
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            ["relevance", "vec_id"], ascending=[False, True]
        ).reset_index(drop=True)
        m = np.array([np.array(v, dtype=np.int64) for v in pdf["qv"]])
        sims = m @ m.T  # exact int64 pairwise dots
        rel = pdf["relevance"].to_numpy(dtype=np.int64)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        picked: list[int] = []
        out = []
        for rank in range(1, MMR_K + 1):
            best = None
            for i in range(len(ids)):
                if i in picked:
                    continue
                ms = int(sims[i, picked].max()) if picked else 0
                score = int(rel[i]) - ms
                key = (-score, int(ids[i]))
                if best is None or key < best[0]:
                    best = (key, i, ms, score)
            _, i, ms, score = best
            picked.append(i)
            out.append((rank, int(ids[i]), int(rel[i]), ms, score))
        return pd.DataFrame(
            out,
            columns=["rank", "vec_id", "relevance", "max_sim_prior", "mmr_score"],
        )

    return pool.groupBy("g").applyInPandas(
        greedy,
        schema="rank int, vec_id bigint, relevance bigint, "
        "max_sim_prior bigint, mmr_score bigint",
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse routing + compressed-domain ADC scan (the full FAISS
# IVFPQ composition).
# ---------------------------------------------------------------------------
def _duck_d2(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), "
        f"(x, y) -> x + y)"
    )


def _ivf_pq_oracle() -> str:
    return f"""
    WITH {_pq_oracle_ctes()},
    cbrow AS (
      SELECT list_transform(range(1, {PQ_M + 1}), m ->
               list_transform(cl, e ->
                 e[(m-1)*{PQ_SUB} + 1 : (m-1)*{PQ_SUB} + {PQ_SUB}])) AS cb
      FROM (SELECT list(emb ORDER BY cid) AS cl FROM cents)
    ),
    ivf_cent AS (
      SELECT vec_id AS list_id, embedding AS c_emb
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {IVF_N_LISTS}
    ),
    assign AS (
      SELECT vec_id, list_id FROM (
        SELECT v.vec_id, c.list_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_duck_d2('v.embedding', 'c.c_emb')}, c.list_id
               ) AS rn
        FROM embeddings v CROSS JOIN ivf_cent c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
          WHERE vec_id < {N_QUERIES}),
    qprobe AS (
      SELECT query_id, q_emb, list_id FROM (
        SELECT q.query_id, q.q_emb, c.list_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_duck_d2('q.q_emb', 'c.c_emb')}, c.list_id
               ) AS rn
        FROM q CROSS JOIN ivf_cent c
      ) WHERE rn <= {IVF_N_PROBE}
    ),
    adc AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             list_reduce(list_transform(range(1, {PQ_M + 1}), m ->
               list_reduce(list_transform(range(1, {PQ_SUB + 1}), i ->
                 (CAST(p.q_emb[(m-1)*{PQ_SUB} + i] AS DOUBLE)
                    - cb.cb[m][cd.codes[m]][i])
                 * (CAST(p.q_emb[(m-1)*{PQ_SUB} + i] AS DOUBLE)
                    - cb.cb[m][cd.codes[m]][i])),
                 (x, y) -> x + y)),
               (a2, b2) -> a2 + b2) AS adc_d2
      FROM qprobe p
      JOIN assign a ON a.list_id = p.list_id
      JOIN coded cd ON cd.vec_id = a.vec_id
      CROSS JOIN cbrow cb
      WHERE a.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2, neighbor_id)
                AS BIGINT) AS rank,
           adc_d2
    FROM adc
    QUALIFY rank <= {TOP_K}
    """


@query("ivf_pq_topk", oracle=_ivf_pq_oracle())
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full FAISS-style IVFPQ composition: an {IVF_N_LISTS}-list
    coarse quantizer routes each query to its {IVF_N_PROBE} nearest
    lists (L2, consistent with the ADC metric), and only those lists'
    PQ CODES are scanned with asymmetric distance — the index layout
    that serves billion-vector corpora from memory (candidate set cut
    {IVF_N_PROBE}/{IVF_N_LISTS}× by routing, bytes-per-candidate cut
    32× by PQ).

    Composition contract: routing reuses the IVF probe mechanics
    (``ann_ivf_probe``) and scoring reuses the PQ codebook/ADC kernel
    (``pq_encode``/``pq_adc_topk``) — each stage is oracle-matched
    alone, and this query pins that they compose (same codes, same
    strict-fold distances, rank ties on neighbor_id). Production
    refinement not modeled here: FAISS encodes RESIDUALS (v − coarse
    centroid) for a tighter codebook; same plan shape, different
    encode input.

    Scale plan: both centroid tables are O(nlist) broadcasts; the
    corpus shuffles once on list_id (at rest: the stored index IS the
    corpus bucketed by list_id, codes-only); the ADC scan touches
    codes, never raw vectors.
    """
    e = t(spark, sf_dir, "embeddings")
    cb = _pq_codebook(e)
    codes = _pq_codes_df(spark, sf_dir).select("vec_id", "codes")

    def d2full(a, b):
        return F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    ivf_cent = (
        e.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(IVF_N_LISTS)
        .select(
            F.col("vec_id").alias("list_id"), F.col("embedding").alias("c_emb")
        )
    )
    wa = W.partitionBy("vec_id").orderBy("c_d2", "list_id")
    assign = (
        e.crossJoin(F.broadcast(ivf_cent))
        .select(
            "vec_id",
            "list_id",
            d2full(F.col("embedding"), F.col("c_emb")).alias("c_d2"),
        )
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "list_id")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("q_emb"),
    )
    wq = W.partitionBy("query_id").orderBy("c_d2", "list_id")
    qprobe = (
        q.crossJoin(F.broadcast(ivf_cent))
        .select(
            "query_id",
            "q_emb",
            "list_id",
            d2full(F.col("q_emb"), F.col("c_emb")).alias("c_d2"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= IVF_N_PROBE)
        .select("query_id", "q_emb", "list_id")
    )

    def sub_m(col, m):
        return F.slice(col, (m - F.lit(1)) * PQ_SUB + F.lit(1), PQ_SUB)

    adc = F.aggregate(
        F.sequence(F.lit(1), F.lit(PQ_M)),
        F.lit(0.0),
        lambda acc, m: acc
        + F.aggregate(
            F.zip_with(
                sub_m(F.col("q_emb"), m),
                F.element_at(
                    F.element_at("cb", m), F.element_at("codes", m)
                ),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )
    scored = (
        assign.join(codes, "vec_id")
        .join(F.broadcast(qprobe), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .crossJoin(F.broadcast(cb))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adc.alias("adc_d2"),
        )
    )
    wr = W.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "adc_d2")
    )


# ---------------------------------------------------------------------------
# Exact per-label centroid sums (int8 domain) + inter-label affinity.
# ---------------------------------------------------------------------------
@query(
    "label_centroid_affinity",
    oracle="""
    WITH s AS (
      SELECT vec_id, label, embedding,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) / 127.0
               AS scale
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, label,
             CASE WHEN scale = 0
                  THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(embedding,
                         x -> greatest(CAST(-127 AS BIGINT),
                                least(CAST(127 AS BIGINT),
                                  CAST(floor(CAST(x AS DOUBLE) / scale + 0.5)
                                       AS BIGINT))))
             END AS qv
      FROM s
    ),
    e AS (SELECT label, unnest(range(1, len(qv) + 1)) AS pos, qv FROM q),
    comps AS (
      SELECT label, pos, CAST(SUM(qv[pos]) AS BIGINT) AS sv
      FROM e GROUP BY label, pos
    ),
    cent AS (SELECT label, list(sv ORDER BY pos) AS c FROM comps GROUP BY label),
    cnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY label)
    SELECT a.label AS label_a, b.label AS label_b,
           ca.n AS n_a, cb.n AS n_b,
           CAST(list_reduce(list_transform(range(1, len(a.c) + 1),
                                           i -> a.c[i] * b.c[i]),
                            (x, y) -> x + y) AS BIGINT) AS dot_sums
    FROM cent a
    JOIN cent b ON a.label < b.label
    JOIN cnt ca ON ca.label = a.label
    JOIN cnt cb ON cb.label = b.label
    """,
)
def label_centroid_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-label affinity from EXACT integer centroid sums: quantize
    every vector to int8 (the ``embedding_int8_quant`` contract),
    elementwise-SUM per label, and take integer dot products between
    label sum-vectors — ∝ n_a·n_b·cos-affinity between class centroids.
    The class-overlap diagnostic run before hard-negative mining or
    cluster-balanced sampling: label pairs with outsized affinity are
    the confusable ones.

    Summing the QUANTIZED integers instead of the float embeddings is
    what makes the centroid cross-engine exact (float sums are
    order-dependent; bigint sums are not) AND mergeable — per-shard
    (label, component) partial sums roll up by addition, the same
    additive-sketch pattern as ``minhash_merge_rollup``/
    ``countmin_token_frequency``, so at 100 TB the centroid table
    maintains incrementally without re-reading history. Plan: one
    narrow quantize pass, one posexplode groupBy (the only corpus
    shuffle, keyed on (label, component)), then all pairwise work runs
    on a k-row table.
    """
    e = t(spark, sf_dir, "embeddings")
    dbl = lambda x: x.cast("double")  # noqa: E731
    scale = (
        F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(dbl(x))))
        / 127.0
    )
    s = e.select("vec_id", "label", "embedding", scale.alias("scale"))
    quant = F.when(
        F.col("scale") == 0,
        F.transform(F.col("embedding"), lambda x: F.lit(0).cast("bigint")),
    ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda x: F.greatest(
                F.lit(-127).cast("bigint"),
                F.least(
                    F.lit(127).cast("bigint"),
                    F.floor(dbl(x) / F.col("scale") + 0.5),
                ),
            ),
        )
    )
    q = s.select("vec_id", "label", quant.alias("qv"))
    comps = (
        q.select("label", F.posexplode("qv").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.sum("v").cast("bigint").alias("sv"))
    )
    cent = comps.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "sv"))),
            lambda st: st["sv"],
        ).alias("c")
    )
    cnt = q.groupBy("label").agg(F.count("*").cast("bigint").alias("n"))
    ca = cent.join(cnt, "label").select(
        F.col("label").alias("label_a"),
        F.col("c").alias("c_a"),
        F.col("n").alias("n_a"),
    )
    cb = cent.join(cnt, "label").select(
        F.col("label").alias("label_b"),
        F.col("c").alias("c_b"),
        F.col("n").alias("n_b"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("c_a"), F.col("c_b"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        ca.join(cb, F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", "n_a", "n_b", dot.alias("dot_sums"))
    )


# ---------------------------------------------------------------------------
# 1-bit (sign) quantization + Hamming top-k with exact-cosine rerank.
# ---------------------------------------------------------------------------
def _duck_pack(col: str, lo: int) -> str:
    """Pack dims [lo, lo+31] (1-based, inclusive) of a list into one
    BIGINT of sign bits — the DuckDB twin of ``_pack32``."""
    return (
        f"CAST(list_sum(list_transform(({col})[{lo}:{lo + 31}], "
        f"(x, i) -> CASE WHEN x > 0 THEN CAST(2**(i-1) AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    )


def _pack32(col: Column, lo: int) -> Column:
    """Sign-bit-pack 32 dims starting at 1-based position ``lo`` into a
    bigint: bit (i-1) set iff dim value > 0. Powers come from an exact
    double pow (2^i is float-exact for i ≤ 52), summed as bigints —
    disjoint bits, so addition == bitwise OR, and the 32-dim half stays
    far from signed overflow."""
    powers = F.transform(
        F.sequence(F.lit(0), F.lit(31)),
        lambda i: F.pow(F.lit(2.0), i).cast("bigint"),
    )
    sel = F.zip_with(
        F.slice(col, lo, 32),
        powers,
        lambda x, p: F.when(x > F.lit(0.0), p).otherwise(
            F.lit(0).cast("bigint")
        ),
    )
    return F.aggregate(
        sel, F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )


@query(
    "binary_hamming_topk",
    oracle=f"""
    WITH packed AS (
      SELECT vec_id, embedding,
             {_duck_pack('embedding', 1)} AS b_lo,
             {_duck_pack('embedding', 33)} AS b_hi
      FROM embeddings
    ),
    q AS (SELECT * FROM packed WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             CAST(bit_count(xor(q.b_lo, e.b_lo))
                  + bit_count(xor(q.b_hi, e.b_hi)) AS BIGINT) AS hamming,
             {_duck_dot('q.embedding', 'e.embedding')}
               / (sqrt({_duck_dot('q.embedding', 'q.embedding')})
                  * sqrt({_duck_dot('e.embedding', 'e.embedding')}))
               AS cosine
      FROM q CROSS JOIN packed e
      WHERE e.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, hamming, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY hamming, neighbor_id)
                  AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, hamming, rank, cosine
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit (sign) embedding quantization with Hamming-distance
    top-{TOP_K} and exact-cosine rerank column — the 32× compression
    rung below int8 (``embedding_int8_quant``) and PQ (``pq_encode``):
    64 float dims become TWO bigints, distance becomes two XOR+popcount
    ops, and the exact cosine of each retrieved pair is emitted so the
    caller sees precisely what the 1-bit approximation cost.

    Exactness: packing is exact integer arithmetic (2^i powers are
    float-exact, disjoint bits make the sum an OR); Hamming is
    XOR+bit_count on identical bigints in both engines; ranking orders
    on (hamming, neighbor_id) — a total integer order, no float in the
    ranking path. The cosine column reuses the strict-left-fold dot
    twins every ANN query here uses.

    Scale posture: the candidate side carries 16 BYTES per vector
    (vs 256 for the floats) — the representation that keeps a
    billion-vector first pass in memory; the query side broadcasts;
    one narrow scan, per-query top-k. At production recall targets the
    Hamming pass over-fetches (k' ≈ 4k) and the float rerank runs only
    on the shortlist — exactly the shape shown here.
    """
    e = t(spark, sf_dir, "embeddings")
    packed = e.select(
        "vec_id",
        "embedding",
        _pack32(F.col("embedding"), 1).alias("b_lo"),
        _pack32(F.col("embedding"), 33).alias("b_hi"),
    )
    q = packed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("b_lo").alias("q_lo"),
        F.col("b_hi").alias("q_hi"),
    )
    scored = (
        packed.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.col("q_lo").bitwiseXOR(F.col("b_lo")))
                + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("b_hi")))
            ).cast("bigint").alias("hamming"),
            (
                _dot(F.col("q_emb"), F.col("embedding"))
                / (_norm(F.col("q_emb")) * _norm(F.col("embedding")))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "hamming", "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# Per-label centroid drift (exact fixed-point; the mixture monitor).
# ---------------------------------------------------------------------------
@query(
    "embedding_label_drift",
    oracle="""
    WITH dims AS (
      SELECT unnest(generate_series(1,
               (SELECT MAX(len(embedding)) FROM embeddings))) AS dim
    ),
    q AS (
      SELECT e.label, d.dim,
             CAST(floor(CAST(e.embedding[d.dim] AS DOUBLE) * 1000 + 0.5)
                  AS BIGINT) AS qv
      FROM embeddings e, dims d
    ),
    per_ld AS (
      SELECT label, dim, SUM(qv) AS s_ld FROM q GROUP BY label, dim
    ),
    per_d AS (
      SELECT dim, SUM(s_ld) AS s_gd FROM per_ld GROUP BY dim
    ),
    counts AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_l,
             CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n_g
      FROM embeddings GROUP BY label
    ),
    nums AS (
      SELECT l.label, c.n_l, c.n_g,
             CAST(l.s_ld AS BIGINT) * c.n_g
               - CAST(d.s_gd AS BIGINT) * c.n_l AS num
      FROM per_ld l
      JOIN per_d d ON l.dim = d.dim
      JOIN counts c ON l.label = c.label
    )
    SELECT label,
           CAST(n_l AS BIGINT) AS n_vectors,
           CAST(SUM(CAST(num AS HUGEINT) * num) AS DOUBLE)
             / CAST((n_l * n_g) AS DOUBLE)
             / CAST((n_l * n_g) AS DOUBLE) AS drift_l2sq_milli
    FROM nums GROUP BY label, n_l, n_g
    """,
)
def embedding_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squared L2 distance between each label's embedding centroid and
    the GLOBAL centroid, in fixed-point milliunits² — the mixture
    monitor a training-data pipeline runs per snapshot: a label (or
    source, or time slice) whose centroid drifts is changing meaning
    or quality, and catches distribution shift long before downstream
    loss does.

    Exactness is the whole design: naive float centroid means sum in
    engine- and partition-dependent order (rule 3), so components are
    fixed-point encoded (``floor(x·1000 + 0.5)`` — the quantizer
    rounding of rule 1), per-(label, dim) sums stay in exact integers,
    and the drift's numerator Σ_d (S_ld·n_g − S_gd·n_l)² accumulates in
    128-bit integers (DECIMAL(38,0) / HUGEINT — bigint would wrap at
    ~1e20, rule 28). ONE double division at the surface; both engines
    divide the identical exact integers.

    Plan: posexplode to (label, dim) — 64·N narrow rows — one partial-
    aggregating groupBy, a dim-level rollup (64 rows), broadcast-sized
    joins back. At 100 TB: the per-(label, dim) sufficient statistics
    are mergeable, so the same query rolls up over daily partial sums.
    """
    e = t(spark, sf_dir, "embeddings")
    q = quantized_label_dims(e)
    per_ld = q.groupBy("label", "dim").agg(F.sum("qv").alias("s_ld"))
    counts = e.groupBy("label").agg(F.count("*").cast("bigint").alias("n_l"))
    return drift_from_stats(per_ld, counts)


def quantized_label_dims(e: DataFrame) -> DataFrame:
    """(label, dim, qv) milliunit fixed-point rows — shared by the
    batch query and the streaming maintenance so both quantize
    identically."""
    return e.select(
        "label",
        F.posexplode("embedding").alias("dim0", "x"),
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * 1000 + 0.5)
        .cast("bigint")
        .alias("qv"),
    )


#: ingest-shard width for the sliced drift monitor (vec_id ranges
#: stand in for ingest batches; the corpus has no timestamp column).
DRIFT_SHARD = 100


@query(
    "embedding_shard_drift",
    oracle=f"""
    WITH dims AS (
      SELECT unnest(generate_series(1,
               (SELECT MAX(len(embedding)) FROM embeddings))) AS dim
    ),
    q AS (
      SELECT e.label, CAST(e.vec_id // {DRIFT_SHARD} AS BIGINT) AS shard,
             d.dim,
             CAST(floor(CAST(e.embedding[d.dim] AS DOUBLE) * 1000 + 0.5)
                  AS BIGINT) AS qv
      FROM embeddings e, dims d
    ),
    per_lsd AS (
      SELECT label, shard, dim, SUM(qv) AS s_lsd
      FROM q GROUP BY label, shard, dim
    ),
    per_ld AS (
      SELECT label, dim, SUM(s_lsd) AS s_ld FROM per_lsd GROUP BY label, dim
    ),
    counts_ls AS (
      SELECT label, CAST(vec_id // {DRIFT_SHARD} AS BIGINT) AS shard,
             CAST(COUNT(*) AS BIGINT) AS n_ls
      FROM embeddings GROUP BY 1, 2
    ),
    counts_l AS (
      SELECT label, CAST(SUM(n_ls) AS BIGINT) AS n_l
      FROM counts_ls GROUP BY label
    ),
    nums AS (
      SELECT p.label, p.shard, cl.n_l, cs.n_ls,
             CAST(p.s_lsd AS BIGINT) * cl.n_l
               - CAST(d.s_ld AS BIGINT) * cs.n_ls AS num
      FROM per_lsd p
      JOIN per_ld d ON p.label = d.label AND p.dim = d.dim
      JOIN counts_ls cs ON p.label = cs.label AND p.shard = cs.shard
      JOIN counts_l cl ON p.label = cl.label
    )
    SELECT label, shard,
           CAST(n_ls AS BIGINT) AS n_vectors,
           CAST(SUM(CAST(num AS HUGEINT) * num) AS DOUBLE)
             / CAST((n_ls * n_l) AS DOUBLE)
             / CAST((n_ls * n_l) AS DOUBLE) AS drift_l2sq_milli
    FROM nums GROUP BY label, shard, n_ls, n_l
    """,
)
def embedding_shard_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``embedding_label_drift`` sliced by INGEST SHARD (vec_id ranges
    of {DRIFT_SHARD} stand in for arrival batches): squared L2 distance
    between each (label, shard) centroid and that label's OVERALL
    centroid, exact fixed-point milliunits² — the drift TREND monitor.
    The label-level query says "this label moved"; this one says WHEN:
    a label whose late shards drift while early ones sit near zero is
    changing under your feet mid-ingest (crawl rot, upstream model
    swap), which is the actionable alarm.

    Same exactness construction as the label-level monitor (quantized
    components, exact integer sufficient statistics, 128-bit squared
    numerators, ONE double division at the surface) with one extra
    grouping key. Plan: one posexplode pass to (label, shard, dim)
    partial sums; the label-level rollups derive from THOSE (labels×64
    rows — broadcast-sized), so the corpus is read once. At 100 TB the
    shard key is the ingest partition and the statistics merge across
    days.
    """
    e = t(spark, sf_dir, "embeddings")
    q = e.select(
        "label",
        (F.col("vec_id") / DRIFT_SHARD).cast("bigint").alias("shard"),
        F.posexplode("embedding").alias("dim0", "x"),
    ).select(
        "label",
        "shard",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * 1000 + 0.5)
        .cast("bigint")
        .alias("qv"),
    )
    per_lsd = q.groupBy("label", "shard", "dim").agg(F.sum("qv").alias("s_lsd"))
    per_ld = per_lsd.groupBy("label", "dim").agg(F.sum("s_lsd").alias("s_ld"))
    counts_ls = e.groupBy(
        "label", (F.col("vec_id") / DRIFT_SHARD).cast("bigint").alias("shard")
    ).agg(F.count("*").cast("bigint").alias("n_ls"))
    counts_l = counts_ls.groupBy("label").agg(
        F.sum("n_ls").cast("bigint").alias("n_l")
    )
    nums = (
        per_lsd.join(F.broadcast(per_ld), ["label", "dim"])
        .join(F.broadcast(counts_ls), ["label", "shard"])
        .join(F.broadcast(counts_l), "label")
        .select(
            "label",
            "shard",
            "n_ls",
            "n_l",
            (F.col("s_lsd") * F.col("n_l") - F.col("s_ld") * F.col("n_ls")).alias(
                "num"
            ),
        )
    )
    num_dec = F.col("num").cast("decimal(38,0)")
    return (
        nums.groupBy("label", "shard", "n_ls", "n_l")
        .agg(
            (
                F.sum(num_dec * num_dec).cast("double")
                / (F.col("n_ls") * F.col("n_l")).cast("double")
                / (F.col("n_ls") * F.col("n_l")).cast("double")
            ).alias("drift_l2sq_milli")
        )
        .select(
            "label",
            "shard",
            F.col("n_ls").alias("n_vectors"),
            "drift_l2sq_milli",
        )
    )


def drift_from_stats(per_ld: DataFrame, counts: DataFrame) -> DataFrame:
    """Drift from the sufficient statistics: per-(label, dim) exact
    sums + per-label counts. The streaming state reader
    (``streaming/jobs.embedding_drift_from_state``) calls this same
    kernel, so streamed and batch drift are bit-identical on the same
    vectors."""
    per_d = per_ld.groupBy("dim").agg(F.sum("s_ld").alias("s_gd"))
    n_g = counts.agg(F.sum("n_l").cast("bigint").alias("n_g"))
    nums = (
        per_ld.join(F.broadcast(per_d), "dim")
        .join(F.broadcast(counts), "label")
        .crossJoin(F.broadcast(n_g))
        .select(
            "label",
            "n_l",
            "n_g",
            (F.col("s_ld") * F.col("n_g") - F.col("s_gd") * F.col("n_l")).alias(
                "num"
            ),
        )
    )
    num_dec = F.col("num").cast("decimal(38,0)")
    return nums.groupBy("label", "n_l", "n_g").agg(
        (
            F.sum(num_dec * num_dec).cast("double")
            / (F.col("n_l") * F.col("n_g")).cast("double")
            / (F.col("n_l") * F.col("n_g")).cast("double")
        ).alias("drift_l2sq_milli")
    ).select(
        "label",
        F.col("n_l").alias("n_vectors"),
        "drift_l2sq_milli",
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss ±1 random projection, with measured distortion.
# ---------------------------------------------------------------------------
#: projected dimensionality (from 64 input dims).
JL_K = 16
#: vectors sampled into the distortion report (pairs (2m, 2m+1)).
JL_SAMPLE = 100


def _jl_sign(i_expr: str, j_expr: str, pos_fn, str_t: str = "VARCHAR") -> str:
    """±1 from the parity of md5('jl|i|j')'s first hex digit —
    deterministic, engine-neutral projection matrix entries."""
    h = (
        f"md5('jl|' || CAST({i_expr} AS {str_t}) || '|' "
        f"|| CAST({j_expr} AS {str_t}))"
    )
    return f"(1 - 2 * (({pos_fn}('0123456789abcdef', substr({h}, 1, 1)) - 1) % 2))"


@query(
    "jl_projection_distortion",
    oracle=f"""
    WITH dims AS (
      SELECT unnest(generate_series(1,
               (SELECT MAX(len(embedding)) FROM embeddings))) AS i
    ),
    q AS (
      SELECT e.vec_id, d.i,
             CAST(floor(CAST(e.embedding[d.i] AS DOUBLE) * 1000 + 0.5)
                  AS BIGINT) AS qv
      FROM embeddings e, dims d
      WHERE e.vec_id < {JL_SAMPLE}
    ),
    ks AS (SELECT unnest(generate_series(1, {JL_K})) AS j),
    proj AS (
      SELECT q.vec_id, k.j,
             SUM(q.qv * {_jl_sign('q.i', 'k.j', 'strpos')}) AS p
      FROM q, ks k
      GROUP BY q.vec_id, k.j
    ),
    pd AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             SUM((a.p - b.p) * (a.p - b.p)) AS proj_d2
      FROM proj a JOIN proj b
        ON b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0 AND a.j = b.j
      GROUP BY a.vec_id, b.vec_id
    ),
    od AS (
      SELECT a.vec_id AS a_id,
             SUM((a.qv - b.qv) * (a.qv - b.qv)) AS orig_d2
      FROM q a JOIN q b
        ON b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0 AND a.i = b.i
      GROUP BY a.vec_id
    )
    SELECT pd.a_id, pd.b_id,
           CAST(od.orig_d2 AS BIGINT) AS orig_d2,
           CAST(pd.proj_d2 AS BIGINT) AS proj_d2,
           CAST(pd.proj_d2 AS DOUBLE)
             / ({JL_K} * CAST(od.orig_d2 AS DOUBLE)) AS distortion
    FROM pd JOIN od ON pd.a_id = od.a_id
    """,
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±1 Johnson-Lindenstrauss projection 64 → {JL_K} dims with the
    distortion it induces on sampled pairs — the dimensionality-
    reduction pass a 100 TB ANN pipeline runs before indexing (4×
    fewer bytes per vector; Achlioptas 2003 shows ±1 entries suffice).

    Everything is exact integer arithmetic: components fixed-point
    encode at milliunits, projection-matrix entries are ±1 from the
    parity of md5('jl|i|j') (deterministic — the 'seed' ships with the
    query, both engines regenerate the identical matrix), projected
    coordinates and both squared distances are exact bigints, and
    distortion ``proj_d2 / (k · orig_d2)`` is ONE double division
    (E[distortion] = 1 for JL). Pair construction is (2m, 2m+1) over
    the first {JL_SAMPLE} vec_ids.

    Plan: the projection is a narrow explode (d·k rows per sampled
    vector) + one groupBy — at full scale it runs in the scan
    projection as a per-row array fold with a broadcast sign matrix;
    the explode form here keeps both engines on identical arithmetic.
    """
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < JL_SAMPLE)
    q = e.select(
        "vec_id", F.posexplode("embedding").alias("i0", "x")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.floor(F.col("x").cast("double") * 1000 + 0.5)
        .cast("bigint")
        .alias("qv"),
    )
    ks = spark.range(1, JL_K + 1).select(F.col("id").cast("int").alias("j"))
    sign = F.expr(_jl_sign("i", "j", "instr", str_t="STRING"))
    proj = (
        q.crossJoin(F.broadcast(ks))
        .select("vec_id", "j", (F.col("qv") * sign).alias("term"))
        .groupBy("vec_id", "j")
        .agg(F.sum("term").alias("p"))
    )
    pa = proj.select(F.col("vec_id").alias("a_id"), "j", F.col("p").alias("pa"))
    pb = proj.select(F.col("vec_id").alias("b_id"), "j", F.col("p").alias("pb"))
    pd_ = (
        pa.filter(F.col("a_id") % 2 == 0)
        .join(pb, (F.col("b_id") == F.col("a_id") + 1) & (pa.j == pb.j))
        .groupBy("a_id", "b_id")
        .agg(
            F.sum((F.col("pa") - F.col("pb")) * (F.col("pa") - F.col("pb"))).alias(
                "proj_d2"
            )
        )
    )
    qa = q.select(F.col("vec_id").alias("a_id"), "i", F.col("qv").alias("qa"))
    qb = q.select(F.col("vec_id").alias("b_id"), "i", F.col("qv").alias("qb"))
    od = (
        qa.filter(F.col("a_id") % 2 == 0)
        .join(qb, (F.col("b_id") == F.col("a_id") + 1) & (qa.i == qb.i))
        .groupBy("a_id")
        .agg(
            F.sum((F.col("qa") - F.col("qb")) * (F.col("qa") - F.col("qb"))).alias(
                "orig_d2"
            )
        )
    )
    return pd_.join(od, "a_id").select(
        "a_id",
        "b_id",
        F.col("orig_d2").cast("bigint").alias("orig_d2"),
        F.col("proj_d2").cast("bigint").alias("proj_d2"),
        (
            F.col("proj_d2").cast("double")
            / (JL_K * F.col("orig_d2").cast("double"))
        ).alias("distortion"),
    )
