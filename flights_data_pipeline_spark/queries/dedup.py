"""Deduplication operators over the ``documents`` table.

Extension surface for large-scale training-data pipelines (SURVEY.md
§2.10/2.11, build plan M4): exact dedup, MinHash+LSH candidate
generation, n-gram Jaccard similarity, and SimHash fingerprinting.
The reference's only dedup is business-key DISTINCT for dim_passenger
(SURVEY.md §2.2 P5); everything here is the declared extension surface.

Cross-engine determinism strategy (the whole point of this module's
design): **no engine-native hash functions** — Spark's ``hash`` is
murmur3 with Spark's seeding, DuckDB's ``hash`` is its own — so every
hash here is md5 over UTF-8 strings, which both engines render as
identical lowercase hex. MinHash takes lexicographic minima of md5 hex
strings (uniformly distributed, order-isomorphic to the integer value);
SimHash extracts bits from md5 hex digits with pure integer arithmetic.

Scale posture: exact dedup and fingerprinting are one shuffle each
(groupBy md5); MinHash banding turns the quadratic all-pairs problem
into an equi-join on (band, signature) — the canonical 100 TB-safe
near-dup plan. The n-gram Jaccard query is the *verification* kernel
(quadratic within candidate blocks only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..io.catalog import load_table as t
from ..operators.candidate_join import (
    dispatch as cand_dispatch,
    filter_by_keys,
    join_candidates,
)
from ..session import session_memo
from .registry import query

#: number of MinHash permutations — the 8 disjoint 4-hex-char slices of
#: one md5 digest per shingle (so one md5 per shingle instance).
N_PERMS = 8

#: LSH banding: N_BANDS bands of r = N_PERMS // N_BANDS rows each. With
#: r=2 a candidate needs BOTH minima of some band to agree — candidate
#: probability is the classic 1-(1-j^r)^b S-curve, so near-random pairs
#: (j≈0.1 → ~0.04 per-band) rarely collide while true near-dups
#: (j≥0.8 → 0.64 per-band) almost always do. r=1 (any single matching
#: permutation) makes everything a candidate on a real corpus.
N_BANDS = 4

#: shingle width in tokens.
SHINGLE_K = 3


def _norm_text() -> F.Column:
    return F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")


def _shingles() -> F.Column:
    """Distinct K-token shingles of the normalized text (JVM-side).

    Built with ``zip_with`` over shifted copies of the token array, NOT
    ``element_at(arr, i)`` inside a ``transform`` lambda: higher-order
    lambdas get no common-subexpression elimination, so an indexed
    lambda re-evaluates the whole ``split(regexp_replace(...))`` on
    every element access — ~150 regex evaluations per row (measured
    ~100 ms/doc at sf0.1). ``zip_with`` evaluates each array argument
    exactly once.
    """
    toks = F.split(_norm_text(), " ")
    s12 = F.zip_with(
        toks,
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    sh = F.zip_with(
        s12,
        F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(0))),
        # zip_with pads the shorter array with NULL; concat(...) of a
        # NULL yields NULL, marking the incomplete trailing shingles.
        lambda xy, z: F.when(z.isNull(), F.lit(None)).otherwise(
            F.concat_ws(" ", xy, z)
        ),
    )
    return F.array_distinct(F.filter(sh, lambda x: x.isNotNull()))


#: DuckDB twin of ``_shingles`` (1-based list indexing, range() excl stop).
_DUCK_SHINGLES = """
    SELECT doc_id,
           list_distinct(list_transform(
             range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
           )) AS shingles
    FROM (SELECT doc_id,
                 string_split(regexp_replace(lower(trim(text)),
                                             '\\s+', ' ', 'g'), ' ') AS toks
          FROM documents)
"""


# ---------------------------------------------------------------------------
# Exact deduplication: hash-groupBy on normalized content.
# ---------------------------------------------------------------------------
@query(
    "exact_dedup",
    oracle="""
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
             AS content_fp,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one representative (min doc_id) per content hash.

    One shuffle on the md5 key; at 100 TB this is the cheapest possible
    dedup plan (partial aggregation collapses copies map-side).
    """
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.md5(_norm_text()).alias("content_fp"), "doc_id")
        .groupBy("content_fp")
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard: top-20 most similar pairs (verification kernel).
# ---------------------------------------------------------------------------
#: document-frequency cap on the shingles that GENERATE pairs: a
#: shingle shared by c documents contributes C(c,2) pairs, so one
#: boilerplate shingle in a million docs is 5·10¹¹ joined rows — the
#: unbounded-quadratic failure mode of any shingle self-join. Capping
#: DF bounds per-shingle work at C(cap,2) and total work at
#: O(#distinct shingles · cap²) — linear in the corpus for a fixed
#: cap. This corpus's max shingle DF is 25 (sf0.1), so 50 changes
#: NOTHING here; it is the documented safety rail for denser corpora
#: (the standard "stop-shingle" rule: ubiquitous boilerplate carries
#: no similarity evidence). The oracle applies the identical filter.
NGRAM_DF_CAP = 50


@query(
    "ngram_jaccard_topk",
    oracle=f"""
    WITH sh AS ({_DUCK_SHINGLES}),
    e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    kept AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM e
      ) WHERE df <= {NGRAM_DF_CAP}
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.a_id, p.b_id, p.n_common,
           p.n_common / (sa.n + sb.n - p.n_common) AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.a_id = sa.doc_id
    JOIN sizes sb ON p.b_id = sb.doc_id
    ORDER BY jaccard DESC, p.a_id, p.b_id
    LIMIT 20
    """,
)
def ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 doc pairs by 3-token-shingle Jaccard similarity.

    All-pairs via a self-equi-join on the shingle (no cartesian), with
    pair generation capped to shingles of document frequency ≤
    {NGRAM_DF_CAP} (see the constant's rationale — the dial that keeps
    the kernel linear on corpora where boilerplate shingles densify);
    the Jaccard value is a raw int/int IEEE division — bit-identical
    in both engines, so ordering and the LIMIT cutoff agree exactly.
    At 100 TB this exact kernel only ever runs on LSH candidate blocks
    (see ``minhash_lsh_candidates``), never corpus-wide.
    """
    d = t(spark, sf_dir, "documents")
    # materialize the regex shingle pass ONCE (three consumers; same
    # discipline as setsim_prefix_join / containment_dedup — measured
    # 5.5 → 2.9 s on the containment twin at sf0.1)
    n_cores = spark.sparkContext.defaultParallelism
    if len(d.inputFiles()) < max(2, n_cores // 2):
        d = d.repartition(n_cores, "doc_id")
    sh = d.select("doc_id", _shingles().alias("shingles")).localCheckpoint(
        eager=True
    )
    e = sh.select("doc_id", F.explode("shingles").alias("s"))
    sizes = sh.select("doc_id", F.size("shingles").alias("n"))
    # DF cap via groupBy+join (not a window): the aggregate collapses
    # map-side and the join on s reuses the same hash partitioning the
    # self-join needs — AQE sees one exchange on s feeding all three
    df_s = e.groupBy("s").agg(F.count("*").alias("df"))
    kept = e.join(df_s.filter(F.col("df") <= NGRAM_DF_CAP), "s").select(
        "doc_id", "s"
    )
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    return (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            "n_common",
            (F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))).alias(
                "jaccard"
            ),
        )
        .orderBy(F.col("jaccard").desc(), "a_id", "b_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup candidates (the 100 TB-scale dedup plan).
# ---------------------------------------------------------------------------
def _minhash_oracle() -> str:
    r = N_PERMS // N_BANDS
    sig_cols = ", ".join(
        f"MIN(substr(md5(s), {4 * i + 1}, 4)) AS sig{i}" for i in range(N_PERMS)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, "
        + " || ".join(f"sig{j * r + k}" for k in range(r))
        + " AS bkey FROM sigs"
        for j in range(N_BANDS)
    )
    return f"""
    WITH sh AS ({_DUCK_SHINGLES}),
    e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    sigs AS (SELECT doc_id, {sig_cols} FROM e GROUP BY doc_id),
    bands AS ({band_selects}),
    cand AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(COUNT(*) AS BIGINT) AS n_shared_bands
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.a_id, c.b_id, c.n_shared_bands,
           len(list_intersect(sa.shingles, sb.shingles))
             / (len(sa.shingles) + len(sb.shingles)
                - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
    FROM cand c
    JOIN sh sa ON c.a_id = sa.doc_id
    JOIN sh sb ON c.b_id = sb.doc_id
    """


def minhash_state(d: DataFrame) -> DataFrame:
    """Per-document MinHash state from any documents-shaped DataFrame
    (needs ``doc_id`` and ``text``): the {N_PERMS} signature minima AND
    the md5-shingle array, computed SHUFFLE-FREE as in-row array folds
    (no shingle-level explode+groupBy). Shared by the batch queries
    (via ``_minhash_per_doc``) and the streaming near-dup ingest
    (``streaming/jobs.neardup_ingest_stream``), so both paths index
    documents with bit-identical signatures."""

    def _slice(i: int):
        # factory, not a default-arg lambda: a default arg makes the
        # callable 2-ary and Spark parses it as an (element, index)
        # lambda (STATUS rule 6)
        return lambda h: F.substring(h, 4 * i + 1, 4)

    return (
        d
        # ≥1 shingle exists ⇔ the normalized text has ≥ 3 tokens (the
        # zip_with pads with NULL from position size(toks)-2 on, so a
        # non-null 3-shingle exists iff size(toks) ≥ 3 — pure array-
        # length logic, empty tokens included). Stated as the cheap
        # token-count predicate instead of ``size(_shingles()) > 0``
        # because Catalyst pushes this filter below the spread
        # repartition onto the single-split scan (ONE core): the old
        # predicate re-evaluated the whole zip_with shingle chain
        # (5 regex+split passes plus two zips and a distinct) per row
        # serially; this one is a single split+regex. Same rows.
        .filter(F.size(F.split(_norm_text(), " ")) >= 3)
        .select("doc_id", _shingles().alias("sh"))
        # materialize the md5 array ONCE per row (CollapseProject keeps
        # the alias because md5-in-a-lambda is not a cheap expression),
        # then take the 8 minima as in-row array folds — the signature
        # pass never shuffles shingle-level rows
        .withColumn("hset", F.transform("sh", F.md5))
        .select(
            "doc_id",
            "hset",
            *[
                F.array_min(F.transform("hset", _slice(i))).alias(f"sig{i}")
                for i in range(N_PERMS)
            ],
        )
    )


def table_has_few_splits(
    spark: SparkSession, sf_dir: str, table: str = "documents"
) -> bool:
    """Whether ``table``'s scan has fewer splits than half the cores,
    memoized per session: the ``inputFiles()`` listing is a driver
    round-trip, and the answer is a pure function of the immutable
    sf_dir."""

    def probe() -> bool:
        n_cores = spark.sparkContext.defaultParallelism
        return len(t(spark, sf_dir, table).inputFiles()) < max(
            2, n_cores // 2
        )

    return session_memo(spark, ("few_splits", sf_dir, table), probe)


def _spread_small_scan(
    spark: SparkSession,
    sf_dir: str,
    d: DataFrame,
    *,
    table: str = "documents",
    keys: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """A small table arrives as one parquet split → any hash-heavy
    per-row pass would run on one core. Spread by key only when the
    table's scan has fewer splits than cores; a real many-split table
    skips this shuffle entirely."""
    if table_has_few_splits(spark, sf_dir, table):
        return d.repartition(
            spark.sparkContext.defaultParallelism, *keys
        )
    return d


def _minhash_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``minhash_state`` over the corpus table as a PURE plan (no
    checkpoint anywhere in the tree), memoized per (session, sf_dir):
    the md5-dense plan costs ~0.4-0.6 s of py4j round-trips to build.
    Plans only — a checkpointed frame holds blocks and is never
    memoized. Use for size DISPATCH (``cand_dispatch`` needs an
    estimatable plan); query bodies consume the per-call checkpointed
    twin ``_minhash_per_doc_ckpt``."""

    def build() -> DataFrame:
        d = _spread_small_scan(spark, sf_dir, t(spark, sf_dir, "documents"))
        # doc-level rows (tiny vs the shingle-level explode this
        # replaced), hash-partitioned on doc_id for the downstream
        # band/verify joins
        n_cores = spark.sparkContext.defaultParallelism
        return minhash_state(d).repartition(n_cores, "doc_id")

    return session_memo(spark, ("minhash_per_doc", sf_dir), build)


def _minhash_per_doc_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc signature table materialized ONCE per query call
    (lazy ``localCheckpoint`` of the memoized pure plan — never
    memoized itself: a checkpoint holds blocks, and caching those
    across runs would be result caching).

    Why a checkpoint and not the trailing repartition: round 12
    intended the post-md5 ``repartition(n, doc_id)`` as the exchange
    every consumer reuses, but Catalyst COLLAPSES it into the pre-md5
    spread repartition (CollapseRepartition — the committed
    plans/r12/minhash_lsh_candidates_after.txt shows the only Exchange
    holding raw ``(doc_id, text)`` with the md5 Project ABOVE it), so
    the md5-dense signature pass re-executed once per plan reference —
    six times per ``minhash_lsh_candidates`` run. The checkpoint is a
    barrier the optimizer cannot cross: the signature pass runs once
    and every consumer (band sides, verify sides, incremental cuts)
    reads the materialized doc-level blocks. At scale this is exactly
    the signature state a production LSH pipeline persists; blocks are
    executor-local and linear in the corpus."""
    return _minhash_per_doc(spark, sf_dir).localCheckpoint(eager=False)


def minhash_bands(per_doc: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) rows from a per-doc signature table — the
    LSH index representation (what a production ingest PERSISTS as its
    maintained state; see ``streaming/jobs.neardup_ingest_stream``)."""
    r = N_PERMS // N_BANDS
    band_exprs = ", ".join(
        f"{j}, concat({', '.join(f'sig{j * r + k}' for k in range(r))})"
        for j in range(N_BANDS)
    )
    return per_doc.selectExpr(
        "doc_id", f"stack({N_BANDS}, {band_exprs}) AS (band, bkey)"
    )


def _lsh_candidates(per_doc: DataFrame) -> DataFrame:
    """Banded-LSH candidate pairs (a_id < b_id, shared-band count) from
    the per-doc signature table — the verification-free subtree, so
    closure/keep-list consumers never pay for the Jaccard-verify joins
    they immediately drop."""
    bands = minhash_bands(per_doc)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count("*").cast("bigint").alias("n_shared_bands"))
    )


@query("minhash_lsh_candidates", oracle=_minhash_oracle())
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash({N_PERMS} perms) banded {N_BANDS}×r={N_PERMS//N_BANDS}
    LSH → candidate pairs, verified with exact shingle Jaccard.

    The {N_PERMS} permutation values per shingle are the eight disjoint
    4-hex-char slices of ONE ``md5(shingle)`` — independent uniform
    hashes from a single digest (one md5 per shingle instance, not one
    per perm); lexicographic minima of fixed-width hex are
    order-isomorphic to integer minima, identical across engines. A
    band key concatenates r=2 of the minima, so a candidate must agree
    on two independent permutations — the S-curve precision a real
    corpus needs (r=1 fires on any single agreement).

    Plan shape (the part that survives 100 TB):

    1. the per-doc signature pass is SHUFFLE-FREE: all {N_PERMS}
       signature minima come from ``array_min(transform(hset, …))``
       over the in-row md5-shingle array — no explode, no groupBy of
       shingle-level rows (the prior explode+groupBy shape shuffled
       every shingle instance; this one never leaves the document
       row). One doc-level repartition AFTER the pass materializes it
       at an exchange that every downstream consumer (both band-join
       sides, both verify sides) reuses;
    2. candidates come from ONE equi-join on (band, key) — linear
       shuffle, per-bucket pairs, never an all-pairs cartesian;
    3. verification attaches the id/count candidate rows (no arrays)
       through the SIZE-GATED dispatch in
       ``operators/candidate_join``: confidently-small candidate
       frames broadcast, large/unknown ones take the semi-filter +
       shuffle plan — so a dup-dense corpus whose candidate set is
       GBs degrades to a shuffle instead of OOMing the driver. The
       hash-set-carrying side reaches the pair join via SHUFFLE_HASH
       either way, never through the driver. (Both prior spike modes
       were array payloads crossing the driver: round 1 auto-broadcast
       the corpus-wide shingle arrays (~15 MB collects), and the first
       fix still broadcast candidate rows carrying their collect_set
       arrays — intermittent GC spikes under session memory pressure.
       A full no-array variant — re-shingle candidate docs, equi-join
       on (b_id, hash) — was measured 2-3× slower here because the
       candidate pipeline loses exchange reuse.)
    """
    # dispatch on the PURE plan (a checkpointed plan is unestimatable
    # and would always route to the shuffle path); memoized per
    # session via cache_key, so the ~0.2 s driver-side plan walk is
    # paid once.
    pure = _minhash_per_doc(spark, sf_dir)
    mode = cand_dispatch(
        _lsh_candidates(pure),
        pure,
        cache_key=("minhash_lsh_candidates", sf_dir),
    )
    # the signature pass materializes ONCE per run (see
    # _minhash_per_doc_ckpt); bands and both verify sides read blocks
    per_doc = _minhash_per_doc_ckpt(spark, sf_dir)
    cand = _lsh_candidates(per_doc)
    sha = per_doc.select(F.col("doc_id").alias("a_id"), F.col("hset").alias("hs_a"))
    shb = per_doc.select(F.col("doc_id").alias("b_id"), F.col("hset").alias("hs_b"))
    # size-gated candidate attach (round-9 VERDICT): small candidate
    # frames broadcast (tiny, id/count columns only — an array-payload
    # broadcast would round-trip the hash sets through the driver);
    # large/unestimatable ones take the semi-filter + SHUFFLE_HASH
    # plan so a dup-dense 100 TB corpus degrades to a shuffle instead
    # of OOMing the driver.
    paired = join_candidates(sha, cand, "a_id", mode=mode)
    both = shb.join(paired.hint("shuffle_hash"), "b_id")
    n_common = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b"))).cast("bigint")
    return both.select(
        "a_id",
        "b_id",
        "n_shared_bands",
        (n_common / (F.size("hs_a") + F.size("hs_b") - n_common)).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Near-dup cluster closure: connected components over candidate pairs.
# ---------------------------------------------------------------------------
@query(
    "near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION
      SELECT b_id AS u, a_id AS v FROM pairs
    ),
    reach AS (
      SELECT u AS node, u AS lbl FROM edges
      UNION
      SELECT e.v AS node, r.lbl
      FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (
      SELECT node AS doc_id, MIN(lbl) AS component
      FROM reach GROUP BY node
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(component AS BIGINT) AS component,
           doc_id = component AS is_representative
    FROM comp
    """,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup closure: connected components over the banded-MinHash
    candidate pairs → one cluster id (the minimum member doc_id) per
    near-dup group, with the keep-one-per-group representative flag.

    This is the step that turns near-dup PAIRS into an actionable
    dedup decision. The Spark side runs iterative min-label
    propagation (``operators.graph.connected_components`` — linear
    shuffles per round, rounds bounded by cluster diameter); the
    oracle computes the same closure with a recursive CTE. Cluster
    ids are exact integers, so the gate pins the full clustering.
    """
    from ..operators.graph import connected_components

    # the verification-free candidate subtree: the closure only needs
    # pair KEYS, so it skips the Jaccard-verify joins (same pair set —
    # verification adds columns, never filters). Checkpointed per-doc
    # state: the signature pass runs once, both band sides read blocks.
    pairs = _lsh_candidates(_minhash_per_doc_ckpt(spark, sf_dir)).select(
        "a_id", "b_id"
    )
    comp = connected_components(pairs, "a_id", "b_id")
    return comp.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("component"),
        (F.col("node") == F.col("component")).alias("is_representative"),
    )


# ---------------------------------------------------------------------------
# Quality-based cluster representative selection (which copy to KEEP).
# ---------------------------------------------------------------------------
def _cluster_reps_oracle() -> str:
    from .registry import REGISTRY

    comp = REGISTRY["near_dup_clusters"].oracle_text()
    return f"""
    WITH comp AS ({comp}),
    q AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT c.component, c.doc_id, q.n_tokens,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY q.n_tokens DESC, c.doc_id) AS rk
      FROM comp c JOIN q ON c.doc_id = q.doc_id
    )
    SELECT component AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
             AS rep_doc_id,
           CAST(MIN(CASE WHEN rk = 1 THEN n_tokens END) AS BIGINT)
             AS rep_n_tokens,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM ranked
    GROUP BY component
    """


@query("cluster_representatives", oracle=_cluster_reps_oracle)
def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KEEP decision per near-dup cluster: for every connected
    component of the LSH candidate graph, the member that survives is
    the highest-QUALITY copy — longest token count, doc_id tiebreak —
    not the arbitrary min-id label ``near_dup_clusters`` flags. This
    is the policy step real dedup pipelines run between clustering
    and deletion (truncated/stripped copies of a page hash into the
    same cluster; keeping the longest retains the most content).

    Composes the oracle-matched closure verbatim and adds one
    component-partitioned window over cluster members plus a
    cluster-grain aggregate — clusters are small (bounded by dup
    group size), so the window partitions are many and tiny; scale
    posture is exactly ``near_dup_clusters``'s.
    """
    from .registry import REGISTRY

    comp = REGISTRY["near_dup_clusters"].fn(spark, sf_dir)
    q = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    ranked = comp.join(q, "doc_id").select(
        "component",
        "doc_id",
        "n_tokens",
        F.row_number()
        .over(
            W.partitionBy("component").orderBy(
                F.col("n_tokens").desc(), "doc_id"
            )
        )
        .alias("rk"),
    )
    return ranked.groupBy("component").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.min(F.when(F.col("rk") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("rep_doc_id"),
        F.min(F.when(F.col("rk") == 1, F.col("n_tokens")))
        .cast("bigint")
        .alias("rep_n_tokens"),
        (F.count("*") - 1).cast("bigint").alias("n_dropped"),
    ).withColumnRenamed("component", "cluster_id")


# ---------------------------------------------------------------------------
# LSH banding precision: the measured S-curve the banding dial is set by.
# ---------------------------------------------------------------------------
@query(
    "lsh_band_precision",
    oracle=f"""
    WITH pairs AS ({_minhash_oracle()})
    SELECT n_shared_bands,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_verified,
           SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE) AS precision_at_j50
    FROM pairs
    GROUP BY n_shared_bands
    """,
)
def lsh_band_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED LSH banding precision: candidate pairs grouped by how
    many bands they collided in, each bucket scored by the share that
    verifies at Jaccard ≥ 0.5 — the empirical S-curve read-out that
    tells you whether the (bands, rows-per-band) dial is tuned
    (1-band-only collisions mostly failing verification means the
    bands are too permissive; multi-band collisions not reaching ~1.0
    precision means r is too small). Production pipelines re-measure
    this per corpus because the theoretical S-curve assumes uniform
    shingle distributions real corpora do not have.

    Composes the oracle-matched candidate+verify subtree verbatim; the
    report is one |bands|-row aggregate on top, so the scale posture
    is exactly ``minhash_lsh_candidates``'s.
    """
    from .registry import REGISTRY

    pairs = REGISTRY["minhash_lsh_candidates"].fn(spark, sf_dir)
    return (
        pairs.groupBy("n_shared_bands")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("jaccard") >= 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_verified"),
        )
        .select(
            "n_shared_bands",
            "n_pairs",
            "n_verified",
            (
                F.col("n_verified").cast("double")
                / F.col("n_pairs").cast("double")
            ).alias("precision_at_j50"),
        )
    )


# ---------------------------------------------------------------------------
# Substring-grain duplication ratio (Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better", public): char-gram scan.
# ---------------------------------------------------------------------------
#: duplicated-substring window length (chars) and scan stride.
SUBDUP_L = 40
SUBDUP_STRIDE = 10


@query(
    "substring_dup_ratio",
    oracle=f"""
    WITH g AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               range(0, (length(text) - {SUBDUP_L}) // {SUBDUP_STRIDE} + 1),
               i -> substr(text, i * {SUBDUP_STRIDE} + 1, {SUBDUP_L})
             )) AS gram
      FROM documents
      WHERE text IS NOT NULL AND length(text) >= {SUBDUP_L}
    ),
    df AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs FROM g GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_grams,
           SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE) AS dup_share
    FROM g JOIN df ON g.gram = df.gram
    GROUP BY g.doc_id
    """,
)
def substring_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING-grain duplication: per document, the share of its
    {SUBDUP_L}-char windows (stride {SUBDUP_STRIDE}) that occur
    verbatim in at least one OTHER document — the Lee-et-al-style
    signal that document-grain dedup cannot see (boilerplate headers,
    quoted passages, licence blocks shared across otherwise-distinct
    documents). A corpus pipeline drops or trims documents whose
    dup_share crosses a threshold instead of losing the whole doc to
    a near-dup verdict.

    Distinct grams per document (intra-doc repetition is
    ``repetition_quality``'s job, not cross-doc duplication's); a
    gram's document frequency comes from one groupBy over the
    (doc, gram) pairs. Scale posture: gram rows are
    ``chars/stride`` per doc — linear in corpus bytes with a 1/10
    constant; the DF table is the same fingerprint-groupBy shape as
    exact dedup, map-side partials collapse repeated grams, and
    nothing is ever pairwise. RECALL BOUND (documented, not hidden):
    the strided scan samples windows at positions ≡ 1 (mod
    {SUBDUP_STRIDE}), so a cross-doc repeat is only *guaranteed*
    counted when the two copies' start offsets differ by a multiple
    of the stride AND the repeat spans ≥ {SUBDUP_L} + {SUBDUP_STRIDE}
    − 1 chars; copies at any other relative offset can be missed
    entirely no matter how long they are. That is acceptable for
    fixed-position boilerplate (headers, licence blocks) and wrong
    for quoted passages — ``substring_dup_unaligned`` below is the
    alignment-INVARIANT companion with a hard detection guarantee.
    """
    # spread the (one-split) scan: the strided substring explode runs
    # on every core, and the per-doc distinct + final doc-grain
    # aggregate reuse the doc_id partitioning (key-subset clustering)
    d = _spread_small_scan(spark, sf_dir, t(spark, sf_dir, "documents"))
    n = (F.length("text") - SUBDUP_L) / SUBDUP_STRIDE
    grams = (
        d.filter(
            F.col("text").isNotNull() & (F.length("text") >= SUBDUP_L)
        )
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.floor(n).cast("int")),
                    lambda i: F.substring(
                        F.col("text"), i * SUBDUP_STRIDE + 1, SUBDUP_L
                    ),
                )
            ).alias("gram"),
        )
        .distinct()
    )
    df_tab = grams.groupBy("gram").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    return (
        grams.join(df_tab, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            (
                F.col("n_dup_grams").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("dup_share"),
        )
    )


def _subdup_unaligned_oracle() -> str:
    from .text import WINNOW_ORACLE_CORE

    return f"""
    WITH f AS (
      SELECT DISTINCT doc_id, fp_hash
      FROM ({WINNOW_ORACLE_CORE})
    ),
    df AS (
      SELECT fp_hash, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM f GROUP BY fp_hash
    )
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_fps,
           CAST(SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_fps,
           SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE) AS dup_share
    FROM f JOIN df USING (fp_hash)
    GROUP BY f.doc_id
    """


@query("substring_dup_unaligned", oracle=_subdup_unaligned_oracle)
def substring_dup_unaligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALIGNMENT-INVARIANT substring duplication: per document, the
    share of its winnowing fingerprints (``text.winnow_fp_set`` —
    content-defined anchors, the MOSS selection rule) that occur in
    at least one OTHER document.

    This is the unaligned-repeat upgrade ``substring_dup_ratio``
    documents as its blind spot. Because winnowing selects anchor
    positions from local content rather than absolute offsets, two
    copies of a passage fingerprint identically wherever each copy
    sits — and the winnowing theorem gives a HARD recall bound the
    strided byte scan cannot: any verbatim cross-doc repeat of
    ≥ WINNOW_W + 2 ( = 6) consecutive normalized tokens is
    *guaranteed* to share a fingerprint and be counted, at any
    relative alignment. Expected anchor density is ~2/(WINNOW_W+1) of
    token positions, so the gram table is ~2.5× SMALLER than the
    stride-10 char scan on this corpus, not larger.

    Scale posture identical to ``substring_dup_ratio``: distinct
    anchors per doc (hash-grain dedup of intra-doc repeats), one
    groupBy for document frequency, one groupBy back to doc grain —
    linear in corpus tokens, map-side partials collapse hot
    fingerprints, never pairwise. The doc-frequency join key is the
    md5 hash — uniformly distributed, no skew salt needed.
    """
    from .text import winnow_fp_set

    f = (
        # spread the (one-split) scan: parallel gram explode+md5, and
        # both the winnow window and this distinct reuse the doc_id
        # partitioning (ClusteredDistribution on a key subset)
        winnow_fp_set(
            _spread_small_scan(spark, sf_dir, t(spark, sf_dir, "documents"))
        )
        .select("doc_id", "fp_hash")
        .distinct()
    )
    df_tab = f.groupBy("fp_hash").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    return (
        f.join(df_tab, "fp_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_fps"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_fps"),
        )
        .select(
            "doc_id",
            "n_fps",
            "n_dup_fps",
            (
                F.col("n_dup_fps").cast("double")
                / F.col("n_fps").cast("double")
            ).alias("dup_share"),
        )
    )


# ---------------------------------------------------------------------------
# Longest shared token run per candidate pair (diagonal islands).
# ---------------------------------------------------------------------------
def _candidate_runs(spark: SparkSession, sf_dir: str):
    """Shared diagonal-scan kernel for the span-grain dedup family
    (``longest_shared_run``, ``span_trim_plan``): returns
    ``(cand, runs)`` where ``cand`` is the checkpointed LSH
    candidate-pair frame and ``runs`` has one row per MAXIMAL shared
    3-gram run per pair — ``(a_id, b_id, run_len, start_pb)``,
    ``start_pb`` being the run's first gram position (1-based) in the
    b document.

    Scale posture (unchanged from longest_shared_run, which this was
    factored from): gram matching happens ONLY for candidate-pair
    documents — the gram table is semi-joined down to candidate
    doc_ids through the size-gated dispatch
    (``operators/candidate_join``), so the quadratic surface is
    bounded by the LSH candidate set; the diagonal windows partition
    by (pair, diag) — many small partitions, no corpus-grain window.
    """
    # dispatch BEFORE any checkpoint (a checkpointed plan is
    # unestimatable and would always route to the shuffle path)
    pure = _minhash_per_doc(spark, sf_dir)
    mode = cand_dispatch(
        _lsh_candidates(pure).select("a_id", "b_id"),
        pure,
        cache_key=("candidate_runs", sf_dir),
    )
    # data path: signature pass materializes once (per-doc blocks),
    # then the candidate pairs once more (feeds id filter + pair join)
    cand = (
        _lsh_candidates(_minhash_per_doc_ckpt(spark, sf_dir))
        .select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )
    from .text import positional_gram_hashes

    ids = (
        cand.select(F.col("a_id").alias("doc_id"))
        .union(cand.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    # filter documents to candidate ids BEFORE the gram explode+md5
    # (round-12: the filter previously sat ABOVE the positional-gram
    # pass, so every document in the corpus paid the explode and one
    # md5 per gram only to be dropped by the semi join — a semi join
    # cannot be pushed below a Generate). Identical rows survive
    # (per-doc gram hashes are independent of other docs); the hash
    # work is now proportional to the CANDIDATE set, and the filtered
    # scan is spread across cores before the md5-dense pass.
    docs_f = filter_by_keys(
        t(spark, sf_dir, "documents").select("doc_id", "text"),
        ids,
        "doc_id",
        mode=mode,
    )
    g = positional_gram_hashes(
        _spread_small_scan(spark, sf_dir, docs_f)
    ).localCheckpoint(eager=False)  # feeds BOTH pair-join sides once
    ga = g.select(
        F.col("doc_id").alias("a_id"), F.col("pos").alias("pa"), "h"
    )
    gb = g.select(
        F.col("doc_id").alias("b_id"), F.col("pos").alias("pb"), "h"
    )
    m = join_candidates(ga, cand, "a_id", mode=mode).join(
        gb, ["b_id", "h"]
    )
    return cand, gram_match_runs(m)


def gram_match_runs(m: DataFrame) -> DataFrame:
    """Diagonal-scan core shared by the batch kernel
    (:func:`_candidate_runs`) and the streaming ingest twin
    (``streaming/jobs.span_trim_ingest_stream``): matched gram
    positions ``(a_id, b_id, pa, pb)`` → one row per MAXIMAL shared
    run per pair ``(a_id, b_id, run_len, start_pb)`` via
    gaps-and-islands on each (pair, diagonal). Factored so the two
    surfaces cannot drift."""
    isl = m.select(
        "a_id",
        "b_id",
        "pa",
        "pb",
        (F.col("pa") - F.col("pb")).alias("diag"),
        (
            F.col("pa")
            - F.row_number().over(
                W.partitionBy("a_id", "b_id", F.col("pa") - F.col("pb"))
                .orderBy("pa")
            )
        ).alias("island"),
    )
    return isl.groupBy("a_id", "b_id", "diag", "island").agg(
        F.count("*").cast("bigint").alias("run_len"),
        F.min("pb").cast("bigint").alias("start_pb"),
    )


def _longest_shared_run_oracle() -> str:
    return f"""
    WITH pairs AS ({_minhash_oracle()}),
    n AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
      FROM documents
    ),
    tok AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM n),
    g AS (
      SELECT doc_id, pos,
             md5(toks[pos] || ' ' || toks[pos + 1] || ' ' || toks[pos + 2])
               AS h
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS pos
            FROM tok)
    ),
    m AS (
      SELECT p.a_id, p.b_id, ga.pos AS pa, gb.pos AS pb
      FROM pairs p
      JOIN g ga ON ga.doc_id = p.a_id
      JOIN g gb ON gb.doc_id = p.b_id AND gb.h = ga.h
    ),
    isl AS (
      SELECT a_id, b_id, pa,
             pa - row_number() OVER (PARTITION BY a_id, b_id, pa - pb
                                     ORDER BY pa) AS island,
             pa - pb AS diag
      FROM m
    ),
    runs AS (
      SELECT a_id, b_id, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM isl GROUP BY a_id, b_id, diag, island
    ),
    agg AS (
      SELECT a_id, b_id,
             CAST(MAX(run_len) + 2 AS BIGINT) AS longest_run_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_runs
      FROM runs GROUP BY a_id, b_id
    )
    SELECT p.a_id, p.b_id,
           CAST(coalesce(g.longest_run_tokens, 0) AS BIGINT)
             AS longest_run_tokens,
           CAST(coalesce(g.n_runs, 0) AS BIGINT) AS n_runs
    FROM (SELECT a_id, b_id FROM pairs) p
    LEFT JOIN agg g USING (a_id, b_id)
    """


@query("longest_shared_run", oracle=_longest_shared_run_oracle)
def longest_shared_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every banded-LSH candidate pair, the EXACT length (in
    normalized tokens) of the longest verbatim run the two documents
    share, plus the count of distinct shared runs — the number Lee et
    al. report per duplicate ('documents sharing a 50-token span')
    that a Jaccard score only hints at. A near-dup verdict drops a
    doc; a long-run verdict TRIMS the span — different action, needs
    this different evidence. "Every" is literal: a candidate pair
    sharing no 3-gram at all still gets a row, with
    ``longest_run_tokens = 0`` and ``n_runs = 0`` (left join back
    from the candidate set) — absence of a row is never a signal.

    Exact without suffix automata: join the two docs' positional
    3-gram hashes on hash, then longest run = largest gaps-and-islands
    group along each DIAGONAL (pa − pb constant; consecutive pa ⇒
    island key pa − row_number is constant). A shared run of R
    consecutive matching 3-grams spans R + 2 tokens.

    Scale: gram matching happens ONLY for candidate-pair documents —
    the gram table is semi-joined down to candidate doc_ids (id list
    broadcast when the size gate certifies it small, shuffled
    otherwise — ``operators/candidate_join``) before the hash
    equi-join, so the quadratic surface is bounded by the LSH
    candidate set exactly like the Jaccard verify kernel; the
    diagonal windows partition by (pair, diag) — many small
    partitions, no corpus-grain window anywhere.
    """
    cand, runs = _candidate_runs(spark, sf_dir)
    agg = runs.groupBy("a_id", "b_id").agg(
        (F.max("run_len") + F.lit(2)).cast("bigint").alias(
            "longest_run_tokens"
        ),
        F.count("*").cast("bigint").alias("n_runs"),
    )
    # EVERY candidate pair gets a row (round-9 ADVICE): pairs sharing
    # no positional 3-gram at all fall out of the inner gram join, so
    # left-join back from the candidate set and report 0/0 for them —
    # a consumer iterating the LSH candidate list reads "no shared
    # run ≥ 3 tokens", not a missing row.
    return cand.join(agg, ["a_id", "b_id"], "left").select(
        "a_id",
        "b_id",
        F.coalesce("longest_run_tokens", F.lit(0))
        .cast("bigint")
        .alias("longest_run_tokens"),
        F.coalesce("n_runs", F.lit(0)).cast("bigint").alias("n_runs"),
    )


# ---------------------------------------------------------------------------
# Cross-split contamination matrix: fingerprint-grain split overlap.
# ---------------------------------------------------------------------------
def _split_contamination_oracle() -> str:
    from .profiling import TRAIN_PCT, VAL_PCT, _bucket_sql, _hex_val_duck
    from .text import WINNOW_ORACLE_CORE

    return f"""
    WITH sp AS (
      SELECT doc_id,
             CASE WHEN {_bucket_sql(_hex_val_duck)} < {TRAIN_PCT} THEN 'train'
                  WHEN {_bucket_sql(_hex_val_duck)} < {VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
    ),
    fs AS (
      SELECT DISTINCT sp.split, f.fp_hash
      FROM ({WINNOW_ORACLE_CORE}) f
      JOIN sp USING (doc_id)
    ),
    tot AS (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_fps FROM fs GROUP BY split
    ),
    pairs AS (
      SELECT a.split AS split_a, b.split AS split_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared_fps
      FROM fs a JOIN fs b ON a.fp_hash = b.fp_hash AND a.split < b.split
      GROUP BY 1, 2
    )
    SELECT p.split_a, p.split_b, p.n_shared_fps,
           p.n_shared_fps
             / CAST(ta.n_fps + tb.n_fps - p.n_shared_fps AS DOUBLE)
             AS fp_jaccard
    FROM pairs p
    JOIN tot ta ON ta.split = p.split_a
    JOIN tot tb ON tb.split = p.split_b
    """


@query("split_contamination_matrix", oracle=_split_contamination_oracle)
def split_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FINGERPRINT-grain cross-split contamination: for every pair of
    train/val/test splits (the same hashed-doc_id buckets as
    ``train_test_split``), the count of winnowing fingerprints present
    in BOTH splits and the Jaccard of the two fingerprint sets.

    The complement of ``split_leakage_report``: that audit finds
    DOCUMENT pairs whose whole-doc MinHash similarity straddles the
    cut; this one counts shared verbatim MATERIAL (≥ WINNOW_W+2-token
    runs, alignment-invariant) even when no document pair is globally
    similar — quoted passages, shared boilerplate, duplicated
    snippets leaking benchmark text into train. Train↔test is the row
    an eval owner reads first.

    Same plan as ``contamination_matrix`` with the source catalog
    replaced by the 3-value split label: (split, fp) grain first, the
    fp self-join bounded by 3 labels per fingerprint, totals attached
    by broadcast. The split is a pure function of doc_id — no side
    table, no state.
    """
    from .profiling import TRAIN_PCT, VAL_PCT, _bucket_sql, _hex_val_spark
    from .text import winnow_fp_set

    d = t(spark, sf_dir, "documents")
    bucket = F.expr(_bucket_sql(_hex_val_spark))
    sp = d.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
    ).select(
        "doc_id",
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    fs = (
        # spread the (one-split) scan so the gram explode+md5 runs on
        # every core; the winnow window then REUSES the doc_id
        # partitioning — same exchange count, parallel hash work
        winnow_fp_set(_spread_small_scan(spark, sf_dir, d))
        .join(sp, "doc_id")
        .select("split", "fp_hash")
        .distinct()
        .localCheckpoint(eager=False)  # feeds both join sides + totals
    )
    tot = fs.groupBy("split").agg(F.count("*").cast("bigint").alias("n_fps"))
    a, b = fs.alias("a"), fs.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp_hash") == F.col("b.fp_hash"))
            & (F.col("a.split") < F.col("b.split")),
        )
        .groupBy(
            F.col("a.split").alias("split_a"),
            F.col("b.split").alias("split_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_shared_fps"))
    )
    ta = F.broadcast(
        tot.select(F.col("split").alias("split_a"), F.col("n_fps").alias("na"))
    )
    tb = F.broadcast(
        tot.select(F.col("split").alias("split_b"), F.col("n_fps").alias("nb"))
    )
    return (
        pairs.join(ta, "split_a")
        .join(tb, "split_b")
        .select(
            "split_a",
            "split_b",
            "n_shared_fps",
            (
                F.col("n_shared_fps").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared_fps")).cast(
                    "double"
                )
            ).alias("fp_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Split-leakage audit: near-dup pairs straddling the train/val/test cut.
# ---------------------------------------------------------------------------
def _split_leakage_oracle() -> str:
    from .profiling import TRAIN_PCT, VAL_PCT, _bucket_sql, _hex_val_duck

    return f"""
    WITH pairs AS ({_minhash_oracle()}),
    sp AS (
      SELECT doc_id,
             CASE WHEN {_bucket_sql(_hex_val_duck)} < {TRAIN_PCT} THEN 'train'
                  WHEN {_bucket_sql(_hex_val_duck)} < {VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
    )
    SELECT least(sa.split, sb.split) AS split_a,
           greatest(sa.split, sb.split) AS split_b,
           least(sa.split, sb.split) <> greatest(sa.split, sb.split)
             AS is_leak,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN p.jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pairs_j50
    FROM pairs p
    JOIN sp sa ON p.a_id = sa.doc_id
    JOIN sp sb ON p.b_id = sb.doc_id
    GROUP BY 1, 2, 3
    """


@query("split_leakage_report", oracle=_split_leakage_oracle)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: every banded-MinHash near-dup
    candidate pair classified by which splits its two documents landed
    in — the check an eval pipeline must run before trusting held-out
    numbers, because a test document whose near-duplicate sits in
    train is memorization measured as generalization. Reports pair
    counts per unordered split pair with an ``is_leak`` verdict and
    the count again at Jaccard ≥ 0.5 (candidates the verify stage
    would confirm).

    Composes two oracle-matched subtrees verbatim — the LSH candidate
    generator (``minhash_lsh_candidates``) and the hashed-key split
    (``train_test_split``) — so the audit inherits their scale
    posture: banded equi-join candidates (never all-pairs) and a
    narrow split map; the classification itself is one broadcast-sized
    join per side (the split table is doc-grain but only (doc_id,
    split) wide; at 100 TB it rides the same join keys as the
    candidate pairs).
    """
    from .registry import REGISTRY

    pairs = REGISTRY["minhash_lsh_candidates"].fn(spark, sf_dir).select(
        "a_id", "b_id", "jaccard"
    )
    sp = REGISTRY["train_test_split"].fn(spark, sf_dir).select(
        "doc_id", "split"
    )
    sa = sp.select(F.col("doc_id").alias("a_id"), F.col("split").alias("sa"))
    sb = sp.select(F.col("doc_id").alias("b_id"), F.col("split").alias("sb"))
    return (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            (F.least("sa", "sb") != F.greatest("sa", "sb")).alias("is_leak"),
            "jaccard",
        )
        .groupBy("split_a", "split_b", "is_leak")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("jaccard") >= 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_pairs_j50"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash fingerprint (32-bit) — linear-cost near-dup sketch.
# ---------------------------------------------------------------------------
def _hex_val_spark(p: int) -> str:
    """Spark SQL: integer value of hex digit p (0-based) of md5(token)."""
    return f"(instr('0123456789abcdef', substr(md5(token), {p + 1}, 1)) - 1)"


def _hex_val_duck(p: int) -> str:
    return f"(strpos('0123456789abcdef', substr(md5(token), {p + 1}, 1)) - 1)"


def _simhash_oracle() -> str:
    bit_cols = ", ".join(
        f"((({_hex_val_duck(b // 4)}) >> {b % 4}) & 1) AS bit{b}" for b in range(32)
    )
    sums = ", ".join(f"SUM(2 * bit{b} - 1) AS s{b}" for b in range(32))
    fp = " + ".join(f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(32))
    return f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(regexp_replace(lower(trim(text)),
                                                '\\s+', ' ', 'g'), ' '))
               AS token
      FROM documents
    ),
    bits AS (SELECT doc_id, {bit_cols} FROM tok),
    sums AS (SELECT doc_id, {sums} FROM bits GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums
    """


@query("simhash_fingerprint", oracle=_simhash_oracle())
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (term-frequency weighted).

    Bits come from md5 hex digits via pure integer arithmetic (strpos/
    shift/mask) — no engine-native hash — so fingerprints are identical
    across engines. Linear cost: explode tokens, one groupBy(doc_id)
    with 32 integer sums (partial aggregation collapses map-side).
    Near-dup search at scale: split the 32 bits into 4 bytes and
    equi-join on any shared byte (Hamming ≤ 3 guaranteed recall).
    """
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(_norm_text(), " ")).alias("token"),
    )
    bit_exprs = [
        f"((shiftright({_hex_val_spark(b // 4)}, {b % 4})) & 1) AS bit{b}"
        for b in range(32)
    ]
    bits = tok.selectExpr("doc_id", *bit_exprs)
    sums = bits.groupBy("doc_id").agg(
        *[F.sum(F.expr(f"2 * bit{b} - 1")).alias(f"s{b}") for b in range(32)]
    )
    fp = " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN {1 << b}L ELSE 0L END)" for b in range(32)
    )
    return sums.selectExpr("doc_id", f"CAST({fp} AS BIGINT) AS simhash")


# ---------------------------------------------------------------------------
# Fuzzy string matching: blocked Levenshtein over distinct names.
# ---------------------------------------------------------------------------
@query(
    "fuzzy_name_match",
    oracle="""
    WITH names AS (
      SELECT DISTINCT p_name,
             split_part(p_name, ' ', 2) AS block_key
      FROM part
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM names a JOIN names b
      ON a.block_key = b.block_key AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical part-name pairs (edit distance ≤ 3), blocked on
    the name's noun — the entity-resolution / fuzzy-dedup kernel.

    The scale discipline is DISTINCT-THEN-BLOCK: the quadratic
    Levenshtein kernel runs over *distinct names within a block*,
    never over rows — at 100 TB the distinct-name table is orders of
    magnitude smaller than the part table (string dedup collapses
    first, exactly like ``exact_dedup``), and the blocking key caps
    each candidate set. ``a.p_name < b.p_name`` halves the kernel and
    makes the pair set canonical. Both engines implement classic
    unit-cost Levenshtein, so the integer distances agree exactly.
    """
    p = t(spark, sf_dir, "part")
    names = p.select(
        "p_name", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias(
            "block_key"
        )
    ).distinct()
    a = names.select(
        F.col("p_name").alias("name_a"), F.col("block_key")
    )
    b = names.select(
        F.col("p_name").alias("name_b"), F.col("block_key")
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(b, "block_key")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", dist.cast("int"))
        .filter(F.col("edit_dist") <= 3)
        .select("name_a", "name_b", "edit_dist")
    )


# ---------------------------------------------------------------------------
# SimHash banded near-dup search (Hamming-ball retrieval).
# ---------------------------------------------------------------------------
#: Hamming threshold for "near-duplicate" fingerprints. With the 32-bit
#: fingerprint split into 4 disjoint 8-bit bands, any pair within
#: Hamming distance 3 differs in at most 3 bands, so it MUST agree on
#: at least one band — banding has GUARANTEED recall at this radius
#: (pigeonhole), unlike MinHash banding's probabilistic recall.
SIMHASH_HAMMING_MAX = 3


def _simhash_band_pairs_oracle() -> str:
    base = _simhash_oracle().rstrip()
    return f"""
    WITH fps AS ({base}),
    bands AS (
      SELECT doc_id, simhash, b.band_no,
             (simhash >> (8 * b.band_no)) & 255 AS band_val
      FROM fps, (VALUES (0), (1), (2), (3)) b(band_no)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
             x.simhash AS a_fp, y.simhash AS b_fp
      FROM bands x JOIN bands y
        ON x.band_no = y.band_no AND x.band_val = y.band_val
       AND x.doc_id < y.doc_id
    )
    SELECT a_id, b_id,
           CAST(bit_count(xor(a_fp, b_fp)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(a_fp, b_fp)) <= {SIMHASH_HAMMING_MAX}
    """


@query("simhash_band_pairs", oracle=_simhash_band_pairs_oracle())
def simhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate PAIRS from the SimHash fingerprints: split each
    32-bit fingerprint into 4 disjoint 8-bit bands, equi-join on any
    shared band, verify candidates by exact Hamming distance
    (``bit_count(a XOR b)``) ≤ 3.

    This executes the retrieval step ``simhash_fingerprint``'s
    docstring promises. Unlike MinHash-LSH (probabilistic recall),
    disjoint-band blocking is EXACT for the stated radius: a pair
    within Hamming 3 differs in ≤ 3 of the 4 bands, so at least one
    band matches (pigeonhole) — zero false negatives. Plan shape is
    the canonical 100 TB dedup join: linear fingerprinting, equi-join
    on (band_no, band_val) — never all-pairs — then an O(1) popcount
    verify per candidate. Skew caution at scale: a band value shared
    by M docs yields M² candidates; the production dial drops
    saturated buckets (as ``minhash_lsh_candidates`` documents).
    """
    fp = simhash_fingerprint(spark, sf_dir)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"(shiftright(simhash, {8 * i}) & 255)")
                    for i in range(4)
                ]
            )
        ).alias("band_no", "band_val"),
    )
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_no") == F.col("y.band_no"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a_id"),
            F.col("y.doc_id").alias("b_id"),
            F.col("x.simhash").alias("a_fp"),
            F.col("y.simhash").alias("b_fp"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("a_fp").bitwiseXOR(F.col("b_fp"))).cast("int"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .select("a_id", "b_id", "hamming")
    )


# ---------------------------------------------------------------------------
# Incremental ingest dedup: new batch vs the historical corpus.
# ---------------------------------------------------------------------------
#: doc_id threshold splitting "historical corpus" from "incoming batch"
#: in the incremental-dedup demo (the first 80% of ids are history).
INCR_SPLIT_FRAC = 0.8


@query(
    "incremental_exact_dedup",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
               AS content_fp
      FROM documents
    ),
    cut AS (
      SELECT CAST(floor(MAX(doc_id) * {INCR_SPLIT_FRAC}) AS BIGINT) AS c
      FROM fp
    ),
    hist AS (SELECT DISTINCT content_fp FROM fp, cut WHERE doc_id < c),
    incoming AS (SELECT doc_id, content_fp FROM fp, cut WHERE doc_id >= c)
    SELECT i.doc_id, i.content_fp,
           h.content_fp IS NOT NULL AS dup_of_history,
           (h.content_fp IS NULL AND i.doc_id <> mn.first_id) AS dup_in_batch
    FROM incoming i
    LEFT JOIN hist h ON i.content_fp = h.content_fp
    JOIN (SELECT content_fp, MIN(doc_id) AS first_id
          FROM incoming GROUP BY content_fp) mn
      ON i.content_fp = mn.content_fp
    """,
)
def incremental_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: classify every INCOMING document (the top
    20% of doc_ids, standing in for today's crawl batch) as a
    duplicate of the HISTORICAL corpus, a duplicate within its own
    batch, or novel — without ever re-scanning history's text.

    This is the shape a 100 TB ingest actually runs daily: history is
    represented only by its distinct content fingerprints (a compact,
    incrementally-maintained side table — the additive-rollup pattern
    of ``operators/merge.merge_additive_parquet``), the incoming batch
    joins against it (fingerprint side is orders of magnitude smaller
    than the corpus; AQE broadcasts it while it fits), and in-batch
    dups resolve with one min-id aggregate over the BATCH only. Corpus
    text is touched exactly once, at fingerprinting time.
    """
    d = t(spark, sf_dir, "documents")
    fp = d.select("doc_id", F.md5(_norm_text()).alias("content_fp"))
    cut = fp.agg(
        F.floor(F.max("doc_id") * INCR_SPLIT_FRAC).cast("bigint").alias("c")
    )
    fp = fp.crossJoin(F.broadcast(cut))
    hist = fp.filter(F.col("doc_id") < F.col("c")).select("content_fp").distinct()
    incoming = fp.filter(F.col("doc_id") >= F.col("c")).select(
        "doc_id", "content_fp"
    )
    first = incoming.groupBy("content_fp").agg(
        F.min("doc_id").alias("first_id")
    )
    h = hist.withColumn("in_hist", F.lit(True))
    return (
        incoming.join(h, "content_fp", "left")
        .join(first, "content_fp")
        .select(
            "doc_id",
            "content_fp",
            F.coalesce(F.col("in_hist"), F.lit(False)).alias("dup_of_history"),
            (
                F.col("in_hist").isNull()
                & (F.col("doc_id") != F.col("first_id"))
            ).alias("dup_in_batch"),
        )
    )


# ---------------------------------------------------------------------------
# The end-to-end dedup keep-list (exact + near-dup composed).
# ---------------------------------------------------------------------------
def _dedup_keep_list_oracle() -> str:
    from .registry import REGISTRY

    near = REGISTRY["near_dup_clusters"].oracle.rstrip()
    return f"""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
               AS content_fp
      FROM documents
    ),
    exact_rep AS (
      SELECT content_fp, MIN(doc_id) AS keeper FROM fp GROUP BY content_fp
    ),
    near AS ({near})
    SELECT f.doc_id,
           f.doc_id = e.keeper AS exact_keeper,
           COALESCE(n.is_representative, TRUE) AS near_keeper,
           (f.doc_id = e.keeper
            AND COALESCE(n.is_representative, TRUE)) AS kept
    FROM fp f
    JOIN exact_rep e ON f.content_fp = e.content_fp
    LEFT JOIN near n ON n.doc_id = f.doc_id
    """


@query("dedup_keep_list", oracle=_dedup_keep_list_oracle())
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final verdict a dedup pipeline emits per document: keep it
    iff it survives BOTH exact dedup (min-id per content hash) and
    near-dup clustering (representative of its MinHash-closure
    cluster, trivially true for unclustered docs).

    The composition is the point (like ``decontaminated_train_split``
    for the curation chain): the exact and near-dup stages are each
    oracle-matched alone, and this query pins that their VERDICTS
    compose with the right polarity and null semantics (a doc in no
    near-dup cluster must default to keep, not drop). Plan: the exact
    side is one md5 groupBy; the near side reuses the full
    banded-LSH→closure pipeline; the final joins are key-partitioned
    on doc_id.
    """
    d = t(spark, sf_dir, "documents")
    fp = d.select("doc_id", F.md5(_norm_text()).alias("content_fp"))
    exact_rep = fp.groupBy("content_fp").agg(F.min("doc_id").alias("keeper"))
    near = near_dup_clusters(spark, sf_dir).select(
        F.col("doc_id").alias("n_doc"), "is_representative"
    )
    return (
        fp.join(exact_rep, "content_fp")
        .join(near, F.col("doc_id") == F.col("n_doc"), "left")
        .select(
            "doc_id",
            (F.col("doc_id") == F.col("keeper")).alias("exact_keeper"),
            F.coalesce(F.col("is_representative"), F.lit(True)).alias(
                "near_keeper"
            ),
            (
                (F.col("doc_id") == F.col("keeper"))
                & F.coalesce(F.col("is_representative"), F.lit(True))
            ).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable MinHash rollup: corpus-slice signatures from doc partials.
# ---------------------------------------------------------------------------
def _merge_rollup_oracle() -> str:
    doc_sigs = ", ".join(
        f"MIN(substr(md5(s), {4 * i + 1}, 4)) AS sig{i}" for i in range(N_PERMS)
    )
    merged = ", ".join(f"MIN(sig{i}) AS sig{i}" for i in range(N_PERMS))
    return f"""
    WITH sh AS ({_DUCK_SHINGLES}),
    e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    doc_sig AS (
      SELECT doc_id, {doc_sigs} FROM e GROUP BY doc_id
    ),
    labeled AS (
      SELECT d.lang, ds.* FROM doc_sig ds JOIN documents d USING (doc_id)
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, {merged}
    FROM labeled GROUP BY lang
    """


@query("minhash_merge_rollup", oracle=_merge_rollup_oracle())
def minhash_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language MERGED MinHash signature: the min of the member
    documents' per-permutation minima — because a MinHash signature is
    a mergeable sketch (min is associative/commutative), the signature
    of a union is the elementwise min of the parts' signatures.

    That mergeability is the 100 TB point: corpus-slice signatures
    (per language, per crawl, per day) roll up from per-doc partials
    with ONE map-side-combinable aggregate — no re-shingling, no
    second corpus pass — the same additive-rollup pattern
    ``operators/merge.merge_additive_parquet`` applies to counts, here
    applied to a sketch. Downstream, slice signatures estimate
    cross-slice Jaccard (shared components / {N_PERMS}) before anyone
    pays for an exact comparison. The per-doc signature construction
    is bit-identical to ``minhash_lsh_candidates`` (disjoint md5
    slices, lexicographic minima of fixed-width hex).
    """
    d = t(spark, sf_dir, "documents")
    e_h = d.select("doc_id", F.explode(_shingles()).alias("s")).select(
        "doc_id", F.md5("s").alias("h")
    )
    doc_sig = e_h.groupBy("doc_id").agg(
        *[
            F.min(F.substring("h", 4 * i + 1, 4)).alias(f"sig{i}")
            for i in range(N_PERMS)
        ]
    )
    return (
        doc_sig.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            *[F.min(f"sig{i}").alias(f"sig{i}") for i in range(N_PERMS)],
        )
    )


# ---------------------------------------------------------------------------
# Cross-source near-dup leakage matrix.
# ---------------------------------------------------------------------------
@query(
    "cross_source_neardup_matrix",
    oracle=f"""
    WITH pairs AS ({_minhash_oracle()})
    SELECT least(da.source, db.source) AS src_lo,
           greatest(da.source, db.source) AS src_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) FILTER (WHERE da.source = db.source) AS BIGINT)
             AS n_within
    FROM pairs p
    JOIN documents da ON da.doc_id = p.a_id
    JOIN documents db ON db.doc_id = p.b_id
    GROUP BY 1, 2
    """,
)
def cross_source_neardup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source×source matrix of near-dup candidate pairs: for every
    unordered source pair, how many MinHash-LSH candidates connect
    them (and how many stay within one source). The provenance
    diagnostic a crawl pipeline reads BEFORE deduplicating — mirror
    sites, syndication, and cross-crawl re-fetches show up as hot
    off-diagonal cells, which then justify source-level dedup rules
    far cheaper than pairwise verification.

    Plan: candidate pairs come from the shared verification-free LSH
    subtree (``_lsh_candidates``); the two provenance lookups are
    doc-id equi-joins against a two-column projection of the corpus
    (at 100 TB: broadcast-sized after the candidate filter, since the
    pair table is orders of magnitude smaller than the corpus). The
    matrix itself is a tiny groupBy over source pairs.
    """
    d = t(spark, sf_dir, "documents")
    pairs = _lsh_candidates(_minhash_per_doc_ckpt(spark, sf_dir)).select(
        "a_id", "b_id"
    )
    src = d.select("doc_id", "source")
    pa = src.select(F.col("doc_id").alias("a_id"), F.col("source").alias("src_a"))
    pb = src.select(F.col("doc_id").alias("b_id"), F.col("source").alias("src_b"))
    return (
        pairs.join(pa, "a_id")
        .join(pb, "b_id")
        .groupBy(
            F.least("src_a", "src_b").alias("src_lo"),
            F.greatest("src_a", "src_b").alias("src_hi"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.count(F.when(F.col("src_a") == F.col("src_b"), 1))
            .cast("bigint")
            .alias("n_within"),
        )
    )


# ---------------------------------------------------------------------------
# Entity resolution: fuzzy match → cluster closure → golden record.
# ---------------------------------------------------------------------------
_ER_PAIRS_SQL = """
    WITH names AS (
      SELECT DISTINCT p_name,
             split_part(p_name, ' ', 2) AS block_key
      FROM part
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b
    FROM names a JOIN names b
      ON a.block_key = b.block_key AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


@query(
    "entity_golden_record",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_ER_PAIRS_SQL}),
    edges AS (
      SELECT name_a AS u, name_b AS v FROM pairs
      UNION
      SELECT name_b AS u, name_a AS v FROM pairs
    ),
    reach AS (
      SELECT u AS node, u AS lbl FROM edges
      UNION
      SELECT e.v AS node, r.lbl
      FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (
      SELECT node AS p_name, MIN(lbl) AS golden_name
      FROM reach GROUP BY node
    ),
    surv AS (
      SELECT c.golden_name,
             CAST(COUNT(DISTINCT c.p_name) AS BIGINT) AS n_variants,
             CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(CAST(SUM(CAST(p.p_retailprice AS DECIMAL(18,2)))
                       AS DECIMAL(18,2)) AS DOUBLE) AS total_retail
      FROM comp c JOIN part p ON p.p_name = c.p_name
      GROUP BY c.golden_name
    )
    SELECT c.p_name, c.golden_name,
           c.p_name = c.golden_name AS is_golden,
           s.n_variants, s.n_parts, s.total_retail
    FROM comp c JOIN surv s ON s.golden_name = c.golden_name
    """,
)
def entity_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full entity-resolution pass — the MDM pipeline every warehouse
    eventually needs: blocked fuzzy matching (edit distance ≤ 3 within
    the name's noun block, `fuzzy_name_match`'s kernel) → cluster
    closure (connected components — here over STRING node ids, which
    exercises the operator's changed-row convergence probe instead of
    the integer sum-potential) → one golden record per cluster (the
    lexicographically-smallest name) with survivorship aggregates
    rolled up across ALL the cluster's variants (variant count, part
    rows, total retail value).

    The composition contract mirrors ``dedup_keep_list``: matching and
    closure are each verified alone; this query pins that verdicts,
    cluster labels, and the survivorship join compose. Plan: the
    quadratic kernel stays distinct-then-blocked; the closure is
    O(diameter) linear shuffles on the (tiny) matched-name graph; the
    survivorship join re-touches the part table once, keyed on name.
    """
    from ..operators.graph import connected_components

    p = t(spark, sf_dir, "part")
    pairs = fuzzy_name_match(spark, sf_dir).select("name_a", "name_b")
    comp = connected_components(pairs, "name_a", "name_b").select(
        F.col("node").alias("p_name"), F.col("component").alias("golden_name")
    )
    surv = (
        comp.join(p, "p_name")
        .groupBy("golden_name")
        .agg(
            F.countDistinct("p_name").cast("bigint").alias("n_variants"),
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum(F.col("p_retailprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_retail"),
        )
    )
    return (
        comp.join(surv, "golden_name")
        .select(
            "p_name",
            "golden_name",
            (F.col("p_name") == F.col("golden_name")).alias("is_golden"),
            "n_variants",
            "n_parts",
            "total_retail",
        )
    )


# ---------------------------------------------------------------------------
# Prefix-filtered exact set-similarity self-join (PPJoin-style).
# ---------------------------------------------------------------------------
#: Jaccard threshold as an exact rational 3/5 — every gate below is
#: restated in INTEGER arithmetic (ceil(3n/5) = (3n+4) DIV 5,
#: J >= 3/5  <=>  8*i >= 3*(na+nb)), so both engines agree bit-for-bit
#: and no double ever decides membership.
SETSIM_TAU_NUM = 3
SETSIM_TAU_DEN = 5


@query(
    "setsim_prefix_join",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, shingles AS toks FROM ({_DUCK_SHINGLES})
    ),
    sz AS (SELECT doc_id, len(toks) AS n FROM d),
    e AS (SELECT doc_id, unnest(toks) AS tok FROM d),
    df AS (SELECT tok, COUNT(*) AS df FROM e GROUP BY tok),
    ranked AS (
      SELECT e.doc_id, e.tok,
             ROW_NUMBER() OVER (PARTITION BY e.doc_id
                                ORDER BY df.df, e.tok) AS r
      FROM e JOIN df USING (tok)
    ),
    pref AS (
      SELECT ranked.doc_id, tok
      FROM ranked JOIN sz USING (doc_id)
      WHERE r <= n - ((3 * n + 4) // 5) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM pref a JOIN pref b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
    ),
    ver AS (
      SELECT c.a_id, c.b_id,
             len(list_intersect(da.toks, db.toks)) AS i,
             sa.n AS na, sb.n AS nb
      FROM cand c
      JOIN d da ON c.a_id = da.doc_id
      JOIN d db ON c.b_id = db.doc_id
      JOIN sz sa ON c.a_id = sa.doc_id
      JOIN sz sb ON c.b_id = sb.doc_id
    )
    SELECT a_id, b_id, CAST(i AS BIGINT) AS n_common,
           i / (na + nb - i) AS jaccard
    FROM ver
    WHERE 8 * i >= 3 * (na + nb)
    """,
)
def setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (shingle-set Jaccard >= 3/5) via
    PPJoin-style prefix filtering — the deterministic complement to the
    probabilistic MinHash+LSH path (``minhash_lsh_candidates``): zero
    false negatives by construction, no banding recall curve to tune.
    The element domain is the same 3-token shingles the MinHash path
    uses (single tokens are non-discriminative: on a bounded-vocabulary
    corpus every doc pair shares most of the vocabulary).

    The classic prefix-filter argument (Chaudhuri et al. SSJoin /
    Xiao et al. PPJoin, both public): sort every document's shingles
    by a GLOBAL frequency order (rarest first) and keep only a short
    prefix — any pair with Jaccard >= tau must collide inside the
    prefixes, so candidate generation is an equi-join on prefix
    elements, dominated by rare shingles. Three refinements stack on
    the base filter (round 12; every one is a SOUND prune, so the
    verified output — and the oracle — are unchanged):

    * **hashed element domain**: the candidate pipeline runs on
      ``xxhash64(shingle)`` longs, not shingle strings — the prefix
      theorem only needs *a* consistent global total order, and any
      cross-doc hash collision can only ADD a candidate, which exact
      verification (on the original string arrays) then rejects.
      Df/rank/join shuffles shrink ~3x in bytes.
    * **asymmetric index prefix** (PPJoin's index/probe split): under
      the canonical "smaller set first" order, the smaller side of a
      qualifying pair must collide within its first
      ``n - ceil(2*tau/(1+tau)*n) + l`` elements (~n/4 for tau=3/5)
      — only that slice enters the join's left side.
    * **l-extended prefixes + match-count filter** (AdaptJoin, Wang
      et al. 2012, public): with both prefixes extended by l-1 = 1
      element, a qualifying pair's FIRST l common elements provably
      sit inside both extended prefixes, so candidates must produce
      >= 2 join matches (guarded for the degenerate alpha < 2 case,
      na+nb <= 2). Measured at sf0.1 this cuts candidates
      68,725 -> 2,293 (the corpus is dense just under the threshold,
      so single rare-shingle collisions are common but double
      collisions are not) and the verify stage collapses with it.

    Verification is one exact ``array_intersect`` per candidate on
    the original string arrays, so the hash domain never decides
    membership — the integer restatement of every gate (see
    SETSIM_TAU_*) keeps the result hash-identical to the DuckDB
    oracle.

    Scale posture: one shuffle for the hashed-token DF table, one
    window per doc (partitioned by doc_id), a rare-hash equi-join
    whose groups the df-ascending order keeps tiny, a pair-grain
    aggregate, and a doc-level verify join — every stage is
    key-partitioned; nothing is quadratic in the corpus, only in
    candidate pairs that share >= 2 rare prefix hashes.

    History: 7.1 s -> 3.5 s at sf0.1 in round 11 (materialized
    shingle state + symmetric length/positional prunes);
    3.82 s -> 2.00 s isolated-warm median in round 12 (hashing +
    asymmetric + l=2 prunes — 1.9x, verified pair set identical).
    """
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    # spread the regex-heavy shingle pass across cores (a small corpus
    # is one parquet split), then materialize the per-doc shingle state
    # ONCE — four consumers read it (explode, sizes, both verify sides);
    # recomputing the tokenize+zip_with pipeline per consumer measured
    # ~4x the whole query's cost at sf0.1
    n_cores = spark.sparkContext.defaultParallelism
    if len(docs.inputFiles()) < max(2, n_cores // 2):
        docs = docs.repartition(n_cores, "doc_id")
    d = docs.select("doc_id", _shingles().alias("toks")).localCheckpoint(
        eager=True
    )
    # candidate pipeline on xxhash64 longs (docstring bullet 1); n
    # rides along through the explode so no size re-join is needed
    e = d.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n"),
        F.explode(F.expr("transform(toks, x -> xxhash64(x))")).alias("h"),
    )
    df_h = e.groupBy("h").agg(F.count("*").alias("df"))
    ranked = e.join(df_h, "h").withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "h")
        ),
    )
    # l = 2 extended probe prefix: n - ceil(3n/5) + 2; materialized
    # once (both the index-slice side and the probe side read it)
    pref = ranked.filter(
        F.col("r") <= F.col("n") - F.expr("(3 * n + 4) div 5") + 2
    ).select("doc_id", "h", "r", "n").localCheckpoint(eager=True)
    # Asymmetric prefixes (PPJoin's index/probe split, Xiao et al.
    # §3.2, public): under the canonical "smaller set first" order
    # ((n, doc_id) lexicographic), a qualifying pair {x, y} with
    # |x| <= |y| must reach overlap alpha = ceil((3/8)(na+nb))
    # >= ceil(3*na/4), so x's common elements cannot all hide past its
    # INDEX prefix of length na - ceil(3*na/4) + 1 (~n/4) — only that
    # slice of the smaller side needs to enter the equi-join, against
    # the larger side's full probe prefix (~2n/5). ceil(3n/4) in
    # integers: (3n + 3) div 4.
    # l = 2 extended index prefix: n - ceil(3n/4) + 2, ceil(3n/4) in
    # integers = (3n + 3) div 4
    ix = pref.filter(
        F.col("r") <= F.col("n") - F.expr("(3 * n + 3) div 4") + 2
    )
    a = ix.alias("a")
    b = pref.alias("b")
    na, nb = F.col("a.n"), F.col("b.n")
    canonical = (na < nb) | (
        (na == nb) & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    # Per-match length filter (J <= min/max, under the canonical order
    # just 5*na >= 3*nb); the positional filter — overlap <= 1 +
    # min(na-ra, nb-rb) must reach alpha = ceil((3/8)(na+nb)) — holds
    # only for a pair's FIRST common element, so with l = 2 it is
    # collected per match and applied as a pair-level ANY (the first
    # match is always in the join, so a qualifying pair always has a
    # passing row); the match-count gate >= 2 is waived only in the
    # degenerate alpha < 2 band (3*(na+nb) <= 8).
    matches = a.join(
        b,
        (F.col("a.h") == F.col("b.h")) & canonical & (5 * na >= 3 * nb),
    ).select(
        # emit in the oracle's doc_id orientation; sizes are functions
        # of the ids, so they ride through the pair aggregate and the
        # two sz re-joins of rounds <= 11 disappear
        F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("a_id"),
        F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("b_id"),
        F.when(F.col("a.doc_id") < F.col("b.doc_id"), na)
        .otherwise(nb)
        .cast("bigint")
        .alias("na"),
        F.when(F.col("a.doc_id") < F.col("b.doc_id"), nb)
        .otherwise(na)
        .cast("bigint")
        .alias("nb"),
        (
            8 * (1 + F.least(na - F.col("a.r"), nb - F.col("b.r")))
            >= 3 * (na + nb)
        )
        .cast("int")
        .alias("pos_ok"),
    )
    cand = (
        matches.groupBy("a_id", "b_id", "na", "nb")
        .agg(
            F.count("*").alias("nm"),
            F.max("pos_ok").alias("any_pos"),
        )
        .filter(
            (F.col("any_pos") == 1)
            & (
                (F.col("nm") >= 2)
                | (3 * (F.col("na") + F.col("nb")) <= 8)
            )
        )
        .select("a_id", "b_id", "na", "nb")
    )
    da = d.select(F.col("doc_id").alias("a_id"), F.col("toks").alias("ta"))
    db = d.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("tb"))
    ver = (
        cand.join(da, "a_id")
        .join(db, "b_id")
        .withColumn(
            "n_common",
            F.size(F.array_intersect("ta", "tb")).cast("bigint"),
        )
    )
    return ver.filter(
        8 * F.col("n_common") >= 3 * (F.col("na") + F.col("nb"))
    ).select(
        "a_id",
        "b_id",
        "n_common",
        (
            F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Incremental NEAR-dup ingest: the LSH band index as maintained state.
# ---------------------------------------------------------------------------
def _incr_neardup_oracle() -> str:
    r = N_PERMS // N_BANDS
    sig_cols = ", ".join(
        f"MIN(substr(md5(s), {4 * i + 1}, 4)) AS sig{i}" for i in range(N_PERMS)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, "
        + " || ".join(f"sig{j * r + k}" for k in range(r))
        + " AS bkey FROM sigs"
        for j in range(N_BANDS)
    )
    return f"""
    WITH sh0 AS ({_DUCK_SHINGLES}),
    sh AS (SELECT * FROM sh0 WHERE len(shingles) > 0),
    cut AS (
      SELECT CAST(floor(MAX(doc_id) * {INCR_SPLIT_FRAC}) AS BIGINT) AS c
      FROM sh
    ),
    e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    sigs AS (SELECT doc_id, {sig_cols} FROM e GROUP BY doc_id),
    bands AS ({band_selects}),
    cand AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(COUNT(*) AS BIGINT) AS nb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    ver AS (
      SELECT c.b_id,
             COUNT(*) AS n_band_candidates,
             SUM(CASE WHEN 3 * len(list_intersect(sa.shingles, sb.shingles))
                           >= len(sa.shingles) + len(sb.shingles)
                      THEN 1 ELSE 0 END) AS n_dup_sources
      FROM cand c
      JOIN sh sa ON c.a_id = sa.doc_id
      JOIN sh sb ON c.b_id = sb.doc_id
      JOIN cut ON TRUE
      WHERE c.b_id >= cut.c
      GROUP BY c.b_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(v.n_band_candidates, 0) AS BIGINT)
             AS n_band_candidates,
           CAST(COALESCE(v.n_dup_sources, 0) AS BIGINT) AS n_dup_sources,
           COALESCE(v.n_dup_sources, 0) = 0 AS is_novel
    FROM (SELECT doc_id FROM sh, cut WHERE doc_id >= cut.c) d
    LEFT JOIN ver v ON d.doc_id = v.b_id
    """


@query("incremental_neardup_ingest", oracle=_incr_neardup_oracle())
def incremental_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup classification of an incoming batch against all history
    — the LSH twin of ``incremental_exact_dedup``: every incoming
    document (top {1-INCR_SPLIT_FRAC:.0%} of doc_ids, standing in for
    today's crawl) is checked for near-duplicates among OLDER documents
    (history plus earlier docs in its own batch) via the banded MinHash
    index, then exact-Jaccard-verified at tau = 1/2 (integer gate:
    3*|A∩B| >= |A|+|B|).

    The production reading: the band table (doc_id, band, bkey) IS the
    maintained state — per-batch work is the incoming docs' bands
    joined against the stored index (an equi-join touching only
    matching band buckets, never history's text), exactly what
    ``streaming/jobs.neardup_ingest_stream`` runs per micro-batch with
    this query as its batch twin. Directionality falls out of the
    a_id < b_id candidate orientation: the NEW side of a pair is always
    ``b_id``, so "has an older near-dup source" is a filter, not a
    second join.
    """
    # dispatch on the PURE plans (pre-checkpoint; the unfiltered
    # candidate frame upper-bounds the b_id-filtered one, so the
    # certificate is conservative); cache_key memoizes the ~0.2-0.3 s
    # driver-side plan walk (BASELINE round-10) once per session.
    pure = _minhash_per_doc(spark, sf_dir)
    mode = cand_dispatch(
        _lsh_candidates(pure),
        pure,
        cache_key=("incremental_neardup_ingest", sf_dir),
    )
    # signature pass materializes once; cut/cand/sha/shb/incoming all
    # read the doc-level blocks
    per_doc = _minhash_per_doc_ckpt(spark, sf_dir)
    cut = per_doc.agg(
        F.floor(F.max("doc_id") * INCR_SPLIT_FRAC).cast("bigint").alias("c")
    )
    cand = (
        _lsh_candidates(per_doc)
        .crossJoin(F.broadcast(cut))
        .filter(F.col("b_id") >= F.col("c"))
        .select("a_id", "b_id")
    )
    sha = per_doc.select(
        F.col("doc_id").alias("a_id"), F.col("hset").alias("hs_a")
    )
    shb = per_doc.select(
        F.col("doc_id").alias("b_id"), F.col("hset").alias("hs_b")
    )
    # same size-gated discipline as minhash_lsh_candidates: small
    # id-only candidate frames broadcast, large/unknown ones take the
    # semi-filter + shuffle plan; array sides always join SHUFFLE_HASH.
    paired = join_candidates(sha, cand, "a_id", mode=mode)
    both = shb.join(paired.hint("shuffle_hash"), "b_id")
    ver = both.select(
        "b_id",
        (
            3 * F.size(F.array_intersect("hs_a", "hs_b"))
            >= F.size("hs_a") + F.size("hs_b")
        ).cast("int").alias("is_dup"),
    ).groupBy("b_id").agg(
        F.count("*").cast("bigint").alias("n_band_candidates"),
        F.sum("is_dup").cast("bigint").alias("n_dup_sources"),
    )
    incoming = per_doc.crossJoin(F.broadcast(cut)).filter(
        F.col("doc_id") >= F.col("c")
    ).select("doc_id")
    return incoming.join(
        ver, incoming.doc_id == ver.b_id, "left"
    ).select(
        "doc_id",
        F.coalesce("n_band_candidates", F.lit(0)).cast("bigint").alias(
            "n_band_candidates"
        ),
        F.coalesce("n_dup_sources", F.lit(0)).cast("bigint").alias(
            "n_dup_sources"
        ),
        (F.coalesce("n_dup_sources", F.lit(0)) == 0).alias("is_novel"),
    )


# ---------------------------------------------------------------------------
# Asymmetric containment dedup (quote/boilerplate inclusion).
# ---------------------------------------------------------------------------
@query(
    "containment_dedup",
    oracle=f"""
    WITH sh AS ({_DUCK_SHINGLES}),
    e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    kept AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM e
      ) WHERE df <= {NGRAM_DF_CAP}
    ),
    sizes AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM sh),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    oriented AS (
      SELECT p.a_id AS contained_id, p.b_id AS container_id,
             p.n_common, sa.n AS n_contained
      FROM pairs p
      JOIN sizes sa ON p.a_id = sa.doc_id
      WHERE 2 * p.n_common >= sa.n
      UNION ALL
      SELECT p.b_id, p.a_id, p.n_common, sb.n
      FROM pairs p
      JOIN sizes sb ON p.b_id = sb.doc_id
      WHERE 2 * p.n_common >= sb.n
    )
    SELECT contained_id, container_id, n_common, n_contained,
           CAST(n_common AS DOUBLE) / CAST(n_contained AS DOUBLE)
             AS containment
    FROM oriented
    """,
)
def containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    ``|A∩B| / |A|`` ≥ 1/2 flags "A is mostly inside B" — the
    quote-inclusion / boilerplate-wrapper / excerpt case that
    symmetric Jaccard structurally misses (a 100-shingle doc quoted
    inside a 10,000-shingle page has Jaccard ≈ 0.01 but containment
    1.0). Broder's containment sketch (1997, public) is the classic
    framing; a crawl dedup runs BOTH verdicts.

    Each unordered pair is tested in both orientations and emitted
    per passing DIRECTION (containment is asymmetric; both rows can
    fire for true twins). The gate is the exact integer
    cross-multiplication ``2·common ≥ |A|``; the float containment is
    one IEEE division emitted for consumers.

    Scale honesty: candidate generation shares ``ngram_jaccard_topk``'s
    DF-capped shingle self-join — pairs sharing only boilerplate
    (high-DF) shingles are not candidates, which is the right bias for
    CONTAINMENT too (a contained doc shares its rare shingles with its
    container). At 100 TB the same kernel runs per LSH/prefix block,
    never corpus-wide.
    """
    d = t(spark, sf_dir, "documents")
    # materialize the regex shingle pass ONCE (same discipline as
    # setsim_prefix_join): three consumers read it — sizes, the DF
    # counts, and the kept-edge side; spread first because a small
    # corpus arrives as one parquet split
    n_cores = spark.sparkContext.defaultParallelism
    if len(d.inputFiles()) < max(2, n_cores // 2):
        d = d.repartition(n_cores, "doc_id")
    sh = d.select("doc_id", _shingles().alias("shingles")).localCheckpoint(
        eager=True
    )
    e = sh.select("doc_id", F.explode("shingles").alias("s"))
    sizes = sh.select(
        "doc_id", F.size("shingles").cast("bigint").alias("n")
    )
    df_s = e.groupBy("s").agg(F.count("*").alias("df"))
    kept = e.join(df_s.filter(F.col("df") <= NGRAM_DF_CAP), "s").select(
        "doc_id", "s"
    )
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    both = pairs.join(sa, "a_id").join(sb, "b_id")
    fwd = both.filter(2 * F.col("n_common") >= F.col("na")).select(
        F.col("a_id").alias("contained_id"),
        F.col("b_id").alias("container_id"),
        "n_common",
        F.col("na").alias("n_contained"),
    )
    rev = both.filter(2 * F.col("n_common") >= F.col("nb")).select(
        F.col("b_id").alias("contained_id"),
        F.col("a_id").alias("container_id"),
        "n_common",
        F.col("nb").alias("n_contained"),
    )
    return fwd.unionByName(rev).select(
        "contained_id",
        "container_id",
        "n_common",
        "n_contained",
        (
            F.col("n_common").cast("double")
            / F.col("n_contained").cast("double")
        ).alias("containment"),
    )


# ---------------------------------------------------------------------------
# Per-source dedup rate report (the curation scorecard's dedup column).
# ---------------------------------------------------------------------------
def _dedup_rate_oracle() -> str:
    keep = _dedup_keep_list_oracle().rstrip()
    return f"""
    WITH verdicts AS ({keep})
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE v.kept) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (WHERE NOT v.exact_keeper) AS BIGINT)
             AS n_exact_dropped,
           CAST(COUNT(*) FILTER (WHERE v.exact_keeper AND NOT v.near_keeper)
                AS BIGINT) AS n_near_dropped,
           CAST(COUNT(*) FILTER (WHERE v.kept) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS keep_rate
    FROM verdicts v JOIN documents d ON v.doc_id = d.doc_id
    GROUP BY d.source
    """


@query("dedup_rate_by_source", oracle=_dedup_rate_oracle())
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup scorecard: how many documents each source
    keeps after the full exact+near pipeline, split by WHICH stage
    dropped the rest — the number a crawl-provenance review actually
    reads (a source with a high exact-drop rate is re-fetching; a high
    near-drop rate is syndication/templating;
    ``cross_source_neardup_matrix`` then names the partner sources).

    Pure composition over the oracle-matched ``dedup_keep_list``
    verdicts (same shared LSH subtree — no recomputation beyond one
    provenance join and a per-source rollup), with drop attribution
    disjoint by construction: exact-dropped is counted first, near-
    dropped only among exact survivors, so the three counters sum to
    n_docs.
    """
    d = t(spark, sf_dir, "documents")
    verdicts = dedup_keep_list(spark, sf_dir)
    return (
        verdicts.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count(F.when(F.col("kept"), 1)).cast("bigint").alias("n_kept"),
            F.count(F.when(~F.col("exact_keeper"), 1))
            .cast("bigint")
            .alias("n_exact_dropped"),
            F.count(F.when(F.col("exact_keeper") & ~F.col("near_keeper"), 1))
            .cast("bigint")
            .alias("n_near_dropped"),
            (
                F.count(F.when(F.col("kept"), 1)).cast("double")
                / F.count("*").cast("double")
            ).alias("keep_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Token-grain dedup savings (the scorecard at the grain LLM budgets use).
# ---------------------------------------------------------------------------
def _token_savings_oracle() -> str:
    keep = _dedup_keep_list_oracle().rstrip()
    return f"""
    WITH verdicts AS ({keep}),
    tok AS (
      SELECT doc_id, source,
             COALESCE(CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                           AS BIGINT), 0) AS n_tokens
      FROM documents
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t.n_tokens) AS BIGINT) AS tokens_seen,
           CAST(SUM(CASE WHEN v.kept THEN t.n_tokens ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           CAST(SUM(CASE WHEN NOT v.exact_keeper THEN t.n_tokens ELSE 0 END)
                AS BIGINT) AS tokens_exact_dropped,
           CAST(SUM(CASE WHEN v.exact_keeper AND NOT v.near_keeper
                         THEN t.n_tokens ELSE 0 END) AS BIGINT)
             AS tokens_near_dropped,
           CASE WHEN SUM(t.n_tokens) > 0
                THEN CAST(SUM(CASE WHEN v.kept THEN t.n_tokens ELSE 0 END)
                          AS DOUBLE) / CAST(SUM(t.n_tokens) AS DOUBLE)
           END AS token_keep_rate
    FROM verdicts v JOIN tok t ON v.doc_id = t.doc_id
    GROUP BY t.source
    """


@query("dedup_token_savings_by_source", oracle=_token_savings_oracle())
def dedup_token_savings_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup savings at TOKEN grain — the unit an LLM
    training budget is actually denominated in (``dedup_rate_by_source``
    reports the same funnel at document grain; a source of few huge
    near-dup documents looks mild there and dominant here).

    Composition: the oracle-matched ``dedup_keep_list`` verdicts join
    per-doc whitespace token counts (the repo's token convention —
    NULL text contributes 0 tokens but still counts as a document),
    then one per-source rollup with stage attribution disjoint by
    construction (exact-dropped first, near-dropped only among exact
    survivors), so tokens_kept + tokens_exact_dropped +
    tokens_near_dropped = tokens_seen. ``token_keep_rate`` is NULL
    for a source with zero seen tokens (0/0 is not a rate).

    Scale: the verdict subtree is the shared LSH closure (candidate-
    bounded); this adds one narrow token-count projection, one
    doc_id-partitioned join, and a map-side-combinable rollup.
    """
    d = t(spark, sf_dir, "documents")
    verdicts = dedup_keep_list(spark, sf_dir)
    n_tokens = F.coalesce(
        F.when(
            F.col("text").isNotNull(),
            F.size(F.split(F.trim(F.col("text")), r"\s+")),
        ).cast("bigint"),
        F.lit(0),
    )
    tok = d.select("doc_id", "source", n_tokens.alias("n_tokens"))
    kept_tokens = F.sum(
        F.when(F.col("kept"), F.col("n_tokens")).otherwise(0)
    ).cast("bigint")
    seen_tokens = F.sum("n_tokens").cast("bigint")
    return (
        verdicts.join(tok, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            seen_tokens.alias("tokens_seen"),
            kept_tokens.alias("tokens_kept"),
            F.sum(
                F.when(~F.col("exact_keeper"), F.col("n_tokens")).otherwise(0)
            )
            .cast("bigint")
            .alias("tokens_exact_dropped"),
            F.sum(
                F.when(
                    F.col("exact_keeper") & ~F.col("near_keeper"),
                    F.col("n_tokens"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("tokens_near_dropped"),
            F.when(
                seen_tokens > 0,
                kept_tokens.cast("double") / seen_tokens.cast("double"),
            ).alias("token_keep_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Span-grain curation: the TRIM plan (merged shared-run intervals).
# ---------------------------------------------------------------------------
#: shared runs shorter than this many tokens are not worth trimming
#: (Lee et al. trim 50-token spans at web scale; the synthetic corpus
#: is built from short templated docs, so the threshold sits where a
#: run is clearly verbatim reuse rather than collocation).
MIN_TRIM_RUN_TOKENS = 8


def _span_trim_oracle() -> str:
    return f"""
    WITH pairs AS ({_minhash_oracle()}),
    n AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
      FROM documents
    ),
    tok AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM n),
    g AS (
      SELECT doc_id, pos,
             md5(toks[pos] || ' ' || toks[pos + 1] || ' ' || toks[pos + 2])
               AS h
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS pos
            FROM tok)
    ),
    m AS (
      SELECT p.a_id, p.b_id, ga.pos AS pa, gb.pos AS pb
      FROM pairs p
      JOIN g ga ON ga.doc_id = p.a_id
      JOIN g gb ON gb.doc_id = p.b_id AND gb.h = ga.h
    ),
    isl AS (
      SELECT a_id, b_id, pb,
             pa - row_number() OVER (PARTITION BY a_id, b_id, pa - pb
                                     ORDER BY pa) AS island,
             pa - pb AS diag
      FROM m
    ),
    runs AS (
      SELECT a_id, b_id, CAST(COUNT(*) AS BIGINT) AS run_len,
             CAST(MIN(pb) AS BIGINT) AS start_pb
      FROM isl GROUP BY a_id, b_id, diag, island
    ),
    spans AS (
      SELECT b_id AS doc_id, a_id, start_pb AS s,
             start_pb + run_len + 1 AS e
      FROM runs WHERE run_len + 2 >= {MIN_TRIM_RUN_TOKENS}
    ),
    flagged AS (
      SELECT doc_id, a_id, s, e,
             CASE WHEN s > COALESCE(
                    MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e, a_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), -2) + 1
                  THEN 1 ELSE 0 END AS is_new
      FROM spans
    ),
    grp AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY doc_id ORDER BY s, e, a_id
                                  ROWS UNBOUNDED PRECEDING) AS isle
      FROM flagged
    )
    SELECT doc_id,
           CAST(MIN(s) AS BIGINT) AS span_start,
           CAST(MAX(e) AS BIGINT) AS span_end,
           CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_tokens,
           CAST(COUNT(DISTINCT a_id) AS BIGINT) AS n_sources
    FROM grp GROUP BY doc_id, isle
    """


@query("span_trim_plan", oracle=_span_trim_oracle())
def span_trim_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRIM action the span-grain evidence exists for
    (``longest_shared_run`` measures; this decides): for every LSH
    candidate pair, every shared verbatim run of at least
    {MIN_TRIM_RUN_TOKENS} tokens becomes a removal interval in the
    LOWER-priority document (the ``b`` side — candidates are oriented
    a_id < b_id, matching the keep-lowest-doc_id dedup policy), and
    per-document overlapping-or-adjacent intervals are MERGED
    (gaps-and-islands on a running max-end), so the plan is a set of
    disjoint token spans per doc: (span_start, span_end, span_tokens,
    n_sources). Intervals are in 1-based normalized-token
    coordinates; a run of R matching 3-grams starting at position p
    covers tokens p .. p+R+1.

    Scale: the run kernel is the candidate-bounded diagonal scan
    shared with ``longest_shared_run`` (``_candidate_runs``); the
    merge windows partition BY DOCUMENT — bounded by one doc's span
    count, never corpus-grain. The merge is order-invariant (running
    max-end over a (start, end)-sorted frame), so the surface is
    deterministic cross-engine.
    """
    _, runs = _candidate_runs(spark, sf_dir)
    return trim_spans_from_runs(runs)


def trim_spans_from_runs(runs: DataFrame) -> DataFrame:
    """Span-merge core shared by :func:`span_trim_plan` and the
    streaming ingest twin (``streaming/jobs.span_trim_ingest_stream``):
    maximal shared runs → per-b-doc disjoint merged removal spans
    (gaps-and-islands on a running max-end). Factored so the two
    surfaces cannot drift."""
    spans = runs.filter(
        F.col("run_len") + 2 >= MIN_TRIM_RUN_TOKENS
    ).select(
        F.col("b_id").alias("doc_id"),
        "a_id",
        F.col("start_pb").alias("s"),
        (F.col("start_pb") + F.col("run_len") + 1).alias("e"),
    )
    wo = W.partitionBy("doc_id").orderBy("s", "e", "a_id")
    prev_max = F.max("e").over(wo.rowsBetween(W.unboundedPreceding, -1))
    flagged = spans.withColumn(
        "is_new",
        F.when(
            F.col("s") > F.coalesce(prev_max, F.lit(-2)) + 1, 1
        ).otherwise(0),
    )
    grp = flagged.withColumn(
        "isle", F.sum("is_new").over(wo.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        grp.groupBy("doc_id", "isle")
        .agg(
            F.min("s").cast("bigint").alias("span_start"),
            F.max("e").cast("bigint").alias("span_end"),
            (F.max("e") - F.min("s") + 1).cast("bigint").alias(
                "span_tokens"
            ),
            F.countDistinct("a_id").cast("bigint").alias("n_sources"),
        )
        .select(
            "doc_id", "span_start", "span_end", "span_tokens", "n_sources"
        )
    )


def _trim_savings_oracle() -> str:
    return f"""
    WITH plan AS ({_span_trim_oracle()})
    SELECT d.source,
           CAST(COUNT(DISTINCT p.doc_id) AS BIGINT) AS n_docs_trimmed,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(p.span_tokens) AS BIGINT) AS tokens_trimmed
    FROM plan p JOIN documents d ON p.doc_id = d.doc_id
    GROUP BY d.source
    """


@query("trim_savings_by_source", oracle=_trim_savings_oracle())
def trim_savings_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rollup of the span trim plan — what span-grain
    curation SAVES, beside what doc-grain dedup drops
    (``dedup_token_savings_by_source``): documents touched, disjoint
    spans, and total tokens the trim removes. A source heavy here but
    light in doc-grain near-drops is syndicating FRAGMENTS
    (boilerplate headers, quoted passages) rather than whole
    documents — a different remediation. Pure composition on the
    oracle-matched ``span_trim_plan`` + one provenance join + a
    map-side-combinable rollup."""
    plan = span_trim_plan(spark, sf_dir)
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    return plan.join(d, "doc_id").groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs_trimmed"),
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum("span_tokens").cast("bigint").alias("tokens_trimmed"),
    )


def _post_trim_oracle() -> str:
    return f"""
    WITH plan AS ({_span_trim_oracle()}),
    ptrim AS (
      SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS t
      FROM plan GROUP BY doc_id
    ),
    tok AS (
      SELECT doc_id,
             COALESCE(CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                           AS BIGINT), 0) AS n
      FROM documents
    )
    SELECT tok.doc_id,
           CAST(n AS BIGINT) AS tokens_before,
           CAST(COALESCE(p.t, 0) AS BIGINT) AS tokens_trimmed,
           CAST(n - COALESCE(p.t, 0) AS BIGINT) AS tokens_after,
           CASE WHEN n > 0
                THEN CAST(COALESCE(p.t, 0) AS DOUBLE) / CAST(n AS DOUBLE)
           END AS trim_ratio
    FROM tok LEFT JOIN ptrim p USING (doc_id)
    """


@query("post_trim_token_counts", oracle=_post_trim_oracle())
def post_trim_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token accounting AFTER the span trim plan — the
    frame a token-budget admission stage would consume downstream of
    trimming (``domain_token_budget`` admits on tokens; this is what
    those tokens become once `span_trim_plan`'s disjoint intervals are
    removed). Every document gets a row; untrimmed docs carry
    tokens_trimmed = 0 and NULL-text docs 0/0/0 with a NULL ratio.

    The trim plan's spans are in NORMALIZED token coordinates, which
    count exactly like the repo's whitespace token convention
    (collapsing interior whitespace never changes the token count),
    and merged spans are DISJOINT per doc, so tokens_after =
    tokens_before − Σ span_tokens is exact — no double subtraction.
    One doc_id-grain join over the candidate-bounded plan; nothing
    corpus-quadratic."""
    d = t(spark, sf_dir, "documents")
    n_tokens = F.coalesce(
        F.when(
            F.col("text").isNotNull(),
            F.size(F.split(F.trim(F.col("text")), r"\s+")),
        ).cast("bigint"),
        F.lit(0),
    )
    tok = d.select("doc_id", n_tokens.alias("tokens_before"))
    ptrim = (
        span_trim_plan(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").cast("bigint").alias("t"))
    )
    trimmed = F.coalesce("t", F.lit(0)).cast("bigint")
    return tok.join(ptrim, "doc_id", "left").select(
        "doc_id",
        "tokens_before",
        trimmed.alias("tokens_trimmed"),
        (F.col("tokens_before") - trimmed).cast("bigint").alias(
            "tokens_after"
        ),
        F.when(
            F.col("tokens_before") > 0,
            trimmed.cast("double") / F.col("tokens_before").cast("double"),
        ).alias("trim_ratio"),
    )
