"""Text-analysis operators over the ``documents`` table.

Extension surface for large-scale training-data pipelines (SURVEY.md
§2.11 / build plan M4): token counting, quality scoring, language-ID,
document fingerprinting. The reference has no text operators — its only
string handling is JSON stringify/extract (reference
``dags/flights_data_pipeline.py:120-123``) — so everything here is the
declared LLM-pipeline extension surface.

Engine discipline (applies to each query):

* Pure JVM-side expressions — higher-order array functions
  (``transform``/``filter``/``aggregate``), never a Python UDF: at
  100 TB the tokenizer runs inside whole-stage codegen.
* Per-document work is embarrassingly parallel (narrow, no shuffle);
  the only shuffles are the explicit corpus-level aggregations, which
  run partial+final.
* Cross-engine-exact outputs: integer counts, md5 hex strings, and
  raw IEEE divisions (deterministic) — never ``ROUND(double)`` at a
  potential half boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..io.catalog import load_table as t
from ..session import session_memo
from .registry import query

def _tokens() -> F.Column:
    """Tokens column: whitespace-split of the trimmed text (lazy — Column
    construction needs an active SparkContext)."""
    return F.split(F.trim(F.col("text")), r"\s+")

#: closed stopword list used by the quality scorer (the synthetic
#: corpus' function words).
STOPWORDS = ("a", "the")


# ---------------------------------------------------------------------------
# Token counting (whitespace tokenizer).
# ---------------------------------------------------------------------------
@query(
    "token_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT)
             AS total_token_chars,
           CAST(list_max(list_transform(toks, x -> len(x))) AS BIGINT)
             AS longest_token
    FROM tok
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts per document — narrow, codegen'd, no shuffle."""
    d = t(spark, sf_dir, "documents")
    toks = _tokens()
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        F.aggregate(
            F.transform(toks, F.length), F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("total_token_chars"),
        F.array_max(F.transform(toks, F.length)).cast("bigint").alias("longest_token"),
    )


# ---------------------------------------------------------------------------
# BPE-style token counting (pre-tokenizer regex, GPT-2 family shape).
# ---------------------------------------------------------------------------
#: GPT-2-style pre-tokenizer pattern, constrained to constructs with
#: identical semantics in Java regex (Spark) and RE2 (DuckDB): no
#: lookahead (RE2 lacks it), ASCII classes, leftmost-first alternation
#: (both engines). Contractions split off first; then space-prefixed
#: letter runs, digit runs, punctuation runs; then whitespace runs.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"

#: the same pattern as a SQL string literal (apostrophe doubled).
_BPE_SQL = BPE_PATTERN.replace("'", "''")


@query(
    "bpe_style_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
             AS n_ws_tokens
    FROM documents
    """,
)
def bpe_style_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenizer token counts — the budget number an LLM-ingest
    pipeline actually needs (whitespace counts underestimate by the
    punctuation/contraction splits; emitted side by side here).

    Narrow single-pass projection: one regex automaton run per row,
    codegen'd, no shuffle — at 100 TB this is scan-bound.
    """
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_PATTERN))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        F.size(_tokens()).cast("bigint").alias("n_ws_tokens"),
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary: document frequency + per-doc salient terms.
# ---------------------------------------------------------------------------
@query(
    "term_doc_frequency",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_distinct(regexp_split_to_array(lower(trim(text)),
                                                        '\\s+'))) AS term
      FROM documents
    )
    SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq
    FROM tok GROUP BY term
    ORDER BY doc_freq DESC, term
    LIMIT 50
    """,
)
def term_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus terms by document frequency — the IDF side of any
    tf-idf / stopword-discovery pass. array_distinct BEFORE explode
    keeps the exploded row count at distinct-terms-per-doc, and the
    groupBy collapses map-side (partial aggregation)."""
    d = t(spark, sf_dir, "documents")
    term = F.explode(
        F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    ).alias("term")
    return (
        d.select(term)
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "term")
        .limit(50)
    )


@query(
    "salient_terms_per_doc",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
           FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1)
    SELECT doc_id, term, tf, df FROM (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, df.df ASC, tf.term) AS rn
      FROM tf JOIN df ON tf.term = df.term
    ) WHERE rn <= 3
    """,
)
def salient_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document: frequent in the doc (tf desc),
    rare in the corpus (df asc) — the tf-idf ranking expressed on
    EXACT integers. A float tf·idf score would order identically for
    fixed tf except at score ties, but log() is not bit-identical
    across engines, so the gate pins the integer ordering instead
    (term asc as the final deterministic tiebreak).

    Plan: one explode, tf aggregate (reuses the doc_id partitioning),
    df aggregate on the term key, one join back — df is vocabulary-
    sized, so AQE broadcasts it for real corpora's Zipf-truncated
    vocabularies and falls back to sort-merge when it grows.
    """
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").cast("bigint").alias("tf"))
    df_ = (
        tok.distinct()
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("df"))
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term")
    )
    return (
        tf.join(df_, "term")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df")
    )


# ---------------------------------------------------------------------------
# Document chunking via Python UDTF (§2.11 — the generator surface).
# ---------------------------------------------------------------------------
CHUNK_SIZE = 64
CHUNK_STRIDE = 48


@query(
    "document_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE trim(text) != ''
    ),
    spans AS (
      SELECT doc_id, t,
             unnest(range(GREATEST(0,
               CAST(ceil((len(t) - {CHUNK_SIZE}) / {CHUNK_STRIDE}.0) AS INT))
               + 1)) AS k
      FROM toks
    )
    SELECT doc_id,
           CAST(k AS INT) AS chunk_idx,
           CAST(len(list_slice(t, k * {CHUNK_STRIDE} + 1,
                               k * {CHUNK_STRIDE} + {CHUNK_SIZE})) AS INT)
             AS n_tokens,
           array_to_string(list_slice(t, k * {CHUNK_STRIDE} + 1,
                                      k * {CHUNK_STRIDE} + {CHUNK_SIZE}), ' ')
             AS chunk
    FROM spans
    """,
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-ingest chunking: overlapping {CHUNK_SIZE}-token windows
    advancing by {CHUNK_STRIDE}, emitted by the Python UDTF
    (``extensions.udtf_ops.ChunkDocument`` via lateral join) — the
    §2.11 generator surface, oracle-matched against the equivalent
    relational chunking (range × list_slice). The tail window emits
    iff it contains new tokens; chunk text round-trips exactly.
    """
    from ..extensions.udtf_ops import chunk_documents

    d = t(spark, sf_dir, "documents")
    return chunk_documents(d, size=CHUNK_SIZE, stride=CHUNK_STRIDE)


# ---------------------------------------------------------------------------
# Quality scoring: length / stopword-ratio / punctuation heuristics.
# ---------------------------------------------------------------------------
@query(
    "text_quality",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, n_chars,
             regexp_split_to_array(trim(text), '\\s+') AS toks,
             len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g'))
               AS n_punct
      FROM documents
    ), m AS (
      SELECT doc_id, n_chars, n_punct,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(toks,
                      x -> x IN ('{STOPWORDS[0]}', '{STOPWORDS[1]}')))
                  AS BIGINT) AS n_stopwords
      FROM tok
    )
    SELECT doc_id, n_tokens, n_stopwords,
           CAST(n_punct AS BIGINT) AS n_punct,
           n_stopwords / n_tokens AS stopword_ratio,
           CASE WHEN n_tokens < 50 THEN 'short'
                WHEN n_stopwords / n_tokens > 0.08 THEN 'stopword_heavy'
                ELSE 'ok' END AS quality_bucket
    FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic doc-quality score.

    ``stopword_ratio`` is a raw int/int IEEE division — deterministic
    across engines without any rounding.
    """
    d = t(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks).cast("bigint")
    n_stop = F.size(
        F.filter(toks, lambda x: x.isin(*STOPWORDS))
    ).cast("bigint")
    n_punct = (
        F.length("text")
        - F.length(F.regexp_replace(F.col("text"), r"[.,!?;:]", ""))
    ).cast("bigint")
    ratio = n_stop / n_tokens
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        n_punct.alias("n_punct"),
        ratio.alias("stopword_ratio"),
        F.when(n_tokens < 50, "short")
        .when(ratio > 0.08, "stopword_heavy")
        .otherwise("ok")
        .alias("quality_bucket"),
    )


# ---------------------------------------------------------------------------
# Language identification: corpus-trained token-profile classifier.
# ---------------------------------------------------------------------------
@query(
    "lang_id_token_profile",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ), profile AS (
      SELECT lang AS plang, token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok GROUP BY lang, token
    ), scores AS (
      SELECT tok.doc_id, p.plang, CAST(SUM(p.cnt) AS BIGINT) AS score
      FROM tok JOIN profile p ON tok.token = p.token
      GROUP BY tok.doc_id, p.plang
    ), ranked AS (
      SELECT doc_id, plang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, plang) AS rn
      FROM scores
    )
    SELECT r.doc_id, d.lang AS actual_lang,
           r.plang AS predicted_lang, r.score
    FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
    WHERE r.rn = 1
    """,
)
def lang_id_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via a token-frequency profile trained on the corpus.

    Naive-Bayes-style heuristic with *integer* scores (sum of profile
    counts for each token instance) so the argmax is exact in both
    engines; ties break on language name. At scale the profile is tiny
    (|vocab| × |langs|) and broadcasts — the classification join never
    shuffles the corpus.
    """
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(_tokens()).alias("token")
    )
    profile = tok.groupBy(F.col("lang").alias("plang"), "token").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    scores = (
        tok.join(F.broadcast(profile), "token")
        .groupBy("doc_id", "plang")
        .agg(F.sum("cnt").cast("bigint").alias("score"))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("plang"))
    best = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return best.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        F.col("plang").alias("predicted_lang"),
        "score",
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: normalized-content hash + min-token-hash.
# ---------------------------------------------------------------------------
@query(
    "doc_fingerprint",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
      FROM documents
    )
    SELECT doc_id,
           md5(norm) AS content_fp,
           list_min(list_transform(
             regexp_split_to_array(norm, ' '), x -> md5(x)))
             AS min_token_hash
    FROM n
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized text, plus the
    minimum token md5 (a 1-permutation MinHash — the seed of the full
    MinHash in ``dedup.minhash_lsh_candidates``).

    md5 hex strings are byte-identical across engines (UTF-8 input,
    lowercase hex output), so fingerprints hash-match exactly.
    """
    d = t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.select(
        "doc_id",
        F.md5(norm).alias("content_fp"),
        F.array_min(
            F.transform(F.split(norm, " "), lambda x: F.md5(x))
        ).alias("min_token_hash"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage: top-k terms with cumulative corpus share.
# ---------------------------------------------------------------------------
#: vocabulary size reported by the coverage query.
VOCAB_TOP_K = 30


@query(
    "vocab_topk_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents
    ),
    counts AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS term_count
      FROM tok GROUP BY term
    ),
    ranked AS (
      SELECT term, term_count,
             CAST(ROW_NUMBER() OVER (ORDER BY term_count DESC, term) AS INT)
               AS vocab_rank,
             CAST(SUM(term_count) OVER (ORDER BY term_count DESC, term
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_count
      FROM counts
    )
    SELECT vocab_rank, term, term_count,
           CAST(cum_count AS DOUBLE)
             / (SELECT CAST(SUM(term_count) AS DOUBLE) FROM counts)
             AS cum_share
    FROM ranked WHERE vocab_rank <= {VOCAB_TOP_K}
    """,
)
def vocab_topk_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{VOCAB_TOP_K} vocabulary by term frequency with cumulative
    corpus coverage — the tokenizer-training readout (how much of the
    token stream the next vocab entry still buys).

    The corpus-sized stage is one groupBy(term) with map-side partials
    (the explode never shuffles raw text, only terms); the ranking
    window then runs on the VOCABULARY, orders of magnitude smaller
    than the corpus — global-window-on-small-aggregate is the scale
    pattern, never a global window on the fact table. cum_share
    divides two exact bigint-derived doubles, so the cross-engine
    compare is exact.
    """
    d = t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(_tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("term_count"))
    )
    # TakeOrdered the top-K FIRST (parallel per-partition top-K +
    # merge), then window over the K survivors only — the vocabulary
    # never funnels through a single-partition sort
    topk = counts.orderBy(F.col("term_count").desc(), "term").limit(
        VOCAB_TOP_K
    )
    w = W.orderBy(F.col("term_count").desc(), "term")
    ranked = topk.select(
        "term",
        "term_count",
        F.row_number().over(w).cast("int").alias("vocab_rank"),
        F.sum("term_count")
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_count"),
    )
    total = counts.agg(F.sum("term_count").cast("bigint").alias("n_total"))
    return ranked.crossJoin(F.broadcast(total)).select(
        "vocab_rank",
        "term",
        "term_count",
        (F.col("cum_count").cast("double") / F.col("n_total").cast("double")).alias(
            "cum_share"
        ),
    )


# ---------------------------------------------------------------------------
# Query-subset tf-vector cosine similarity (broadcast inverted index).
# ---------------------------------------------------------------------------
@query(
    "doc_tf_cosine_topk",
    oracle="""
    WITH tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                     AS term
            FROM documents)
      GROUP BY doc_id, term
    ),
    norms AS (
      SELECT doc_id, sqrt(CAST(SUM(tf * tf) AS DOUBLE)) AS nrm
      FROM tf GROUP BY doc_id
    ),
    dots AS (
      SELECT q.doc_id AS query_doc, c.doc_id AS corpus_doc,
             CAST(SUM(q.tf * c.tf) AS BIGINT) AS dot
      FROM tf q JOIN tf c ON q.term = c.term AND q.doc_id <> c.doc_id
      WHERE q.doc_id < 10
      GROUP BY q.doc_id, c.doc_id
    ),
    scored AS (
      SELECT d.query_doc, d.corpus_doc,
             d.dot / (nq.nrm * nc.nrm) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY d.query_doc
                                ORDER BY d.dot / (nq.nrm * nc.nrm) DESC,
                                         d.corpus_doc) AS rnk
      FROM dots d
      JOIN norms nq ON nq.doc_id = d.query_doc
      JOIN norms nc ON nc.doc_id = d.corpus_doc
    )
    SELECT query_doc, corpus_doc, cosine, CAST(rnk AS INT) AS rnk
    FROM scored WHERE rnk <= 3
    """,
)
def doc_tf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most-similar corpus documents for each of a small query
    set (doc_id < 10), by cosine over raw term-frequency vectors —
    the retrieval kernel behind tf-idf search, stated with
    cross-engine-exact arithmetic (integer tf products; norms/ratios
    are correctly-rounded IEEE ops on identical operands).

    Plan shape: the query-side postings are a few dozen rows →
    ``F.broadcast`` turns the term join into a map-side hash probe
    over the corpus postings; one groupBy on (query, corpus) sums the
    dot products, and the top-3 is a per-query row_number. At 100 TB
    the corpus-side postings stream through ONE scan with no
    shuffle-by-term (the broadcast replaces it), which is exactly how
    a query-batch scoring pass should look; an all-pairs variant
    belongs to the LSH/IVF family instead (``queries/similarity.py``).
    """
    d = t(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    norms = tf.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("nrm")
    )
    q_tf = tf.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_doc"),
        "term",
        F.col("tf").alias("qtf"),
    )
    dots = (
        tf.join(F.broadcast(q_tf), "term")
        .filter(F.col("doc_id") != F.col("query_doc"))
        .groupBy("query_doc", F.col("doc_id").alias("corpus_doc"))
        .agg(F.sum(F.col("qtf") * F.col("tf")).cast("bigint").alias("dot"))
    )
    nq = F.broadcast(
        norms.select(
            F.col("doc_id").alias("query_doc"), F.col("nrm").alias("qnrm")
        )
    )
    nc = norms.select(
        F.col("doc_id").alias("corpus_doc"), F.col("nrm").alias("cnrm")
    )
    scored = (
        dots.join(nq, "query_doc")
        .join(nc, "corpus_doc")
        .withColumn("cosine", F.col("dot") / (F.col("qnrm") * F.col("cnrm")))
    )
    w = W.partitionBy("query_doc").orderBy(
        F.col("cosine").desc(), F.col("corpus_doc")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("query_doc", "corpus_doc", "cosine", "rnk")
    )


# ---------------------------------------------------------------------------
# BM25 retrieval (rational-idf variant, cross-engine exact).
# ---------------------------------------------------------------------------
#: fixed query terms for the BM25 retrieval demo (present in the
#: synthetic corpus vocabulary at mid frequencies).
BM25_TERMS = ("spark", "vector", "stream")
BM25_TOP_K = 15

# The scoring body is ONE shared SQL string run by both engines (only
# the tokenizer frontend differs), so every float op evaluates in the
# same order on both sides. Rational idf: standard BM25 uses
# ln((N-df+0.5)/(df+0.5)), but ln() is not bit-identical across
# engines (correctness rule: no transcendentals in gated floats) — and
# ln is monotone, so scoring with the raw odds ratio preserves
# per-term ranking while keeping every op IEEE-exact (+,-,*,/ only).
# Per-term scores pivot into FIXED columns summed in literal order
# (s1+s2)+s3 — a SUM aggregate would re-associate nondeterministically.
_BM25_BODY = """
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok
      WHERE token IN ('{t0}', '{t1}', '{t2}')
      GROUP BY doc_id, token
    ),
    dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    idf AS (
      SELECT token,
             (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)
              + CAST(0.5 AS DOUBLE))
             / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS idf
      FROM (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY token), stats
    ),
    scored AS (
      SELECT tf.doc_id, tf.token,
             idf.idf * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
             / (CAST(tf.tf AS DOUBLE)
                + CAST(1.2 AS DOUBLE)
                  * (CAST(0.25 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE)
                       * (CAST(dl.dl AS DOUBLE) / stats.avgdl))) AS s
      FROM tf
      JOIN dl ON tf.doc_id = dl.doc_id
      JOIN idf ON tf.token = idf.token, stats
    ),
    pivoted AS (
      SELECT doc_id,
             COALESCE(MAX(CASE WHEN token = '{t0}' THEN s END),
                      CAST(0 AS DOUBLE)) AS s1,
             COALESCE(MAX(CASE WHEN token = '{t1}' THEN s END),
                      CAST(0 AS DOUBLE)) AS s2,
             COALESCE(MAX(CASE WHEN token = '{t2}' THEN s END),
                      CAST(0 AS DOUBLE)) AS s3
      FROM scored GROUP BY doc_id
    ),
    top AS (
      SELECT doc_id, s1 + s2 + s3 AS bm25
      FROM pivoted
      ORDER BY s1 + s2 + s3 DESC, doc_id
      LIMIT {k}
    )
    SELECT doc_id, bm25,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
             AS rank
    FROM top
""".format(t0=BM25_TERMS[0], t1=BM25_TERMS[1], t2=BM25_TERMS[2], k=BM25_TOP_K)


@query(
    "bm25_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
               AS token
      FROM documents
    ),
    """
    + _BM25_BODY,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 documents by BM25 (k1=1.2, b=0.75) for a fixed 3-term
    query — lexical retrieval, the sparse half of a hybrid RAG stack
    beside ``embedding_topk_bruteforce``'s dense half.

    The scoring SQL is ONE shared string both engines execute (see
    ``_BM25_BODY``): rational idf in place of the non-bit-portable
    ln(), fixed-order pivoted term sums, top-k before ranking. Plan:
    tf filters to the query terms BEFORE aggregating (the corpus-wide
    explode feeds dl anyway — one scan, two branch aggregates), idf
    and avgdl are scalar/3-row broadcasts, and the final top-k is
    TakeOrdered (no global window over the corpus).
    """
    d = t(spark, sf_dir, "documents")
    d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "token"
        ),
    ).createOrReplaceTempView("tok")
    return spark.sql("WITH " + _BM25_BODY)


# ---------------------------------------------------------------------------
# Bigram language-model counts (next-word distribution).
# ---------------------------------------------------------------------------
@query(
    "bigram_next_word",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ),
    bigrams AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM toks, LATERAL unnest(range(1, len(toks))) t(i)
    ),
    counts AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
      FROM bigrams GROUP BY w1, w2
    ),
    totals AS (
      SELECT w1, CAST(SUM(n) AS BIGINT) AS n_w1 FROM counts GROUP BY w1
    )
    SELECT c.w1, c.w2, c.n, t.n_w1,
           CAST(c.n AS DOUBLE) / CAST(t.n_w1 AS DOUBLE) AS p_next,
           CAST(rn AS INT) AS rank
    FROM (
      SELECT w1, w2, n,
             row_number() OVER (PARTITION BY w1
                                ORDER BY n DESC, w2) AS rn
      FROM counts
    ) c JOIN totals t ON c.w1 = t.w1
    WHERE rn <= 3
    """,
)
def bigram_next_word(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram model: for every word, its top-3 next words with
    exact conditional probabilities — the n-gram statistic under
    classic LM training, data-quality heuristics (predictability of
    text), and tokenizer-merge analyses.

    Bigrams come from a shifted-array ``zip_with`` (rule 6: no
    re-derived lambdas, one narrow pass per document, no self-join).
    Counts are exact integers; the conditional probability is ONE
    int/int IEEE division, so ranking and values cross-engine match.
    Plan: explode → two keyed aggregates (the second reuses the first's
    w1 partitioning) → per-key top-3 via a ranked window.
    """
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    bigrams = d.select(
        F.explode(
            F.zip_with(
                toks,
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    # zip_with pads the shorter (shifted) array with NULL — the last
    # token of every document has no successor; drop those pairs
    bigrams = bigrams.filter(F.col("w2").isNotNull())
    counts = bigrams.groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("n")
    )
    totals = counts.groupBy("w1").agg(F.sum("n").cast("bigint").alias("n_w1"))
    w = W.partitionBy("w1").orderBy(F.col("n").desc(), "w2")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .join(totals, "w1")
        .select(
            "w1",
            "w2",
            "n",
            "n_w1",
            (F.col("n").cast("double") / F.col("n_w1").cast("double")).alias(
                "p_next"
            ),
            F.col("rn").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# LM-perplexity-style quality filter: quantized bigram surprisal.
# ---------------------------------------------------------------------------
#: per-doc average surprisal (bits/bigram) above HIGH = improbable,
#: garbled, or out-of-domain text (the CCNet "high perplexity" drop
#: tail); below LOW = near-deterministic/boilerplate. Like C4's
#: quality constants these are corpus-calibration parameters, re-fit
#: per corpus: the synthetic corpus distributes avg_bits in
#: ~[4.17, 4.90] (p5 4.37 / median 4.52 / p95 4.65 at sf0.01), so the
#: cuts sit at its 5% tails — each flag fires on a real slice.
SURPRISAL_HIGH_BITS = 4.64
SURPRISAL_LOW_BITS = 4.37


@query(
    "lm_surprisal_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM toks, LATERAL unnest(range(1, len(toks))) t(i)
    ),
    counts AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg GROUP BY w1, w2
    ),
    totals AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM counts GROUP BY w1
    ),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM counts
    ),
    scored AS (
      SELECT b.doc_id,
             CAST(length(bin(t.c1 + vocab.v))
                  - length(bin(c.c12 + 1)) AS BIGINT) AS bits
      FROM bg b
      JOIN counts c ON b.w1 = c.w1 AND b.w2 = c.w2
      JOIN totals t ON b.w1 = t.w1
      CROSS JOIN vocab
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(bits) AS BIGINT) AS total_bits
      FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(p.total_bits, 0) AS BIGINT) AS total_bits,
           CAST(p.total_bits AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)
             AS avg_bits,
           coalesce(CAST(p.total_bits AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)
                    > {SURPRISAL_HIGH_BITS}, FALSE) AS is_high_surprisal,
           coalesce(CAST(p.total_bits AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)
                    < {SURPRISAL_LOW_BITS}, FALSE) AS is_low_surprisal
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def lm_surprisal_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity quality filter, transcendental-free: per document
    the average QUANTIZED bigram surprisal under an add-one-smoothed
    corpus bigram model — the CCNet/KenLM perplexity gate restated so
    both engines hash-match bit for bit.

    Real perplexity needs log(); ln is not bit-identical across
    engines (the repo's no-transcendentals-in-gated-floats rule), so
    the surprisal of bigram (w1,w2) is quantized to whole bits via
    integer bit-lengths:

        bits = len(bin(c1 + V)) − len(bin(c12 + 1))
             = ⌊log2(c1+V)⌋ − ⌊log2(c12+1)⌋  ∈  log2((c1+V)/(c12+1)) ± 1

    — exact integer arithmetic (``bin()`` on both engines), summed
    exactly per doc; the only float is the final bigint/bigint
    division. High average bits = text the corpus LM finds improbable
    (garbled/out-of-domain, the filter's drop tail); very low bits =
    near-deterministic boilerplate. Every document gets a row (0
    bigrams → NULL avg, flags false).

    Scale: bigram extraction (shifted-array zip_with, no self-join)
    runs ONCE — the per-doc (doc_id, w1, w2, n) count frame is
    localCheckpointed and feeds both the model aggregates and the
    scoring join (round-10 ADVICE: un-checkpointed, the corpus explode
    re-executed for scoring). The checkpointed frame is bounded by the
    corpus token count (distinct bigram types per doc), distributed
    across executors like every other per-doc checkpoint here. Model
    tables are two keyed aggregates with map-side partials; scoring
    re-joins on (w1,w2) and w1 — corpus-linear shuffles on
    uniformly-hashed token keys, vocabulary broadcast as one row. No
    per-doc state exceeds its own bigram list; nothing is
    corpus-quadratic. The model/score core is factored out
    (:func:`lm_surprisal_surface`) so the streaming maintenance twin
    re-derives the identical surface from its bigram-count store.
    """
    from ..queries.dedup import _spread_small_scan

    d = t(spark, sf_dir, "documents")
    dbg = doc_bigram_counts(
        _spread_small_scan(spark, sf_dir, d)
    ).localCheckpoint(eager=False)
    return lm_surprisal_surface(d.select("doc_id"), dbg)


def doc_bigram_counts(docs: DataFrame) -> DataFrame:
    """Per-document bigram TYPE counts ``(doc_id, w1, w2, n)`` from
    whitespace tokenization — the sufficient statistic for the
    surprisal model AND readout (counts aggregate to the corpus model;
    ``n``-weighted bits aggregate to doc scores). One narrow explode +
    one map-side-combinable aggregate; rows bounded by corpus tokens."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    bg = (
        docs.select(
            "doc_id",
            F.explode(
                F.zip_with(
                    toks,
                    F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
        .filter(F.col("w2").isNotNull())
    )
    return bg.groupBy("doc_id", "w1", "w2").agg(
        F.count("*").cast("bigint").alias("n")
    )


def lm_surprisal_surface(doc_ids: DataFrame, dbg: DataFrame) -> DataFrame:
    """The surprisal model + readout over a per-doc bigram-count frame
    ``dbg`` (``doc_id, w1, w2, n``) — shared verbatim by the batch
    query and the streaming twin's store readout so the two surfaces
    cannot drift. ``doc_ids`` supplies the every-doc-gets-a-row
    contract (0 bigrams → NULL avg, flags false)."""
    counts = dbg.groupBy("w1", "w2").agg(
        F.sum("n").cast("bigint").alias("c12")
    )
    totals = counts.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1")
    )
    vocab = counts.agg(
        F.countDistinct("w2").cast("bigint").alias("v")
    )
    scored = (
        dbg.join(counts, ["w1", "w2"])
        .join(totals, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "n",
            (
                F.col("n")
                * (
                    F.length(F.bin(F.col("c1") + F.col("v")))
                    - F.length(F.bin(F.col("c12") + 1))
                )
            )
            .cast("bigint")
            .alias("bits"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("n_bigrams"),
        F.sum("bits").cast("bigint").alias("total_bits"),
    )
    avg = F.col("total_bits").cast("double") / F.col("n_bigrams").cast(
        "double"
    )
    return (
        doc_ids.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias(
                "n_bigrams"
            ),
            F.coalesce("total_bits", F.lit(0)).cast("bigint").alias(
                "total_bits"
            ),
            avg.alias("avg_bits"),
            F.coalesce(avg > SURPRISAL_HIGH_BITS, F.lit(False)).alias(
                "is_high_surprisal"
            ),
            F.coalesce(avg < SURPRISAL_LOW_BITS, F.lit(False)).alias(
                "is_low_surprisal"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Feature hashing (the hashing trick) — fixed-width sparse featurization.
# ---------------------------------------------------------------------------
#: hashed feature-vector width (buckets).
N_HASH_FEATURES = 32


@query(
    "feature_hashing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
               AS token
      FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1)
             * 16
             + (strpos('0123456789abcdef', substr(md5(token), 2, 1)) - 1)
               AS h256,
             CASE WHEN (strpos('0123456789abcdef', substr(md5(token), 3, 1)) - 1) % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM tok
    )
    SELECT doc_id,
           CAST(h256 % {N_HASH_FEATURES} AS INT) AS feature,
           CAST(SUM(sgn) AS BIGINT) AS weight
    FROM hashed
    GROUP BY doc_id, h256 % {N_HASH_FEATURES}
    HAVING SUM(sgn) <> 0
    """,
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: every token maps to one of
    {N_HASH_FEATURES} feature buckets by md5, with a second hash bit
    choosing ±1 so collisions cancel in expectation — fixed-width
    sparse features from unbounded vocabulary with NO dictionary to
    build, ship, or version.

    That dictionary-freeness is the 100 TB draw: featurization is a
    stateless narrow map (one scan, one keyed aggregate), identical
    for any shard, any day, any new vocabulary — nothing to broadcast
    and no OOV path. Hash bits come from md5 hex digits via integer
    arithmetic (engine-neutral, rule 4); weights are exact integer
    sums. Zero-weight buckets are dropped on both sides (a sparse
    vector's contract).
    """
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "token"
        ),
    )
    hexpos = "0123456789abcdef"
    h1 = F.expr(f"(instr('{hexpos}', substr(md5(token), 1, 1)) - 1)")
    h2 = F.expr(f"(instr('{hexpos}', substr(md5(token), 2, 1)) - 1)")
    h3 = F.expr(f"(instr('{hexpos}', substr(md5(token), 3, 1)) - 1)")
    hashed = tok.select(
        "doc_id",
        ((h1 * 16 + h2) % N_HASH_FEATURES).cast("int").alias("feature"),
        F.when(h3 % 2 == 0, 1).otherwise(-1).alias("sgn"),
    )
    return (
        hashed.groupBy("doc_id", "feature")
        .agg(F.sum("sgn").cast("bigint").alias("weight"))
        .filter(F.col("weight") != 0)
    )


# ---------------------------------------------------------------------------
# χ² token–class association (feature selection for classifiers).
# ---------------------------------------------------------------------------
@query(
    "chi2_token_lang",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, lang,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
               AS token
      FROM documents
    ),
    n_docs AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tok),
    cells AS (
      SELECT token, lang,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS a
      FROM tok GROUP BY token, lang
    ),
    tot AS (
      SELECT token, CAST(SUM(a) AS BIGINT) AS t_tok FROM cells GROUP BY token
    ),
    ltot AS (
      SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS t_lang
      FROM tok GROUP BY lang
    ),
    counts AS (
      SELECT c.token, c.lang, c.a,
             t.t_tok - c.a AS b,
             l.t_lang - c.a AS cc,
             n.n - t.t_tok - l.t_lang + c.a AS d,
             n.n
      FROM cells c
      JOIN tot t ON c.token = t.token
      JOIN ltot l ON c.lang = l.lang, n_docs n
    )
    SELECT token, lang, a AS n_docs_with,
           CAST(CAST(n AS DECIMAL(38,0))
                * CAST(a * d - b * cc AS DECIMAL(38,0))
                * CAST(a * d - b * cc AS DECIMAL(38,0)) AS DOUBLE)
           / CAST(CAST((a + b) AS DECIMAL(38,0))
                  * CAST((cc + d) AS DECIMAL(38,0))
                  * CAST((a + cc) AS DECIMAL(38,0))
                  * CAST((b + d) AS DECIMAL(38,0)) AS DOUBLE) AS chi2
    FROM counts
    WHERE (a + b) > 0 AND (cc + d) > 0 AND (a + cc) > 0 AND (b + d) > 0
    """,
)
def chi2_token_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² association between token presence and document language —
    the feature-selection statistic a classifier pipeline computes to
    pick vocabulary before training (which tokens PREDICT the class).

    Exactness through the 2×2 table: cell counts a/b/c/d are exact
    integers; the χ² numerator n·(ad−bc)² and the marginal-product
    denominator are computed in DECIMAL(38,0) — they overflow int64
    (counts² × n can pass 1e20) but fixed-point multiplication is
    exact — then each side rounds ONCE to double and one IEEE
    division lands the statistic bit-identically in both engines.
    Plan: one distinct-presence explode, three keyed aggregates, all
    joined back on token/lang; the marginals are vocabulary-sized.
    """
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "token"
        ),
    ).distinct()
    n_docs = tok.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n")
    )
    cells = tok.groupBy("token", "lang").agg(
        F.countDistinct("doc_id").cast("bigint").alias("a")
    )
    tot = cells.groupBy("token").agg(F.sum("a").cast("bigint").alias("t_tok"))
    ltot = (
        tok.select("doc_id", "lang")
        .distinct()
        .groupBy("lang")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("t_lang"))
    )
    c = (
        cells.join(tot, "token")
        .join(ltot, "lang")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "lang",
            "a",
            (F.col("t_tok") - F.col("a")).alias("b"),
            (F.col("t_lang") - F.col("a")).alias("cc"),
            (F.col("n") - F.col("t_tok") - F.col("t_lang") + F.col("a")).alias(
                "d"
            ),
            "n",
        )
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    det = F.col("a") * F.col("d") - F.col("b") * F.col("cc")
    num = dec(F.col("n")) * dec(det) * dec(det)
    den = (
        dec(F.col("a") + F.col("b"))
        * dec(F.col("cc") + F.col("d"))
        * dec(F.col("a") + F.col("cc"))
        * dec(F.col("b") + F.col("d"))
    )
    return (
        c.filter(
            ((F.col("a") + F.col("b")) > 0)
            & ((F.col("cc") + F.col("d")) > 0)
            & ((F.col("a") + F.col("cc")) > 0)
            & ((F.col("b") + F.col("d")) > 0)
        )
        .select(
            "token",
            "lang",
            F.col("a").alias("n_docs_with"),
            (num.cast("double") / den.cast("double")).alias("chi2"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS): guaranteed-coverage robust hashing.
# ---------------------------------------------------------------------------
#: winnowing window (in 3-gram positions): every run of WINNOW_W
#: consecutive k-grams contributes at least one fingerprint, so any
#: shared substring of >= WINNOW_W + 2 tokens is GUARANTEED to share a
#: fingerprint — the detection floor MinHash can only promise
#: probabilistically. Density is ~2/(WINNOW_W+1) of all k-grams.
WINNOW_W = 4

#: the winnowing fingerprint set as a reusable DuckDB CTE body:
#: ``SELECT DISTINCT doc_id, fp_pos, fp_hash`` over ``documents``.
#: Shared by ``winnowing_fingerprints`` and the alignment-invariant
#: substring-dup audit (``dedup.substring_dup_unaligned``).
WINNOW_ORACLE_CORE = f"""
    WITH n AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
      FROM documents
    ),
    tok AS (
      SELECT doc_id, string_split(norm, ' ') AS toks FROM n
    ),
    g AS (
      SELECT doc_id, pos,
             md5(toks[pos] || ' ' || toks[pos + 1] || ' ' || toks[pos + 2])
               || lpad(CAST(999999 - pos AS VARCHAR), 6, '0') AS key
      FROM (SELECT doc_id, toks,
                   unnest(range(1, len(toks) - 1)) AS pos
            FROM tok)
    ),
    win AS (
      SELECT doc_id,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {WINNOW_W - 1} FOLLOWING) AS wkey,
             count(*) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {WINNOW_W - 1} FOLLOWING) AS cnt
      FROM g
    )
    SELECT DISTINCT doc_id,
           CAST(999999 - CAST(substr(wkey, 33, 6) AS INTEGER) AS BIGINT)
             AS fp_pos,
           substr(wkey, 1, 32) AS fp_hash
    FROM win WHERE cnt = {WINNOW_W}
"""


def positional_gram_hashes(d: DataFrame) -> DataFrame:
    """``(doc_id, pos, h)``: the md5 of each 1-based positional 3-token
    gram of the whitespace-normalized text — the positional gram table
    winnowing selects from and the longest-shared-run diagonal scan
    matches on. Shifted ``zip_with`` construction (no indexed lambdas —
    no CSE in higher-order functions, see ``dedup._shingles``)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    toks = F.split(norm, " ")
    s12 = F.zip_with(
        toks,
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    grams = F.zip_with(
        s12,
        F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda xy, z: F.when(z.isNotNull(), F.concat_ws(" ", xy, z)),
    )
    return d.select(
        "doc_id", F.posexplode(F.filter(grams, lambda s: s.isNotNull()))
    ).select(
        "doc_id",
        (F.col("pos") + 1).alias("pos"),
        F.md5("col").alias("h"),
    )


def winnow_fp_set(d: DataFrame) -> DataFrame:
    """The winnowing fingerprint set of ``documents`` frame ``d``:
    distinct ``(doc_id, fp_pos, fp_hash)``, fp = the minimal 3-gram
    md5 of every {WINNOW_W}-window (ties to the rightmost position).

    Content-defined anchoring: the selected positions depend only on
    the LOCAL token content, never on absolute offsets, so two copies
    of the same passage select the same fingerprints regardless of
    where each copy sits in its document — the alignment invariance
    the strided byte scans lack. Shared Spark-side core of
    ``winnowing_fingerprints`` and ``dedup.substring_dup_unaligned``.
    """
    g = positional_gram_hashes(d).select(
        "doc_id",
        "pos",
        F.concat(
            F.col("h"),
            F.lpad((F.lit(999999) - F.col("pos")).cast("string"), 6, "0"),
        ).alias("key"),
    )
    win = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    sel = g.select(
        "doc_id",
        F.min("key").over(win).alias("wkey"),
        F.count("*").over(win).alias("cnt"),
    ).filter(F.col("cnt") == WINNOW_W)
    return sel.select(
        "doc_id",
        (
            F.lit(999999) - F.substring("wkey", 33, 6).cast("int")
        ).cast("bigint").alias("fp_pos"),
        F.substring("wkey", 1, 32).alias("fp_hash"),
    ).distinct()


@query("winnowing_fingerprints", oracle=WINNOW_ORACLE_CORE)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (the MOSS algorithm): per document, the minimal
    3-gram hash of every {WINNOW_W}-window of consecutive positions,
    ties broken to the RIGHTMOST position — the robust fingerprint set
    whose guarantee exact dedup lacks and MinHash only approximates:
    any shared run of ≥ {WINNOW_W}+2 tokens between two documents
    SHARES a fingerprint, deterministically.

    Cross-engine determinism trick: "minimal hash, rightmost position"
    is restated as a plain string MIN over ``md5(shingle) ||
    lpad(999999 - pos)`` — md5 hex is fixed-width, so the
    lexicographic min is (hash asc, pos desc), no engine-specific
    arg_min tie-break anywhere. Plan: one narrow projection builds
    positional shingle hashes (shifted ``zip_with``, never indexed
    lambdas — no CSE in higher-order functions), one window pass
    selects, one aggregate dedups; work is linear in corpus tokens,
    and the window is partition-local — fingerprinting shards
    perfectly at 100 TB.
    """
    from .dedup import _spread_small_scan

    # spread the (one-split) scan so the gram explode+md5 runs on
    # every core; the winnow window and the trailing distinct both
    # reuse the doc_id partitioning — same exchange count
    return winnow_fp_set(
        _spread_small_scan(spark, sf_dir, t(spark, sf_dir, "documents"))
    )


# ---------------------------------------------------------------------------
# Positional-index phrase search.
# ---------------------------------------------------------------------------
@query(
    "phrase_search_positional",
    oracle="""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    tri AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
             )) AS phrase
      FROM tok
    ),
    top5 AS (
      SELECT phrase FROM (
        SELECT phrase,
               row_number() OVER (ORDER BY COUNT(*) DESC, phrase) AS rn
        FROM tri GROUP BY phrase
      ) WHERE rn <= 5
    )
    SELECT t.phrase,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs
    FROM tri t JOIN top5 USING (phrase)
    GROUP BY t.phrase
    """,
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search through a POSITIONAL inverted index: the
    corpus' 5 most frequent 3-token phrases, with occurrence and
    document frequencies, found by joining (token, position) postings
    — token₁ at p ⋈ token₂ at p+1 ⋈ token₃ at p+2 — never by
    re-scanning text.

    This is the retrieval half ``bm25_topk`` doesn't cover: BM25 ranks
    by bag-of-words weight; phrase queries need positions. The posting
    list (doc_id, pos, token) is the materialization a search layer
    over a 100 TB corpus actually stores (partitioned by token — each
    phrase probe touches only its terms' postings, the adjacency join
    is an equi-join on (doc, pos+offset), and document text is never
    read at query time). The probe set is derived from the corpus
    itself (top-5 by instance count, ties by phrase) to keep the query
    self-contained and the oracle exact.
    """
    d = t(spark, sf_dir, "documents")
    post = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias(
            "pos", "token"
        ),
    )
    p1, p2, p3 = post.alias("p1"), post.alias("p2"), post.alias("p3")
    tri = (
        p1.join(
            p2,
            (F.col("p1.doc_id") == F.col("p2.doc_id"))
            & (F.col("p2.pos") == F.col("p1.pos") + 1),
        )
        .join(
            p3,
            (F.col("p1.doc_id") == F.col("p3.doc_id"))
            & (F.col("p3.pos") == F.col("p1.pos") + 2),
        )
        .select(
            F.col("p1.doc_id").alias("doc_id"),
            F.concat_ws(
                " ", F.col("p1.token"), F.col("p2.token"), F.col("p3.token")
            ).alias("phrase"),
        )
    )
    top5 = (
        tri.groupBy("phrase")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "phrase")
        .limit(5)  # TakeOrdered, not a phrase-grain global window
        .select("phrase")
    )
    return (
        tri.join(F.broadcast(top5), "phrase")
        .groupBy("phrase")
        .agg(
            F.count("*").cast("bigint").alias("n_hits"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Skip-gram co-occurrence with exact PMI-style lift.
# ---------------------------------------------------------------------------
@query(
    "skipgram_cooccurrence",
    oracle="""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    post AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks
      FROM tok
    ),
    p AS (SELECT doc_id, pos, toks[pos] AS token FROM post),
    pairs AS (
      SELECT a.token AS w_token, b.token AS c_token,
             CAST(COUNT(*) AS BIGINT) AS pair_cnt
      FROM p a JOIN p b
        ON a.doc_id = b.doc_id
       AND b.pos BETWEEN a.pos + 1 AND a.pos + 2
      GROUP BY 1, 2
    ),
    wc AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM p GROUP BY token
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM p)
    SELECT w_token, c_token, pair_cnt,
           w.cnt AS w_cnt, c.cnt AS c_cnt,
           CAST(pair_cnt * n.total AS DOUBLE)
             / CAST(w.cnt * c.cnt AS DOUBLE) AS lift
    FROM pairs
    JOIN wc w ON w.token = w_token
    JOIN wc c ON c.token = c_token
    CROSS JOIN n
    ORDER BY pair_cnt DESC, w_token, c_token
    LIMIT 20
    """,
)
def skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts (forward window of 2 positions)
    with a PMI-style lift score — the counting pass under word-vector
    pretraining (word2vec SGNS trains on exactly these (word, context)
    pairs) and the standard collocation detector for corpus QA
    (template boilerplate shows up as lift ≫ 1 pairs).

    Lift = P(w,c)/(P(w)·P(c)) restated as ONE division of exact
    integer products (pair_cnt·N / w_cnt·c_cnt — both < 2⁵³, and a
    single IEEE division is bit-identical across engines); the STATUS
    rule that log()/PMI-proper never appears in a gated float. Ranking
    is by the integer pair count, never the float. Plan: the pair
    generation is a positional-posting self-join on (doc, pos-range) —
    shuffle on doc_id, window bounded at 2, so pairs are ≤ 2N rows,
    linear in the corpus; the count tables are map-side-combinable
    aggregates, and the vocabulary joins are key-partitioned (a
    token-count table is vocabulary-sized — unbounded at 100 TB — so
    no broadcast HINT; AQE still broadcasts at runtime when the
    measured side is small, as it is here).
    """
    d = t(spark, sf_dir, "documents")
    post = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias(
            "pos", "token"
        ),
    )
    a, b = post.alias("a"), post.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") >= F.col("a.pos") + 1)
            & (F.col("b.pos") <= F.col("a.pos") + 2),
        )
        .groupBy(
            F.col("a.token").alias("w_token"), F.col("b.token").alias("c_token")
        )
        .agg(F.count("*").cast("bigint").alias("pair_cnt"))
    )
    wc = post.groupBy("token").agg(F.count("*").cast("bigint").alias("cnt"))
    n = post.agg(F.count("*").cast("bigint").alias("total"))
    # vocabulary sides join WITHOUT a broadcast hint: token-count
    # tables are corpus-vocabulary-sized (unbounded at 100 TB), so the
    # safe default is a key-partitioned join — AQE still converts to
    # broadcast at runtime whenever the measured side is small (as it
    # is here)
    return (
        pairs.join(
            wc.select(F.col("token").alias("w_token"),
                      F.col("cnt").alias("w_cnt")),
            "w_token",
        )
        .join(
            wc.select(F.col("token").alias("c_token"),
                      F.col("cnt").alias("c_cnt")),
            "c_token",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "w_token",
            "c_token",
            "pair_cnt",
            "w_cnt",
            "c_cnt",
            (
                (F.col("pair_cnt") * F.col("total")).cast("double")
                / (F.col("w_cnt") * F.col("c_cnt")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.col("pair_cnt").desc(), "w_token", "c_token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# N-gram novelty: how much of each document is first-seen content.
# ---------------------------------------------------------------------------
@query(
    "ngram_novelty",
    oracle="""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
             ))) AS gram
      FROM tok WHERE len(toks) >= 3
    ),
    firsts AS (
      SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE f.first_doc = g.doc_id) AS BIGINT)
             AS n_novel,
           CAST(COUNT(*) FILTER (WHERE f.first_doc = g.doc_id) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM g JOIN firsts f ON f.gram = g.gram
    GROUP BY g.doc_id
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct
    3-token shingles whose FIRST corpus occurrence (smallest doc_id
    carrying the gram) is the document itself. Low novelty = the
    document restates earlier corpus content — the memorization-risk /
    boilerplate signal curation teams threshold on between full
    near-dup passes (it catches partial recombination that whole-doc
    MinHash misses, at one groupBy instead of an LSH pipeline).

    Exactness: counts are integers; the one float is a single IEEE
    division. "First" is defined by doc_id order — a deterministic
    total order both engines share (in production: ingest timestamp).
    Plan: one gram explode, one groupBy(gram) for the first-occurrence
    table (map-side combinable MIN), one re-join on gram — linear,
    shuffle keyed on the gram, the same shape as ``term_doc_frequency``.
    """
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    tk = F.col("toks")
    tri = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(tk, i),
                F.element_at(tk, i + 1),
                F.element_at(tk, i + 2),
            ),
        )
    )
    g = (
        d.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", F.explode(tri).alias("gram"))
    )
    firsts = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        g.join(firsts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
            .cast("bigint")
            .alias("n_novel"),
            (
                F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
                .cast("double")
                / F.count("*").cast("double")
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer training (iterative pair-merge learning).
# ---------------------------------------------------------------------------
#: merge rounds learned by bpe_train_merges — fixed for determinism
#: (like the kmeans fits); production dial is vocab-size driven.
BPE_ROUNDS = 6


def _bpe_apply_merge(syms: F.Column, left: str, right: str) -> F.Column:
    """One BPE merge applied to a symbol array, greedy left-to-right,
    as an in-row ``aggregate`` fold (JVM-side, no Python): scan the
    symbols, and whenever the accumulator's last element is ``left``
    and the incoming one is ``right``, replace the last element with
    the merged symbol. Because the merged symbol is strictly longer
    than ``left``, a fresh merge can never chain onto itself — this is
    exactly the non-overlapping leftmost-first semantics of reference
    BPE (Sennrich et al. 2016, public)."""
    merged = left + right
    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_train_pinned_oracle() -> str:
    from .pinned_oracles import bpe_train_oracle

    return bpe_train_oracle()


@query("bpe_train_merges", oracle=_bpe_train_pinned_oracle)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARN a BPE merge table from the corpus — the training half of
    the tokenizer (``bpe_style_token_count`` is the inference half):
    {BPE_ROUNDS} rounds of count-all-adjacent-symbol-pairs → take the
    argmax pair → apply the merge everywhere.

    Distribution shape (the part that matters at 100 TB): the working
    set after the first aggregation is the UNIQUE-WORD table with
    frequencies — vocabulary-sized, not corpus-sized — so each round is
    one explode+groupBy over the vocabulary, plus a 1-ROW driver
    collect (the argmax pair; same k-row discipline as the kmeans
    centroid reads). Merge application is an in-row JVM array fold —
    no Python, no shuffle — and the vocabulary is localCheckpointed per
    round so expression depth stays constant.

    The oracle is a PINNED-VALUES table (``pinned_oracles``): the
    round-N argmax depends on round-N-1's merge — inherently iterative,
    no single SQL statement — so an independent pure-Python reference
    BPE recomputes the merge table per known corpus (fingerprint-keyed,
    loud on corpus regeneration). The same reference is bit-pinned in
    ``tests/test_bpe_training.py``, both merges and pair counts.

    Determinism: pair counts are exact integers; argmax ties break on
    (left, right) lexicographically.
    """
    d = t(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(
                F.split(
                    F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
                    " ",
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .withColumn("syms", F.split(F.col("word"), ""))
        .select("freq", "syms")
        # the INITIAL vocab checkpoint stays EAGER (its plan holds the
        # corpus-explode exchange; measured A/B showed the lazy form
        # costs more here — the AQE prefix executes at build time and
        # the final stage again at first use), while the LOOP
        # checkpoints below go lazy: a merged vocab is a narrow map
        # over these blocks, so each round's argmax collect
        # materializes it inline — one job per round instead of two.
        # Same values: the checkpoint is a lineage barrier either way.
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(1, BPE_ROUNDS + 1):
        pairs = words.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.col("syms"),
                    F.slice(
                        F.col("syms"),
                        2,
                        F.greatest(F.size("syms") - 1, F.lit(0)),
                    ),
                    lambda x, y: F.struct(x.alias("l"), y.alias("r")),
                )
            ).alias("p"),
        ).filter(F.col("p.r").isNotNull())
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            # scale-ok: 1-row argmax pair per BPE round (k-row discipline)
            .collect()
        )
        if not top:
            break
        left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merges.append((rnd, left, right, cnt))
        words = words.withColumn(
            "syms", _bpe_apply_merge(F.col("syms"), left, right)
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "round int, left string, right string, pair_count bigint"
    )


def _learned_merges(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    """The trained merge table, memoized per (session, sf_dir). BPE
    encoding needs the TRAINED artifact, not the training run — a
    production pipeline persists the merge table once and every encoder
    loads it. The artifact is ~BPE_ROUNDS tuples of short strings."""

    def train() -> list[tuple[str, str]]:
        return [
            (r["left"], r["right"])
            # scale-ok: BPE_ROUNDS merge rows — the trained artifact, not data
            for r in bpe_train_merges(spark, sf_dir).orderBy("round").collect()
        ]

    return session_memo(spark, ("bpe_merges", sf_dir), train)


def _bpe_apply_pinned_oracle() -> str:
    from .pinned_oracles import bpe_apply_oracle

    return bpe_apply_oracle()


@query("bpe_apply_learned", oracle=_bpe_apply_pinned_oracle)
def bpe_apply_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the merge table ``bpe_train_merges`` LEARNS to the corpus
    and report the resulting per-document token counts — the
    train→encode round trip of a real tokenizer pipeline (chars per
    word shrink monotonically as each merge lands; the compression
    ratio is the signal tokenizer teams actually track).

    Encoding is pure in-row JVM work: split to words, split words to
    chars, fold each learned merge through ``_bpe_apply_merge`` in
    learned order (BPE applies merges by RANK, so the fold order is the
    training order — Sennrich et al. 2016). The merge table is the
    session-cached trained ARTIFACT (``_learned_merges``) — trained
    once per (session, corpus) like a persisted tokenizer file, so
    repeated encodes never re-run the 6-round training pass; no corpus
    data crosses the driver either way. The chained fold is not
    SQL-expressible, so the oracle is a PINNED-VALUES table
    (``pinned_oracles.bpe_apply_oracle``): the reference encoder
    recomputes every document's counts per known corpus, fingerprint-
    keyed. Also bit-pinned live in ``tests/test_bpe_training.py``.
    """
    merges = _learned_merges(spark, sf_dir)
    d = t(spark, sf_dir, "documents")
    per_word = d.select(
        "doc_id",
        F.explode(
            F.split(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
                " ",
            )
        ).alias("word"),
    )
    # encode the VOCABULARY, not the word instances: BPE tokenization
    # is a pure function of the word, so the chained merge fold runs
    # over the distinct-word table (vocabulary-sized — the same
    # working-set collapse the trainer uses) and instances pick up
    # their token count by a join on the word. Folding per instance
    # measured ~4x the whole query's cost at sf0.1.
    vocab = per_word.select("word").distinct().withColumn(
        "syms", F.split(F.col("word"), "")
    )
    for left, right in merges:
        vocab = vocab.withColumn(
            "syms", _bpe_apply_merge(F.col("syms"), left, right)
        )
    vocab = vocab.select(
        "word",
        F.size("syms").alias("n_toks_word"),
        F.length("word").alias("n_chars_word"),
    )
    return (
        per_word.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_toks_word").cast("bigint").alias("n_bpe_tokens"),
            F.sum("n_chars_word").cast("bigint").alias("n_chars"),
        )
    )


# ---------------------------------------------------------------------------
# C4-style heuristic quality filters (Raffel et al. 2020, public).
# ---------------------------------------------------------------------------
@query(
    "c4_quality_filters",
    oracle=r"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
             CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT)
               AS n_word_chars,
             CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT)
               AS n_terminals,
             regexp_matches(text, '[.!?]"?\s*$') AS ends_terminal,
             NOT contains(text, '{') AS no_brace,
             NOT contains(lower(text), 'lorem ipsum') AS no_lorem
      FROM documents
    )
    SELECT doc_id, n_words, n_terminals, ends_terminal,
           n_terminals >= 3 AS has_3_sentences,
           no_brace, no_lorem,
           n_words >= 5 AND n_words <= 100000 AS word_count_ok,
           3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words
             AS mean_word_len_ok,
           ends_terminal AND n_terminals >= 3 AND no_brace AND no_lorem
             AND n_words >= 5 AND n_words <= 100000
             AND 3 * n_words <= n_word_chars
             AND n_word_chars <= 10 * n_words AS passes_c4
    FROM feats
    """,
)
def c4_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 heuristic filter bank (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning" §2.2, public): per-document booleans
    for the rules the C4 cleaning pass applies — ends in terminal
    punctuation, ≥3 sentences, no curly brace (code tell), no
    "lorem ipsum", word count in range, mean word length in [3,10] —
    plus the conjunction. Sits beside ``text_quality`` (ratio scores)
    and ``repetition_quality`` (Gopher rules) as the third public
    filter family a curation pipeline composes.

    Exactness: every feature is an exact integer count (regexp counts,
    char counts) or a substring test; the mean-word-length band is the
    integer cross-multiplication ``3·words ≤ chars ≤ 10·words`` — no
    float ever materializes. On this synthetic corpus the punctuation
    rules fail everywhere (the generator emits no sentence marks) —
    the point is the FILTER semantics, pinned cross-engine.

    Scale posture: embarrassingly parallel per-document row work,
    whole-stage codegen, no shuffle at all.
    """
    d = t(spark, sf_dir, "documents")
    n_words = F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("bigint")
    n_word_chars = F.length(
        F.regexp_replace(F.col("text"), r"\s", "")
    ).cast("bigint")
    n_terminals = F.regexp_count(F.col("text"), F.lit(r"[.!?]")).cast(
        "bigint"
    )
    ends_terminal = F.col("text").rlike(r'[.!?]"?\s*$')
    no_brace = ~F.col("text").contains("{")
    no_lorem = ~F.lower(F.col("text")).contains("lorem ipsum")
    feats = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_word_chars.alias("n_word_chars"),
        n_terminals.alias("n_terminals"),
        ends_terminal.alias("ends_terminal"),
        no_brace.alias("no_brace"),
        no_lorem.alias("no_lorem"),
    )
    word_count_ok = (F.col("n_words") >= 5) & (F.col("n_words") <= 100000)
    mean_len_ok = (3 * F.col("n_words") <= F.col("n_word_chars")) & (
        F.col("n_word_chars") <= 10 * F.col("n_words")
    )
    return feats.select(
        "doc_id",
        "n_words",
        "n_terminals",
        "ends_terminal",
        (F.col("n_terminals") >= 3).alias("has_3_sentences"),
        "no_brace",
        "no_lorem",
        word_count_ok.alias("word_count_ok"),
        mean_len_ok.alias("mean_word_len_ok"),
        (
            F.col("ends_terminal")
            & (F.col("n_terminals") >= 3)
            & F.col("no_brace")
            & F.col("no_lorem")
            & word_count_ok
            & mean_len_ok
        ).alias("passes_c4"),
    )


# ---------------------------------------------------------------------------
# Flesch reading ease (vowel-group syllable proxy).
# ---------------------------------------------------------------------------
@query(
    "flesch_reading_ease",
    oracle=r"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                  AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(206.835 AS DOUBLE)
             - CAST(1.015 AS DOUBLE) * (n_words / CAST(n_sentences AS DOUBLE))
             - CAST(84.6 AS DOUBLE) * (n_syllables / CAST(n_words AS DOUBLE))
             AS flesch_score
    FROM feats
    WHERE n_words > 0
    """,
)
def flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease (Flesch 1948, public) per document, with the
    standard regex syllable proxy (maximal vowel-group runs — the
    deterministic stand-in for dictionary syllabification every
    SQL-side readability probe uses). Readability joins length/ratio/
    repetition/C4 as a quality-scoring column a curation mix can gate
    or stratify on.

    Exactness discipline for a FLOAT formula: the three counts are
    exact bigints; the score is the identical expression tree in both
    engines — two IEEE divisions, two multiplications by double
    literals (the oracle CASTs its literals to DOUBLE because DuckDB
    types bare decimal literals as DECIMAL, whose arithmetic would
    diverge from Spark's double), three subtractions left-to-right.
    Same operands, same ops, same order → identical bits.
    Sentence count clamps to ≥1 (this corpus has no terminal
    punctuation; the clamp is the standard guard, not a fudge).

    Scale posture: pure per-row codegen, no shuffle.
    """
    d = t(spark, sf_dir, "documents")
    n_words = F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("bigint")
    n_sentences = F.greatest(
        F.lit(1).cast("bigint"),
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")).cast("bigint"),
    )
    n_syllables = F.regexp_count(
        F.lower(F.col("text")), F.lit(r"[aeiouy]+")
    ).cast("bigint")
    feats = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    return feats.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        (
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words") / F.col("n_sentences").cast("double"))
            - F.lit(84.6)
            * (F.col("n_syllables") / F.col("n_words").cast("double"))
        ).alias("flesch_score"),
    )


# ---------------------------------------------------------------------------
# Vocabulary growth curve (Heaps' law measurement, one pass).
# ---------------------------------------------------------------------------
@query(
    "vocab_growth_curve",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)),
                                         '\s+', ' ', 'g'), ' ')) AS tok
      FROM documents
    ),
    firsts AS (
      SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok
    ),
    doc_tokens AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks
      FROM toks GROUP BY doc_id
    ),
    per_doc AS (
      SELECT d.doc_id,
             SUM(d.n_toks) OVER (ORDER BY d.doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens,
             SUM(COALESCE(f.n_new, 0))
               OVER (ORDER BY d.doc_id ROWS UNBOUNDED PRECEDING)
               AS cum_vocab,
             row_number() OVER (ORDER BY d.doc_id) AS rn,
             COUNT(*) OVER () AS n_docs
      FROM doc_tokens d
      LEFT JOIN (
        SELECT first_doc, CAST(COUNT(*) AS BIGINT) AS n_new
        FROM firsts GROUP BY first_doc
      ) f ON d.doc_id = f.first_doc
    )
    SELECT CAST((10 * rn) / n_docs AS INT) AS decile,
           CAST(MAX(cum_tokens) AS BIGINT) AS cum_tokens,
           CAST(MAX(cum_vocab) AS BIGINT) AS cum_vocab
    FROM per_doc
    WHERE (10 * rn) % n_docs = 0
    GROUP BY (10 * rn) / n_docs
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (the Heaps'-law measurement, public):
    cumulative distinct-token count vs cumulative token count at each
    corpus decile, reading the corpus in doc_id order. A flattening
    curve says the crawl is exhausting its domain (diminishing novel
    content — the signal that triggers source rotation); a linear one
    says the corpus is still young.

    The one-pass trick is the point: instead of K prefix scans with K
    ``COUNT(DISTINCT)``s (the naive shape — K full shuffles of the
    token stream), each token maps to its FIRST-occurrence doc
    (one groupBy), and the running vocabulary size is the cumulative
    sum of first-occurrence counts by doc — vocabulary at ANY prefix
    from one aggregation, exactly (not a sketch). Checkpoint rows land
    exactly where rank·10/n is integral, so engines agree on cut
    placement by integer arithmetic.

    Scale posture: two token-grain shuffles total (first-occurrence
    groupBy, per-doc counts), then ONE two-phase range shuffle for all
    three doc-grain running totals (``global_cumsum_multi``) — no
    single-partition WindowExec anywhere.
    """
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.split(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
                " ",
            )
        ).alias("tok"),
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    new_per_doc = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").cast("bigint").alias("n_new")
    )
    doc_tokens = toks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_toks")
    )
    from ..operators.global_order import global_cumsum_multi

    base = doc_tokens.join(new_per_doc, "doc_id", "left")
    # two-phase: all three running totals (tokens, vocab, row number =
    # cumsum of 1) share ONE range shuffle — no single-partition window
    cum = global_cumsum_multi(
        base,
        ["doc_id"],
        {
            "cum_tokens": "n_toks",
            "cum_vocab": F.coalesce("n_new", F.lit(0)),
            "rn": F.lit(1),
        },
    )
    tot = base.agg(F.count("*").cast("bigint").alias("n_docs"))
    per_doc = cum.crossJoin(F.broadcast(tot))
    return (
        per_doc.filter((10 * F.col("rn")) % F.col("n_docs") == 0)
        .groupBy(
            ((10 * F.col("rn")) / F.col("n_docs"))
            .cast("int")
            .alias("decile")
        )
        .agg(
            F.max("cum_tokens").cast("bigint").alias("cum_tokens"),
            F.max("cum_vocab").cast("bigint").alias("cum_vocab"),
        )
    )


# ---------------------------------------------------------------------------
# Per-source quality scorecard (the curation ops dashboard row).
# ---------------------------------------------------------------------------
@query(
    "source_quality_scorecard",
    oracle=r"""
    WITH feats AS (
      SELECT source, lang, n_chars,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
             CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT)
               AS n_word_chars,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(CASE WHEN 3 * n_words <= n_word_chars
                          AND n_word_chars <= 10 * n_words
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
           CAST(COUNT(*) - COUNT(DISTINCT fp) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS exact_dup_rate,
           CAST(SUM(n_words) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mean_words
    FROM feats GROUP BY source
    """,
)
def source_quality_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation scorecard: volume, language spread, exact-
    duplicate rate (via content fingerprint), mean-word-length pass
    share, and mean document length — the one-row-per-source dashboard
    a crawl operator reads before deciding which feeds to throttle
    (the composition layer over ``exact_dedup`` / ``c4_quality_filters``
    signals, aggregated to the operational grain).

    Exactness: counts, distincts, and the integer mean-word-length
    band are exact; the two rates are IEEE divisions of exact bigints.

    Scale posture: per-row feature extraction in codegen, ONE shuffle
    to the source grain; the distinct-fingerprint count rides the same
    aggregate (Spark plans the multi-distinct via Expand — no second
    scan).
    """
    d = t(spark, sf_dir, "documents")
    feats = d.select(
        "source",
        "lang",
        "n_chars",
        F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("bigint").alias(
            "n_words"
        ),
        F.length(F.regexp_replace(F.col("text"), r"\s", ""))
        .cast("bigint")
        .alias("n_word_chars"),
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("fp"),
    )
    return feats.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("fp").cast("bigint").alias("n_distinct_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum(
            F.when(
                (3 * F.col("n_words") <= F.col("n_word_chars"))
                & (F.col("n_word_chars") <= 10 * F.col("n_words")),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_len_ok"),
        (
            (F.count("*") - F.countDistinct("fp")).cast("double")
            / F.count("*").cast("double")
        ).alias("exact_dup_rate"),
        (
            F.sum("n_words").cast("double") / F.count("*").cast("double")
        ).alias("mean_words"),
    )


# ---------------------------------------------------------------------------
# Span-level surprisal localization: WHERE a doc is high-perplexity.
# ---------------------------------------------------------------------------
#: sliding-window width in bigrams for span localization — wide enough
#: to span a sentence-ish run, narrow enough to point at it. Docs with
#: fewer bigrams use their full length as the (single) window.
SURPRISAL_SPAN_WINDOW = 16


@query(
    "surprisal_span_localization",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS w1,
             toks[i + 1] AS w2
      FROM toks, LATERAL unnest(range(1, len(toks))) t(i)
    ),
    counts AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg GROUP BY w1, w2
    ),
    totals AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM counts GROUP BY w1
    ),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM counts
    ),
    pb AS (
      SELECT b.doc_id, b.pos,
             CAST(length(bin(t.c1 + vocab.v))
                  - length(bin(c.c12 + 1)) AS BIGINT) AS bits
      FROM bg b
      JOIN counts c ON b.w1 = c.w1 AND b.w2 = c.w2
      JOIN totals t ON b.w1 = t.w1
      CROSS JOIN vocab
    ),
    cum AS (
      SELECT doc_id, pos,
             CAST(SUM(bits) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_bits,
             CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT)
               AS n_bigrams
      FROM pb
    ),
    wins AS (
      SELECT e.doc_id, e.n_bigrams,
             LEAST({SURPRISAL_SPAN_WINDOW}, e.n_bigrams) AS win_len,
             e.pos - LEAST({SURPRISAL_SPAN_WINDOW}, e.n_bigrams) + 1
               AS win_start,
             e.cum_bits - COALESCE(p.cum_bits, 0) AS win_bits
      FROM cum e
      LEFT JOIN cum p
        ON p.doc_id = e.doc_id
       AND p.pos = e.pos - LEAST({SURPRISAL_SPAN_WINDOW}, e.n_bigrams)
      WHERE e.pos >= LEAST({SURPRISAL_SPAN_WINDOW}, e.n_bigrams)
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY win_bits DESC,
                                            win_start ASC) AS rn
      FROM wins
    )
    SELECT doc_id, n_bigrams,
           CAST(win_len AS BIGINT) AS win_len,
           CAST(win_start AS BIGINT) AS win_start,
           CAST(win_bits AS BIGINT) AS win_bits,
           CAST(win_bits AS DOUBLE) / CAST(win_len AS DOUBLE)
             AS win_avg_bits
    FROM best WHERE rn = 1
    """,
)
def surprisal_span_localization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE a document is improbable, not just THAT it is: the
    maximum-total-surprisal sliding window of
    {SURPRISAL_SPAN_WINDOW} consecutive bigrams per document (ties →
    earliest start), under the same quantized add-one-smoothed corpus
    bigram model as ``lm_surprisal_filter`` — the actionable version
    of the perplexity gate (a gate DROPS the doc; this names the span
    to TRIM, the same drop-vs-trim distinction ``longest_shared_run``
    draws for near-dup verdicts). Docs shorter than the window use
    their full bigram length as the single window; docs with zero
    bigrams have no span to localize and emit no row.

    Windowing is restated as cumulative-sum differences so both
    engines compute it identically with FIXED frames: win_bits(start)
    = cum[start+L−1] − cum[start−1], with the L-offset row attached by
    a doc-partitioned self-equi-join on (doc_id, pos−L) — no
    variable-width frame (which SQL window frames cannot express) and
    no per-row array building.

    Scale: bits per POSITION come from the same corpus-linear model
    joins as the filter (keyed aggregates, one-row vocabulary
    broadcast); everything after is partitioned BY doc_id — the
    cumulative window, the offset self-join, and the argmax
    row_number all run inside doc-grain partitions (bounded by doc
    length, never corpus-grain). Nothing is corpus-quadratic.
    """
    from ..queries.dedup import _spread_small_scan

    d = t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    pos_bg = (
        _spread_small_scan(spark, sf_dir, d)
        .select(
            "doc_id",
            F.posexplode(
                F.zip_with(
                    toks,
                    F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ),
        )
        .select(
            "doc_id",
            (F.col("pos") + 1).cast("bigint").alias("pos"),
            F.col("col.w1").alias("w1"),
            F.col("col.w2").alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        # feeds the model aggregates AND the scoring join — one pass
        .localCheckpoint(eager=False)
    )
    counts = pos_bg.groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("c12")
    )
    totals = counts.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1")
    )
    vocab = counts.agg(F.countDistinct("w2").cast("bigint").alias("v"))
    pb = (
        pos_bg.join(counts, ["w1", "w2"])
        .join(totals, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "pos",
            (
                F.length(F.bin(F.col("c1") + F.col("v")))
                - F.length(F.bin(F.col("c12") + 1))
            )
            .cast("bigint")
            .alias("bits"),
        )
    )
    wd = W.partitionBy("doc_id").orderBy("pos")
    cum = pb.select(
        "doc_id",
        "pos",
        F.sum("bits")
        .over(wd.rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_bits"),
        F.count("*")
        .over(W.partitionBy("doc_id"))
        .cast("bigint")
        .alias("n_bigrams"),
    ).localCheckpoint(eager=False)  # both self-join sides reuse one pass
    win_len = F.least(F.lit(SURPRISAL_SPAN_WINDOW), F.col("n_bigrams"))
    ends = cum.filter(F.col("pos") >= win_len).select(
        "doc_id",
        "n_bigrams",
        win_len.alias("win_len"),
        (F.col("pos") - win_len + 1).alias("win_start"),
        "pos",
        "cum_bits",
    )
    prev = cum.select(
        F.col("doc_id").alias("p_doc"),
        F.col("pos").alias("p_pos"),
        F.col("cum_bits").alias("p_cum"),
    )
    wins = ends.join(
        prev,
        (F.col("doc_id") == F.col("p_doc"))
        & (F.col("p_pos") == F.col("pos") - F.col("win_len")),
        "left",
    ).select(
        "doc_id",
        "n_bigrams",
        "win_len",
        "win_start",
        (F.col("cum_bits") - F.coalesce(F.col("p_cum"), F.lit(0))).alias(
            "win_bits"
        ),
    )
    best = wins.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(
                F.col("win_bits").desc(), F.col("win_start").asc()
            )
        ),
    ).filter(F.col("rn") == 1)
    return best.select(
        "doc_id",
        "n_bigrams",
        F.col("win_len").cast("bigint").alias("win_len"),
        F.col("win_start").cast("bigint").alias("win_start"),
        F.col("win_bits").cast("bigint").alias("win_bits"),
        (F.col("win_bits").cast("double") / F.col("win_len").cast("double"))
        .alias("win_avg_bits"),
    )


# ---------------------------------------------------------------------------
# Held-out trigram surprisal with stupid backoff (train-split model).
# ---------------------------------------------------------------------------
#: extra bits charged per backoff level (stupid backoff alpha = 0.5
#: per level, i.e. exactly one bit — integer, engine-exact).
BACKOFF_PENALTY_BITS = 1


def _heldout_oracle() -> str:
    from .profiling import TRAIN_PCT, _bucket_sql, _hex_val_duck

    return f"""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ),
    bg3 AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
      FROM toks, LATERAL unnest(range(1, len(toks) - 1)) t(i)
    ),
    sp AS (
      SELECT doc_id
      FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents)
      WHERE {_bucket_sql(_hex_val_duck)} < {TRAIN_PCT}
    ),
    tr AS (SELECT bg3.* FROM bg3 JOIN sp USING (doc_id)),
    c3 AS (
      SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c123
      FROM tr GROUP BY w1, w2, w3
    ),
    cx12 AS (
      SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS c12
      FROM c3 GROUP BY w1, w2
    ),
    b2 AS (
      SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS c23
      FROM tr GROUP BY w2, w3
    ),
    cx2 AS (
      SELECT w2, CAST(SUM(c23) AS BIGINT) AS c2 FROM b2 GROUP BY w2
    ),
    v AS (SELECT CAST(COUNT(DISTINCT w3) AS BIGINT) AS v FROM b2),
    scored AS (
      SELECT g.doc_id,
             CASE WHEN c3.c123 IS NOT NULL
                  THEN length(bin(cx12.c12)) - length(bin(c3.c123))
                  WHEN b2.c23 IS NOT NULL
                  THEN {BACKOFF_PENALTY_BITS}
                       + length(bin(cx2.c2)) - length(bin(b2.c23))
                  ELSE {2 * BACKOFF_PENALTY_BITS} + length(bin(v.v))
             END AS bits,
             CASE WHEN c3.c123 IS NULL AND b2.c23 IS NOT NULL
                  THEN 1 ELSE 0 END AS bo_bi,
             CASE WHEN c3.c123 IS NULL AND b2.c23 IS NULL
                  THEN 1 ELSE 0 END AS bo_uni
      FROM bg3 g
      LEFT JOIN c3 ON g.w1 = c3.w1 AND g.w2 = c3.w2 AND g.w3 = c3.w3
      LEFT JOIN cx12 ON g.w1 = cx12.w1 AND g.w2 = cx12.w2
      LEFT JOIN b2 ON g.w2 = b2.w2 AND g.w3 = b2.w3
      LEFT JOIN cx2 ON g.w2 = cx2.w2
      CROSS JOIN v
    ),
    pd AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_trigrams,
             CAST(SUM(bits) AS BIGINT) AS total_bits,
             CAST(SUM(bo_bi) AS BIGINT) AS n_backoff_bi,
             CAST(SUM(bo_uni) AS BIGINT) AS n_backoff_uni
      FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_trigrams, 0) AS BIGINT) AS n_trigrams,
           CAST(COALESCE(p.total_bits, 0) AS BIGINT) AS total_bits,
           CAST(p.total_bits AS DOUBLE) / CAST(p.n_trigrams AS DOUBLE)
             AS avg_bits,
           CAST(COALESCE(p.n_backoff_bi, 0) AS BIGINT) AS n_backoff_bi,
           CAST(COALESCE(p.n_backoff_uni, 0) AS BIGINT) AS n_backoff_uni
    FROM documents d LEFT JOIN pd p USING (doc_id)
    """


@query("lm_surprisal_heldout", oracle=_heldout_oracle())
def lm_surprisal_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT trigram surprisal with stupid backoff — the eval-shaped
    complement to ``lm_surprisal_filter`` (which scores the corpus
    under its own model, so nothing is ever unseen): the model is
    built ONLY from the deterministic train split (the
    ``train_test_split`` hash — same expression, splits cannot
    disagree), every document is scored against it, and trigrams the
    train split never saw BACK OFF — trigram → bigram (+1 bit, stupid
    backoff α=½) → uniform-over-vocab (+2 bits) — so val/test docs
    pay a measurable out-of-vocabulary cost. Quantized to whole bits
    via integer bit-lengths like the bigram filter (rule: no
    transcendentals in gated floats): seen trigram costs
    ⌊log2 c12⌋−⌊log2 c123⌋ bits, bigram fallback
    1+⌊log2 c2⌋−⌊log2 c23⌋, uniform 2+⌊log2 V⌋. The backoff
    counters per doc (n_backoff_bi / n_backoff_uni) are the
    actionable OOD signal — a doc scoring high through many uniform
    fallbacks is out-of-domain, one scoring high through seen
    trigrams is improbable-but-in-domain.

    Scale: one narrow trigram pass over the corpus (shifted-array
    zips, no self-join); the split is a pure function of doc_id (no
    split join); model tables are keyed aggregates with map-side
    partials; scoring is four LEFT equi-joins on token keys plus a
    one-row vocabulary broadcast — corpus-linear, nothing quadratic.
    Bigram-backoff counts are defined over trigram INSTANCES (each
    doc's last bigram carries no trigram), keeping every model table
    a pure aggregate of one extraction pass.
    """
    from .profiling import TRAIN_PCT, _bucket_sql, _hex_val_spark

    d = t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    pairs = F.zip_with(
        toks,
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    tris = F.zip_with(
        pairs,
        F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda p, c: F.struct(
            p["w1"].alias("w1"), p["w2"].alias("w2"), c.alias("w3")
        ),
    )
    from ..queries.dedup import _spread_small_scan

    bg3 = (
        _spread_small_scan(spark, sf_dir, d)
        .select("doc_id", F.explode(tris).alias("g"))
        .select("doc_id", "g.w1", "g.w2", "g.w3")
        .filter(F.col("w3").isNotNull())
        # the trigram explode feeds the train-split model subtree AND
        # the scoring join — materialize it once (round-12: the
        # un-checkpointed plan re-ran the explode per model table)
        .localCheckpoint(eager=False)
    )
    bucket = F.expr(
        _bucket_sql(_hex_val_spark, expr="md5(CAST(doc_id AS STRING))")
    )
    tr = bg3.filter(bucket < TRAIN_PCT)
    c3 = tr.groupBy("w1", "w2", "w3").agg(
        F.count("*").cast("bigint").alias("c123")
    )
    cx12 = c3.groupBy("w1", "w2").agg(
        F.sum("c123").cast("bigint").alias("c12")
    )
    # b2 rolls up from c3 instead of a second pass over the train
    # trigrams: trigram-instance counts grouped by (w2, w3) are exactly
    # Σ_w1 c123 (round-12; same "mergeable partials" algebra as cx12)
    b2 = c3.groupBy("w2", "w3").agg(
        F.sum("c123").cast("bigint").alias("c23")
    )
    cx2 = b2.groupBy("w2").agg(F.sum("c23").cast("bigint").alias("c2"))
    vocab = b2.agg(F.countDistinct("w3").cast("bigint").alias("v"))
    blen = lambda c: F.length(F.bin(c))  # noqa: E731 — ⌊log2⌋+1, exact
    bits = (
        F.when(
            F.col("c123").isNotNull(), blen(F.col("c12")) - blen(F.col("c123"))
        )
        .when(
            F.col("c23").isNotNull(),
            F.lit(BACKOFF_PENALTY_BITS)
            + blen(F.col("c2"))
            - blen(F.col("c23")),
        )
        .otherwise(F.lit(2 * BACKOFF_PENALTY_BITS) + blen(F.col("v")))
    )
    scored = (
        bg3.join(c3, ["w1", "w2", "w3"], "left")
        .join(cx12, ["w1", "w2"], "left")
        .join(b2, ["w2", "w3"], "left")
        .join(cx2, ["w2"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            bits.cast("bigint").alias("bits"),
            F.when(F.col("c123").isNull() & F.col("c23").isNotNull(), 1)
            .otherwise(0)
            .alias("bo_bi"),
            F.when(F.col("c123").isNull() & F.col("c23").isNull(), 1)
            .otherwise(0)
            .alias("bo_uni"),
        )
    )
    pd = scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_trigrams"),
        F.sum("bits").cast("bigint").alias("total_bits"),
        F.sum("bo_bi").cast("bigint").alias("n_backoff_bi"),
        F.sum("bo_uni").cast("bigint").alias("n_backoff_uni"),
    )
    avg = F.col("total_bits").cast("double") / F.col("n_trigrams").cast(
        "double"
    )
    return (
        d.select("doc_id")
        .join(pd, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_trigrams", F.lit(0)).cast("bigint").alias(
                "n_trigrams"
            ),
            F.coalesce("total_bits", F.lit(0)).cast("bigint").alias(
                "total_bits"
            ),
            avg.alias("avg_bits"),
            F.coalesce("n_backoff_bi", F.lit(0)).cast("bigint").alias(
                "n_backoff_bi"
            ),
            F.coalesce("n_backoff_uni", F.lit(0)).cast("bigint").alias(
                "n_backoff_uni"
            ),
        )
    )


def _oov_rate_oracle() -> str:
    return f"""
    WITH h AS ({_heldout_oracle()})
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(h.n_trigrams) AS BIGINT) AS n_trigrams,
           CAST(SUM(h.n_backoff_bi) AS BIGINT) AS n_backoff_bi,
           CAST(SUM(h.n_backoff_uni) AS BIGINT) AS n_backoff_uni,
           CASE WHEN SUM(h.n_trigrams) > 0
                THEN CAST(SUM(h.n_backoff_bi + h.n_backoff_uni) AS DOUBLE)
                     / CAST(SUM(h.n_trigrams) AS DOUBLE)
           END AS oov_rate,
           CASE WHEN SUM(h.n_trigrams) > 0
                THEN CAST(SUM(h.total_bits) AS DOUBLE)
                     / CAST(SUM(h.n_trigrams) AS DOUBLE)
           END AS avg_bits
    FROM h JOIN documents d ON h.doc_id = d.doc_id
    GROUP BY d.source
    """


@query("oov_rate_by_source", oracle=_oov_rate_oracle())
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary pressure under the held-out
    trigram model — the drift monitor a corpus intake pipeline reads
    per crawl/provenance: how often each source's trigrams back off
    (bigram + uniform fallbacks over total trigram scores) and its
    corpus-mass-weighted average surprisal. A source whose oov_rate
    climbs release-over-release is drifting away from the training
    distribution before any quality score moves. Pure composition on
    the oracle-matched ``lm_surprisal_heldout`` + one provenance join
    + a map-side-combinable rollup; zero-trigram sources report a
    NULL rate."""
    h = lm_surprisal_heldout(spark, sf_dir)
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    tri = F.sum("n_trigrams").cast("bigint")
    backoffs = F.sum(F.col("n_backoff_bi") + F.col("n_backoff_uni"))
    return h.join(d, "doc_id").groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        tri.alias("n_trigrams"),
        F.sum("n_backoff_bi").cast("bigint").alias("n_backoff_bi"),
        F.sum("n_backoff_uni").cast("bigint").alias("n_backoff_uni"),
        F.when(tri > 0, backoffs.cast("double") / tri.cast("double")).alias(
            "oov_rate"
        ),
        # same zero-trigram guard as oov_rate: Spark's non-ANSI 0/0 is
        # NULL while DuckDB's IEEE 0.0/0.0 is NaN — guard BOTH engines
        # so an all-short-doc source can't desync the oracle (r11 ADVICE)
        F.when(
            tri > 0, F.sum("total_bits").cast("double") / tri.cast("double")
        ).alias("avg_bits"),
    )
