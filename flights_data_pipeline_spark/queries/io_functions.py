"""IO-codec and scalar-function queries closing SURVEY.md §2 line items.

* ``csv_roundtrip`` — S3/S4: the reference's CSV landing convention as a
  *tested* query: write through the engine codec, read back, aggregate;
  the oracle aggregates the pristine parquet — any codec lossiness
  (nulls, quoting, timestamps, decimals) breaks the hash-match.
* ``json_build_extract`` — F1 (to_json), F2 (extract), F3 (null
  handling), F9 (deterministic surrogate keys via md5, SURVEY.md
  §7.4.4's replacement for uuid()).
* ``token_count_pandas_udf`` — §2.11: the Arrow-vectorized Python path
  (pandas_udf), oracle-matched against the same JVM-side semantics.
  Kept OUT of the hot paths by design — it exists to prove the
  vectorized UDF surface, and its oracle equality shows the JVM
  implementation (token_stats) and the Arrow implementation agree.
"""

from __future__ import annotations

import tempfile
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..io import csv_codec
from ..io.catalog import load_table as t
from .registry import query


@query(
    "csv_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     AS DECIMAL(18,2)) AS DOUBLE) AS total,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet → engine CSV codec → parquet-equivalent aggregate.

    The aggregate covers the lossiness hot spots: row counts, null
    counts on a string column, exact decimal sums, timestamp extremes.
    """
    o = t(spark, sf_dir, "orders")
    land = tempfile.mkdtemp(prefix="fdp_csv_rt_") + "/orders"
    csv_codec.write_csv(o, land)
    back = csv_codec.read_csv(spark, land, o.schema)
    return _orders_rollup(back)


_ROUNDTRIP_ORACLE = """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     AS DECIMAL(18,2)) AS DOUBLE) AS total,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order
    FROM orders
    GROUP BY o_orderstatus
    """


@query("jsonl_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet → JSON-lines sink → schema'd JSON source → aggregate.

    The second landing format (after CSV): newline-delimited JSON with
    an EXPLICIT read schema (never inferSchema in the engine proper —
    SURVEY.md §1.1). Lossiness hot spots covered: row counts, nulls
    (JSON omits null fields), doubles, timestamp round-trip through
    ISO-8601 strings.
    """
    o = t(spark, sf_dir, "orders")
    land = tempfile.mkdtemp(prefix="fdp_jsonl_rt_") + "/orders"
    o.write.mode("overwrite").json(land)
    back = spark.read.schema(o.schema).json(land)
    return _orders_rollup(back)


@query("orc_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet → ORC sink → ORC source → aggregate: the second
    columnar format, exercising Spark's vectorized ORC reader/writer
    end-to-end (types, nulls, timestamps)."""
    o = t(spark, sf_dir, "orders")
    land = tempfile.mkdtemp(prefix="fdp_orc_rt_") + "/orders"
    o.write.mode("overwrite").orc(land)
    back = spark.read.schema(o.schema).orc(land)
    return _orders_rollup(back)


@query("xml_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet → XML sink → schema'd XML source → aggregate: the
    document-markup landing format (Spark 4 ships the XML connector
    built in — no external package). Same lossiness hot spots as the
    JSON round-trip: row counts, omitted-null elements, decimal
    totals, date round-trip through ISO strings; the shared oracle
    (computed on the ORIGINAL parquet) proves nothing was bent on the
    way through."""
    o = t(spark, sf_dir, "orders")
    land = tempfile.mkdtemp(prefix="fdp_xml_rt_") + "/orders"
    o.write.mode("overwrite").format("xml").option("rowTag", "order").save(land)
    back = (
        spark.read.schema(o.schema)
        .format("xml")
        .option("rowTag", "order")
        .load(land)
    )
    return _orders_rollup(back)


def _orders_rollup(df: DataFrame) -> DataFrame:
    """The shared roundtrip-check aggregate (see csv_roundtrip)."""
    return df.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.count("o_orderpriority").cast("bigint").alias("n_priorities"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .cast("double")
        .alias("total"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


@query(
    "json_build_extract",
    oracle="""
    SELECT event_id,
           to_json(struct_pack(user_id := user_id,
                               event_type := event_type)) AS ctx_json,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value,
           COALESCE(json_extract_string(props, '$.missing'), 'absent')
             AS missing_with_default,
           md5(CAST(user_id AS VARCHAR) || chr(9247) || event_type)
             AS surrogate_key
    FROM events
    """,
)
def json_build_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_json (F1), null-safe extract with default (F2+F3), md5
    surrogate key (F9 — the deterministic stand-in for uuid(),
    reference audit columns, SURVEY.md §7.4.4)."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_json(F.struct("user_id", "event_type")).alias("ctx_json"),
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
        F.coalesce(
            F.get_json_object("props", "$.missing"), F.lit("absent")
        ).alias("missing_with_default"),
        F.md5(
            F.concat_ws("␟", F.col("user_id").cast("string"), F.col("event_type"))
        ).alias("surrogate_key"),
    )


def _cents_mean_udaf():
    """Grouped-aggregate pandas_udf (vectorized UDAF) — built lazily."""

    @pandas_udf("double")
    def cents_mean(values: pd.Series) -> float:
        # values are money with 2 decimals: round(value*100) snaps to
        # the integer the double is within half an ulp of, and a sum
        # of < 2^53 integer-valued floats is EXACT in float64 in any
        # summation order — the trick that makes a Python-side float
        # aggregation cross-engine deterministic
        return float(
            (values * 100).round().sum() / (100.0 * values.count())
        )

    @pandas_udf("bigint")
    def n_rows(values: pd.Series) -> int:
        return int(values.size)

    return cents_mean, n_rows


@query(
    "grouped_agg_pandas_udaf",
    oracle="""
    SELECT event_type,
           SUM(CAST(round(value * 100) AS BIGINT))
             / (100.0 * COUNT(value)) AS mean_value,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def grouped_agg_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 vectorized UDAF surface: a GROUPED_AGG ``pandas_udf``
    reduces each group's Arrow batch to one scalar JVM-side groups,
    Python-side reduction.

    Float discipline: naive float means are order-dependent (pandas
    sums pairwise, engines fold), so the UDAF sums CENTS — integer-
    valued doubles, exact under any summation order below 2^53 — and
    divides once. The oracle states the same arithmetic in SQL. Both
    aggregates are pandas UDAFs (Spark disallows mixing grouped-agg
    pandas UDFs with JVM aggregates in one agg).
    """
    ev = t(spark, sf_dir, "events")
    cents_mean, n_rows = _cents_mean_udaf()
    return ev.groupBy("event_type").agg(
        cents_mean(F.col("value")).alias("mean_value"),
        n_rows(F.col("value")).cast("bigint").alias("n_events"),
    )


def _n_tokens_arrow():
    """Vectorized token counter UDF — built lazily (pandas_udf return-
    type parsing needs an active SparkContext)."""

    @pandas_udf("bigint")
    def n_tokens(texts: pd.Series) -> pd.Series:
        return texts.str.split().str.len().astype("int64")

    return n_tokens


@query(
    "token_count_pandas_udf",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
             AS n_tokens
    FROM documents
    """,
)
def token_count_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 Arrow-vectorized pandas_udf path, oracle-matched.

    pandas ``str.split()`` (whitespace, trimmed) and the oracle's
    regexp split agree on this corpus; equality with the JVM-side
    ``token_stats`` pins that the Arrow path computes the same thing.
    """
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", _n_tokens_arrow()(F.col("text")).alias("n_tokens"))


# ---------------------------------------------------------------------------
# Map-typed columns: schema-on-read JSON → map, exploded entry stats.
# ---------------------------------------------------------------------------
@query(
    "props_map_stats",
    oracle="""
    WITH kv AS (
      SELECT event_type,
             unnest(json_keys(props)) AS prop_key,
             props
      FROM events
    )
    SELECT event_type, prop_key,
           CAST(COUNT(*) AS BIGINT) AS n_entries,
           CAST(MIN(CAST(json_extract(props, '$.' || prop_key) AS BIGINT))
                AS BIGINT) AS min_value,
           CAST(MAX(CAST(json_extract(props, '$.' || prop_key) AS BIGINT))
                AS BIGINT) AS max_value,
           CAST(COUNT(DISTINCT CAST(json_extract(props, '$.' || prop_key)
                                    AS BIGINT)) AS BIGINT) AS n_distinct_values
    FROM kv
    GROUP BY event_type, prop_key
    """,
)
def props_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over the semi-structured ``props`` column: parse
    to ``map<string,bigint>``, explode entries, aggregate value stats
    per (event_type, key) — the property-bag profiling every event
    pipeline runs before promoting ad-hoc JSON keys to real columns.

    Spark side is the genuine map path (``from_json`` to MapType →
    ``explode`` into key/value rows — no per-key extraction paths
    hard-coded anywhere, so new keys appear in the output without a
    code change). One shuffle on (type, key); min/max/count collapse
    map-side, the distinct count shuffles its (group, value) pairs
    pre-deduplicated. The oracle walks ``json_keys`` laterally —
    key-agnostic the same way.
    """
    ev = t(spark, sf_dir, "events")
    kv = ev.select(
        "event_type",
        F.explode(F.from_json("props", "map<string,bigint>")).alias(
            "prop_key", "prop_value"
        ),
    )
    return kv.groupBy("event_type", "prop_key").agg(
        F.count("*").cast("bigint").alias("n_entries"),
        F.min("prop_value").cast("bigint").alias("min_value"),
        F.max("prop_value").cast("bigint").alias("max_value"),
        F.countDistinct("prop_value").cast("bigint").alias("n_distinct_values"),
    )


# ---------------------------------------------------------------------------
# applyInPandas (grouped map) — per-group demeaned values, exact.
# ---------------------------------------------------------------------------
@query(
    "grouped_demean_pandas",
    oracle="""
    SELECT event_id, event_type,
           CAST(CAST(round(value * 100) AS BIGINT) * (COUNT(*) OVER w)
                - SUM(CAST(round(value * 100) AS BIGINT)) OVER w
                AS BIGINT) AS cents_dev
    FROM events
    WINDOW w AS (PARTITION BY event_type)
    """,
)
def grouped_demean_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 grouped-map ``applyInPandas``: each event's deviation from
    its type's mean value, division-free (``n·cents − Σcents`` in
    integer cents), so the Python-side arithmetic is exact and
    cross-engine-hashable — the same integer-cents trick as the
    GROUPED_AGG UDAF.

    The grouped map is the API for per-group logic that genuinely
    needs the whole group in memory at once (model-per-group fits,
    group-local normalization); Spark shuffles each group to one
    worker and hands it over as ONE Arrow batch — which is also the
    scale caveat: a group must fit in a worker's memory, so keys must
    be chosen (or salted) accordingly. Here groups are the handful of
    event types; the oracle states the same result relationally with
    window sums.
    """
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = (pdf["value"] * 100).round().astype("int64")
        n, s = len(pdf), int(cents.sum())
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "cents_dev": cents * n - s,
            }
        )

    return ev.groupBy("event_type").applyInPandas(
        demean, "event_id bigint, event_type string, cents_dev bigint"
    )


# ---------------------------------------------------------------------------
# cogrouped applyInPandas — two tables reconciled per key in Python.
# ---------------------------------------------------------------------------
#: cogroup hash buckets — bounds Python invocations (and per-call frame
#: size) independent of entity cardinality.
N_RECON_BUCKETS = 64


@query(
    "order_reconciliation_cogroup",
    oracle="""
    SELECT o.o_orderkey,
           CAST(o.o_totalprice AS DOUBLE) AS header_total,
           CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_items,
           CAST(COALESCE(SUM(CAST(l_extendedprice * (1 - l_discount)
                                  AS DECIMAL(18,4))),
                         CAST(0 AS DECIMAL(18,4))) AS DOUBLE)
             AS computed_total,
           CAST(sign(COALESCE(SUM(CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(18,4))),
                              CAST(0 AS DECIMAL(18,4)))
                     - o.o_totalprice) AS INT) AS diff_sign
    FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
)
def order_reconciliation_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 cogrouped ``applyInPandas``: orders and their lineitems
    meet as pandas frames in one Python function, which recomputes
    every order's total from its items and signs the discrepancy
    against the header — the reconciliation shape (ledger-vs-detail,
    header-vs-lines) that wants both sides of a key in memory at once.

    The cogroup KEY is a bounded hash bucket of the order key, NOT the
    order key itself — the load-bearing scale decision for this API.
    Cogrouping on a per-entity key means one Python invocation per
    entity (measured: 150k orders at sf0.1 → 76 s of pure call
    overhead); bucketing to ``N_RECON_BUCKETS`` groups costs the same
    two shuffles but amortizes the Python boundary over thousands of
    entities per call, with the per-entity work vectorized inside
    pandas (1.1 s same corpus, same result). Buckets stay
    memory-bounded by construction: corpus/N_RECON_BUCKETS rows each;
    at 100 TB you raise the bucket count, not the pattern.

    Money arithmetic runs in INTEGER 1e-4 units (prices have 2
    decimals, discounts 2 — ``round(x·100)`` recovers the exact
    integer from the Arrow-delivered values, integer sums are exact in
    any order), converting to double once at the boundary — so the
    Python path hash-matches the oracle's relational restatement
    bit-for-bit.
    """
    o = t(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % N_RECON_BUCKETS).alias("bucket"),
        "o_orderkey",
        "o_totalprice",
    )
    li = t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % N_RECON_BUCKETS).alias("bucket"),
        "l_orderkey",
        "l_extendedprice",
        "l_discount",
    )

    def reconcile(odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        if odf.empty:
            # lineitems with no order header — none in this corpus, but
            # the contract (mirror the oracle's LEFT join) drops them
            return pd.DataFrame(
                {
                    "o_orderkey": pd.Series([], dtype="int64"),
                    "header_total": pd.Series([], dtype="float64"),
                    "n_items": pd.Series([], dtype="int64"),
                    "computed_total": pd.Series([], dtype="float64"),
                    "diff_sign": pd.Series([], dtype="int32"),
                }
            )
        header_cents = (
            (odf["o_totalprice"].astype("float64") * 100)
            .round()
            .astype("int64")
        )
        out = pd.DataFrame(
            {
                "o_orderkey": odf["o_orderkey"].astype("int64"),
                "header_cents": header_cents.values,
            }
        )
        if len(ldf):
            price_c = (
                (ldf["l_extendedprice"].astype("float64") * 100)
                .round()
                .astype("int64")
            )
            disc_bp = (
                (ldf["l_discount"].astype("float64") * 100)
                .round()
                .astype("int64")
            )
            items = pd.DataFrame(
                {
                    "o_orderkey": ldf["l_orderkey"].astype("int64"),
                    "e4": (price_c * (100 - disc_bp)).values,
                }
            )
            sums = items.groupby("o_orderkey")["e4"].agg(["sum", "count"])
            out = out.merge(
                sums, left_on="o_orderkey", right_index=True, how="left"
            )
            out["sum"] = out["sum"].fillna(0).astype("int64")
            out["count"] = out["count"].fillna(0).astype("int64")
        else:
            out["sum"] = 0
            out["count"] = 0
        diff = out["sum"] - out["header_cents"] * 100
        return pd.DataFrame(
            {
                "o_orderkey": out["o_orderkey"],
                "header_total": out["header_cents"] / 100.0,
                "n_items": out["count"],
                "computed_total": out["sum"] / 10000.0,
                "diff_sign": diff.apply(
                    lambda x: 0 if x == 0 else (1 if x > 0 else -1)
                ).astype("int32"),
            }
        )

    return (
        o.groupBy("bucket")
        .cogroup(li.groupBy("bucket"))
        .applyInPandas(
            reconcile,
            schema=(
                "o_orderkey bigint, header_total double, n_items bigint, "
                "computed_total double, diff_sign int"
            ),
        )
    )


# ---------------------------------------------------------------------------
# mapInArrow — columnar Python transform with no pandas materialization.
# ---------------------------------------------------------------------------
@query(
    "arrow_map_value_cents",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    GROUP BY event_type
    """,
)
def arrow_map_value_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 ``mapInArrow``: a Python transform that stays in Arrow
    RecordBatches end-to-end — ``pyarrow.compute`` kernels (C++,
    SIMD), no pandas conversion on either edge. The batch converts
    money doubles to exact integer cents; the JVM side then aggregates
    the exact integers, so the Python hop costs no precision.

    When to reach for it over ``mapInPandas``: per-batch work that
    pyarrow kernels already cover (casts, arithmetic, take/filter) —
    pandas adds a copy into BlockManager layout and dtype coercions
    that Arrow-native code skips. Same scale posture as every
    vectorized-Python operator: batch-at-a-time, zero driver
    involvement, ~64k-row Arrow buffers on the wire.
    """
    e = t(spark, sf_dir, "events").select("event_type", "value")

    def to_cents(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            cents = pc.cast(
                pc.round(pc.multiply(b.column("value"), pa.scalar(100.0))),
                pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("event_type"), cents], ["event_type", "cents"]
            )

    mapped = e.mapInArrow(to_cents, "event_type string, cents bigint")
    return mapped.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# Iterator-form pandas UDF — amortized per-worker init.
# ---------------------------------------------------------------------------
@query(
    "iter_udf_normalized_name",
    oracle="""
    SELECT p_partkey,
           regexp_replace(lower(p_name), '[^a-z]+', ' ', 'g') AS norm_name,
           CAST(len(regexp_split_to_array(
                  trim(regexp_replace(lower(p_name), '[^a-z]+', ' ', 'g')),
                  ' ')) AS BIGINT) AS n_words
    FROM part
    """,
)
def iter_udf_normalized_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 iterator-form pandas UDF (``Iterator[Series] ->
    Iterator[Series]``): the variant whose function body runs ONCE per
    worker around the batch loop — the slot where real pipelines hoist
    expensive initialization (compiling a tokenizer, loading a model,
    opening a sidecar connection) so it amortizes across every batch
    instead of re-running per batch.

    Here the hoisted init is just a compiled regex (the smallest
    honest stand-in); the semantics — lowercase, collapse non-letters,
    count words — are pinned against the oracle's relational regex
    twin, proving the iterator plumbing transforms values identically
    to the scalar form.
    """
    p = t(spark, sf_dir, "part").select("p_partkey", "p_name")

    @pandas_udf("string")
    def norm_name(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import re

        pat = re.compile(r"[^a-z]+")  # per-worker init, amortized
        for s in batches:
            yield s.str.lower().map(lambda x: pat.sub(" ", x))

    out = p.select(
        "p_partkey", norm_name(F.col("p_name")).alias("norm_name")
    )
    return out.select(
        "p_partkey",
        "norm_name",
        F.size(F.split(F.trim(F.col("norm_name")), " "))
        .cast("bigint")
        .alias("n_words"),
    )


_PARTITIONED_ORACLE = """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     AS DECIMAL(18,2)) AS DOUBLE) AS total,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order
    FROM orders
    WHERE o_orderstatus != 'O'
    GROUP BY o_orderstatus
    """


@query("partitioned_roundtrip", oracle=_PARTITIONED_ORACLE)
def partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet → HIVE-PARTITIONED parquet layout (one directory per
    ``o_orderstatus``) → partition-pruned read: the physical layout a
    100 TB lake actually uses. The read filters ``!= 'O'`` and the
    filter must resolve at PLANNING time against directory names
    (PartitionFilters in the scan; the 'O' partition's files are
    never opened — at scale that's the difference between scanning
    1/3 of the table and all of it). The partition column round-trips
    through a directory NAME, not parquet data pages — a classic
    lossiness spot (string escaping, type re-inference) the shared
    oracle on the original table pins.

    The status-partitioned layout also demonstrates the write-side
    discipline: partitionBy on a low-cardinality column (3 statuses),
    with each partition's files written by the task that owns the
    rows — no global sort, no shuffle beyond the original
    distribution.
    """
    o = t(spark, sf_dir, "orders")
    land = tempfile.mkdtemp(prefix="fdp_part_rt_") + "/orders"
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(land)
    back = spark.read.parquet(land).filter(F.col("o_orderstatus") != "O")
    # the partition column comes back typed from the directory name;
    # normalize to the source schema's string type for the rollup
    back = back.withColumn(
        "o_orderstatus", F.col("o_orderstatus").cast("string")
    )
    return _orders_rollup(back)


# ---------------------------------------------------------------------------
# Z-order (Morton) interleave keys: multi-dimensional clustering layout.
# ---------------------------------------------------------------------------
#: bits per NORMALIZED dimension for the Morton code (2 x 12 = 24-bit z).
#: Raw key values are first min/max-scaled onto [0, 2^Z_BITS) — without
#: that, a dimension with a narrower value range contributes only low
#: interleave bits and the z-order degenerates to a single-column sort
#: of the wider dimension (measured: custkey spans 8 bits at sf0.001 vs
#: 12 for the date — the top 4 Morton bits were ALL date bits).
Z_BITS = 12


def _z_expr_sql(x: str, y: str) -> str:
    """Bit-interleave SQL shared verbatim by Spark and DuckDB: plain
    ``& >> <<`` integer ops, identical semantics in both engines."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


#: min/max normalization onto the Z_BITS budget, pure integer: exact
#: and identical in both engines (multiply before integer-divide keeps
#: precision). The division operator is the only spelling difference:
#: Spark ``div``, DuckDB ``//`` — pass it via ``divop``.
_Z_SCALE = (
    "(({v} - {lo}) * "
    + str((1 << Z_BITS) - 1)
    + ") {divop} greatest({hi} - {lo}, 1)"
)


@query(
    "zorder_interleave_keys",
    oracle=f"""
    WITH raw AS (
      SELECT o_orderkey, o_custkey AS xv,
             datediff('day', DATE '1992-01-01', o_orderdate) AS yv
      FROM orders
    ),
    b AS (
      SELECT MIN(xv) AS xlo, MAX(xv) AS xhi,
             MIN(yv) AS ylo, MAX(yv) AS yhi
      FROM raw
    ),
    keyed AS (
      SELECT o_orderkey,
             {_Z_SCALE.format(v='xv', lo='b.xlo', hi='b.xhi', divop='//')} AS xk,
             {_Z_SCALE.format(v='yv', lo='b.ylo', hi='b.yhi', divop='//')} AS yk
      FROM raw, b
    )
    SELECT o_orderkey,
           CAST(xk AS BIGINT) AS xk, CAST(yk AS BIGINT) AS yk,
           CAST({_z_expr_sql('xk', 'yk')} AS BIGINT) AS zvalue
    FROM keyed
    ORDER BY zvalue, o_orderkey
    LIMIT 50
    """,
)
def zorder_interleave_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton / Z-order clustering keys over (customer, order-date) —
    the layout primitive behind multi-dimensional data skipping
    (Delta/Iceberg OPTIMIZE ZORDER, public DB literature back to
    Orenstein's 1984 Morton-curve indexing).

    Both dimensions are first min/max-normalized onto the same
    ``Z_BITS`` budget (see the constant's rationale), then their bits
    interleave. That makes lexicographic z-order locality-preserving in
    BOTH dimensions at once: range-partitioning a 100 TB fact table by
    ``zvalue`` gives every file a small bounding box in (custkey,
    orderdate) space, so min/max footer pruning works for predicates on
    EITHER column — the thing a single-column sort fundamentally cannot
    do (sorting by custkey leaves orderdate uniform in every file).
    ``tests/test_physical_layout.py`` pins that property on real
    written files; this query pins the normalize+interleave arithmetic
    itself — pure integer ``* div & >> <<``, bit-identical cross-engine.
    The bounds row is a 1-row broadcast (scalar aggregates), never a
    driver collect.
    """
    keyed = _orders_with_zvalue(spark, sf_dir)
    return keyed.orderBy("zvalue", "o_orderkey").limit(50)


def _orders_with_zvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderkey, xk, yk, zvalue) for every order — shared by the
    registry query (top-50 pin) and the physical-layout test (writes
    range-partitioned files and measures per-file bounding boxes)."""
    o = t(spark, sf_dir, "orders")
    raw = o.select(
        "o_orderkey",
        F.col("o_custkey").cast("bigint").alias("xv"),
        F.expr("datediff(o_orderdate, DATE '1992-01-01')")
        .cast("bigint")
        .alias("yv"),
    )
    b = raw.agg(
        F.min("xv").alias("xlo"),
        F.max("xv").alias("xhi"),
        F.min("yv").alias("ylo"),
        F.max("yv").alias("yhi"),
    )
    keyed = raw.crossJoin(F.broadcast(b)).select(
        "o_orderkey",
        F.expr(_Z_SCALE.format(v="xv", lo="xlo", hi="xhi", divop="div"))
        .cast("bigint")
        .alias("xk"),
        F.expr(_Z_SCALE.format(v="yv", lo="ylo", hi="yhi", divop="div"))
        .cast("bigint")
        .alias("yk"),
    )
    return keyed.withColumn(
        "zvalue", F.expr(_z_expr_sql("xk", "yk")).cast("bigint")
    )
