"""Paired (Spark DataFrame, DuckDB oracle SQL) query catalog.

Every operator the engine claims (SURVEY.md §2 + the LLM-data-pipeline
extensions) gets one entry here: a Spark-first implementation and — when the
semantics are ANSI-SQL-expressible — a DuckDB oracle producing the same
column names and (bit-identical where possible) values.

Determinism rules used throughout:

- distance arithmetic is a **left-associated fold over double-cast f32
  elements** in both engines (Spark ``zip_with``+``aggregate`` vs a generated
  left-assoc ``+`` chain), which makes the IEEE results bit-identical;
- group aggregates of doubles (whose accumulation order is engine-dependent)
  are rounded to a tolerance far above the float error;
- every ORDER BY ... LIMIT has a full deterministic tie-break key;
- timestamps are compared as strings after µs-epoch alignment (the events
  table stores nanos, which Spark reads via ``nanosAsLong``).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vectorchord_spark.functions import distances as D

# ---------------------------------------------------------------------------
# Deterministic query constants
# ---------------------------------------------------------------------------

DIM = 64
QUERY_VEC = [float(x) for x in np.round(np.random.default_rng(7).uniform(-1, 1, DIM), 4)]
MAXSIM_TOKENS = [
    [float(x) for x in np.round(np.random.default_rng(8).uniform(-1, 1, DIM), 4)],
    [float(x) for x in np.round(np.random.default_rng(9).uniform(-1, 1, DIM), 4)],
]
RANGE_RADIUS = 4.45
RANGE_IP_RADIUS = -1.0
RANGE_COS_RADIUS = 0.85
SIMHASH_MAX_HAMMING = 3
NEARDUP_COS = 0.40
JACCARD_THRESHOLD = 0.8
MINHASH_HASHES = 8
MINHASH_BAND_ROWS = 2
#: per-(band, key) bucket-size cap for the LSH candidate joins — buckets
#: over this emit a spanning star to the bucket-min id instead of the full
#: clique (pipeline.dedup.capped_band_pairs). Mirrored in the oracle SQL.
LSH_MAX_BUCKET = 64

LANG_WORDS = {
    "de": ["data", "value", "window", "stream", "group"],
    "en": ["the", "a", "fast", "slow", "big", "small"],
    "es": ["table", "column", "row", "key", "line"],
    "fr": ["join", "merge", "sort", "filter", "agg"],
    "zh": ["vector", "batch", "query", "hash", "scan"],
}


@dataclass
class Q:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None
    headline: bool = False  # included in bench.py timing set


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from vectorchord_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    if name == "events":
        # the nanos-vs-µs normalization lives in ONE place:
        # sources/events.py (shared with the streaming jobs and tests)
        from vectorchord_spark.sources.events import read_events

        return read_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Oracle SQL chain generators (left-assoc; mirror Spark's fold order)
# ---------------------------------------------------------------------------


def _l2sq_chain(col: str, vec: list[float]) -> str:
    terms = [
        f"({col}[{i + 1}]::DOUBLE - ({v!r})) * ({col}[{i + 1}]::DOUBLE - ({v!r}))"
        for i, v in enumerate(vec)
    ]
    return "(" + " + ".join(terms) + ")"


def _dot_chain(col: str, vec: list[float]) -> str:
    terms = [f"{col}[{i + 1}]::DOUBLE * ({v!r})" for i, v in enumerate(vec)]
    return "(" + " + ".join(terms) + ")"


def _norm2_chain(col: str, dim: int = DIM) -> str:
    terms = [f"{col}[{i + 1}]::DOUBLE * {col}[{i + 1}]::DOUBLE" for i in range(dim)]
    return "(" + " + ".join(terms) + ")"


def _pair_dot_chain(a: str, b: str, dim: int = DIM) -> str:
    terms = [f"{a}[{i + 1}]::DOUBLE * {b}[{i + 1}]::DOUBLE" for i in range(dim)]
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# Vector search operators (SURVEY §2.1/§2.3 surface on the embeddings table)
# ---------------------------------------------------------------------------


def _knn_fn(metric: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = _read(spark, sf_dir, "embeddings")
        dist = D.output_distance(metric, "embedding", D.vec_lit(QUERY_VEC))
        return (
            emb.select("vec_id", dist.alias("dist"))
            .orderBy("dist", "vec_id")
            .limit(10)
        )

    return fn


def _knn_sql(metric: str) -> str:
    if metric == "l2":
        expr = f"sqrt({_l2sq_chain('embedding', QUERY_VEC)})"
    elif metric == "dot":
        expr = f"-{_dot_chain('embedding', QUERY_VEC)}"
    else:
        qn = float(np.sqrt(np.sum(np.float64(QUERY_VEC) ** 2)))
        expr = (
            f"1.0 - {_dot_chain('embedding', QUERY_VEC)}"
            f" / (sqrt({_norm2_chain('embedding')}) * ({qn!r}))"
        )
    return f"""
SELECT vec_id, {expr} AS dist
FROM embeddings
ORDER BY dist, vec_id
LIMIT 10
"""


def _knn_cos_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mirror the oracle exactly: norm(q) precomputed as a double literal
    emb = _read(spark, sf_dir, "embeddings")
    qn = float(np.sqrt(np.sum(np.float64(QUERY_VEC) ** 2)))
    dist = F.lit(1.0) - D.dot("embedding", D.vec_lit(QUERY_VEC)) / (
        D.norm("embedding") * F.lit(qn)
    )
    return (
        emb.select("vec_id", dist.alias("dist")).orderBy("dist", "vec_id").limit(10)
    )


def _range_l2_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sphere operator semantics: threshold on the *output* (sqrt'd) distance
    # (/root/reference/src/index/vchordrq/scanners/default.rs:104-121)
    emb = _read(spark, sf_dir, "embeddings")
    dist = D.l2("embedding", D.vec_lit(QUERY_VEC))
    return (
        emb.select("vec_id", dist.alias("dist"))
        .where(F.col("dist") < RANGE_RADIUS)
        .orderBy("dist", "vec_id")
    )


_RANGE_L2_SQL = f"""
SELECT vec_id, dist FROM (
  SELECT vec_id, sqrt({_l2sq_chain("embedding", QUERY_VEC)}) AS dist FROM embeddings
) WHERE dist < {RANGE_RADIUS}
ORDER BY dist, vec_id
"""


def _maxsim_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxSim over synthetic multi-vector docs (doc = 5 consecutive vec_ids),
    expressed relationally: per (doc, query-token) min of negated dot, then
    sum over tokens (the same groupBy-min-sum shape as the reference's
    maxsim aggregation, /root/reference/src/index/vchordrq/scanners/maxsim.rs:695-742)."""
    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "doc_id", F.expr("vec_id div 5")
    )
    # fused single-scan shape: both token distances are computed per row
    # and the per-token mins fold in ONE aggregation — the former
    # per-token Union scanned the table once per token and paid a second
    # groupBy for the sum (2 scans + 2 exchanges -> 1 + 1; A/B 0.359 ->
    # 0.235s at sf0.1). min(nd0) + min(nd1) is a two-operand IEEE
    # addition — commutative, so it matches the oracle's SUM over the
    # two per-token mins bit-for-bit.
    row = emb.select(
        "doc_id",
        *[
            (-D.dot("embedding", D.vec_lit(tok))).alias(f"nd{ti}")
            for ti, tok in enumerate(MAXSIM_TOKENS)
        ],
    )
    score = None
    for ti in range(len(MAXSIM_TOKENS)):
        m = F.min(f"nd{ti}")
        score = m if score is None else score + m
    return (
        row.groupBy("doc_id")
        .agg(score.alias("score"))
        .orderBy("score", "doc_id")
        .limit(10)
    )


_MAXSIM_SQL = f"""
WITH toks AS (
  SELECT doc_id, tok, min(nd) AS mind FROM (
    SELECT vec_id // 5 AS doc_id, 0 AS tok,
           -{_dot_chain("embedding", MAXSIM_TOKENS[0])} AS nd FROM embeddings
    UNION ALL
    SELECT vec_id // 5 AS doc_id, 1 AS tok,
           -{_dot_chain("embedding", MAXSIM_TOKENS[1])} AS nd FROM embeddings
  ) GROUP BY doc_id, tok
)
SELECT doc_id, sum(mind) AS score FROM toks
GROUP BY doc_id ORDER BY score, doc_id LIMIT 10
"""


def _knn_join_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch similarity join: top-3 cosine neighbors for each query row.

    The query side is tiny → broadcast; ranking via window per query id.
    """
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    qn = D.norm("qvec")
    en = D.norm("embedding")
    sim = D.dot("embedding", "qvec") / (en * qn)
    pairs = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", sim.alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("qid", "vec_id", "sim", F.col("rnk").cast("int").alias("rnk"))
        .orderBy("qid", "rnk")
    )


_KNN_JOIN_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
pairs AS (
  SELECT q.qid, e.vec_id,
         {_pair_dot_chain("e.embedding", "q.qvec")}
           / (sqrt({_norm2_chain("e.embedding")}) * sqrt({_norm2_chain("q.qvec")})) AS sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid
),
ranked AS (
  SELECT qid, vec_id, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk
  FROM pairs
)
SELECT qid, vec_id, sim, rnk::INT AS rnk FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk
"""


# ---------------------------------------------------------------------------
# Relational benchmark queries (Spark SQL surface; TPC-H-shaped)
# ---------------------------------------------------------------------------


def _q1_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                (F.sum("l_quantity") / F.count(F.lit(1))), 4
            ).alias("avg_qty"),
            F.round(
                (F.sum("l_extendedprice") / F.count(F.lit(1))), 4
            ).alias("avg_price"),
            F.round((F.sum("l_discount") / F.count(F.lit(1))), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_quantity) / count(*), 4) AS avg_qty,
       round(sum(l_extendedprice) / count(*), 4) AS avg_price,
       round(sum(l_discount) / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _q3_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _read(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _read(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01")
    )
    li = _read(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


_Q3_SQL = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def _q5_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _read(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _read(spark, sf_dir, "nation")
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    sup = _read(spark, sf_dir, "supplier")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation),
            (F.col("s_nationkey") == F.col("n_nationkey"))
            & (F.col("c_nationkey") == F.col("n_nationkey")),
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


_Q5_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON s_nationkey = n_nationkey AND c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# r09 fold: the former `events_hourly` entry merged into `events_rollup`
# — a ROLLUP over (hour, event_type) whose detail level IS the hourly
# groupBy, so one entry covers both machinery surfaces (time-derivation
# projection, count/sum aggregates, grouping sets). Freed the catalog
# slot for `perplexity_score` (the 100-entry gate budget).


def _sessionize_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via window lag + running sum —
    the batch shape of the streaming session-window operator."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = 30 * 60 * 1_000_000
    marked = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(w)) > gap_us),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.date_format(
                F.timestamp_micros(F.min("ts_us")), "yyyy-MM-dd HH:mm:ss"
            ).alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("user_id", "session_id")
    )


_SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events
),
marked AS (
  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sess AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id, session_id::BIGINT AS session_id,
       strftime(make_timestamp(min(ts_us)), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM sess
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def _q6_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q6 shape: pure pushed-down filter + single aggregate (the
    query where predicate pushdown and scan pruning are the whole game)."""
    li = _read(spark, sf_dir, "lineitem")
    filtered = li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


_Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def _q12_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q12 shape: join + conditional aggregation buckets."""
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).cast("bigint").alias("high_line_count"),
            F.sum(1 - high).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


_Q12_SQL = """
SELECT l_linestatus,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
         AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT
         AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def _part_revenue_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-dimension join: revenue per brand for mid-size parts."""
    part = _read(spark, sf_dir, "part").where(F.col("p_size") <= 25)
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
        .orderBy(F.desc("revenue"), "p_brand")
    )


_PART_REVENUE_SQL = """
SELECT p_brand,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
       count(*) AS n_items,
       round(sum(l_quantity), 2) AS total_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= 25
GROUP BY p_brand
ORDER BY revenue DESC, p_brand
"""


def _q4_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape: EXISTS decorrelated to a left-semi join (Catalyst
    plans EXISTS this way natively; no row duplication from the 1:N side)."""
    orders = _read(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    returned = _read(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(
            returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def _q14_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q14 shape: promo revenue share for one ship month — broadcast
    part join + conditional aggregate, single output row."""
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    part = _read(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4).alias(
                "promo_revenue_pct"
            )
        )
    )


_Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1.0 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1.0 - l_discount)), 4)
         AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
"""


def _q10_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q10 shape: returned-item revenue per customer — fact join on
    the shuffle side, both dimensions broadcast, top-20 with tie-break."""
    li = _read(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _read(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))),
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def _q7_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q7 shape: bilateral nation-pair trade volume by ship year —
    the fact table joins both a supplier-side and a customer-side dimension
    chain, with a disjunctive pair predicate that Catalyst pushes into the
    two broadcast nation joins."""
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    sup = _read(spark, sf_dir, "supplier")
    n1 = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .withColumn("yr", F.year("l_shipdate").cast("bigint"))
        .groupBy("supp_nation", "cust_nation", "yr")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "yr")
    )


_Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate)::BIGINT AS yr,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
       OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
GROUP BY 1, 2, 3
ORDER BY supp_nation, cust_nation, yr
"""


def _q13_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q13 shape: customer order-count distribution — LEFT OUTER join
    with a join-side predicate (kept out of WHERE so customers with zero
    qualifying orders survive), then a second aggregation over the first."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def _q15_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q15 shape: top supplier by quarterly revenue — an aggregated
    'view' reused twice (once for the scalar max, once for the join-back).
    Revenue is rounded before the max comparison so the equality predicate
    is engine-stable."""
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("total_rev")
        )
    )
    max_rev = rev.agg(F.max("total_rev").alias("m"))
    sup = _read(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(max_rev), F.col("total_rev") == F.col("m"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


_Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
ORDER BY s_suppkey
"""


def _q17_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 shape: small-quantity orders for one brand — the
    correlated per-part AVG subquery decorrelated into a broadcast join
    of a per-part aggregate against the fact table. l_quantity is integral
    so the average is order-independent (exact double sums)."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#11")
    avg_qty = (
        li.join(F.broadcast(part.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("l_partkey").alias("ap_partkey"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut"))
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("ap_partkey"))
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


_Q17_SQL = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#11'
  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


def _q18_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18 shape: large-volume orders — HAVING on a grouped fact
    aggregate, semi-joined back to the order/customer chain. total_qty sums
    integral doubles, so the HAVING threshold is engine-stable."""
    li = _read(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 180.0)
    )
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice"),
            F.col("total_qty"),
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(20)
    )


_Q18_SQL = """
SELECT c_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_totalprice, total_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 180.0) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 20
"""


def _q19_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q19 shape: disjunction of conjunctive brand/size/quantity
    ranges — the classic OR-of-ANDs predicate that exercises filter
    pushdown through a join (Catalyst extracts the common p/l splits)."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size").between(1, 5))
            & (F.col("l_quantity").between(1.0, 11.0))
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size").between(1, 10))
            & (F.col("l_quantity").between(10.0, 20.0))
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(20.0, 30.0))
        )
    )
    return j.where(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
        ).alias("revenue")
    )


_Q19_SQL = """
SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1.0 AND 11.0)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10.0 AND 20.0)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20.0 AND 30.0)
"""


def _q22_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q22 shape: wealthy customers with no orders — a scalar
    aggregate subquery feeding a threshold plus a NOT EXISTS anti-join.
    The global average is snapped to an off-grid cutoff (2-decimal grid +
    0.005) so the comparison can't straddle an engine ulp difference."""
    cust = _read(spark, sf_dir, "customer")
    pos = cust.where(F.col("c_acctbal") > 0.0).agg(
        (F.floor(F.avg("c_acctbal") * 100.0) / 100.0 + 0.005).alias("cut")
    )
    # "idle" = no recent orders (the full-history NOT EXISTS is empty on
    # this data — every wealthy customer ordered at least once)
    orders = _read(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01")
    )
    nation = _read(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(pos))
        .where(F.col("c_acctbal") > F.col("cut"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


_Q22_SQL = """
SELECT n_name, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT floor(avg(c_acctbal) * 100.0) / 100.0 + 0.005
                   FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY n_name
ORDER BY n_name
"""


def _tpch_scalars_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Umbrella entry: q6 + q14 + q17 + q19 as one 4-row verification unit.

    These four single-row TPC-H-shape aggregates exercise Spark SQL, not
    this engine — folding them into one catalog entry keeps their coverage
    (each row is still bit-compared against the DuckDB twin) while freeing
    rotation-gate slots for engine operators (r05 verdict #3: the gate runs
    a 50-entry prefix, so catalog size is a real budget)."""
    q6 = _q6_fn(spark, sf_dir).select(
        F.lit("q6").alias("query"),
        F.col("revenue").cast("double").alias("v1"),
        F.col("n_items").cast("double").alias("v2"),
    )
    q14 = _q14_fn(spark, sf_dir).select(
        F.lit("q14").alias("query"),
        F.col("promo_revenue_pct").cast("double").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    q17 = _q17_fn(spark, sf_dir).select(
        F.lit("q17").alias("query"),
        F.col("avg_yearly").cast("double").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    q19 = _q19_fn(spark, sf_dir).select(
        F.lit("q19").alias("query"),
        F.col("revenue").cast("double").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    return q6.unionAll(q14).unionAll(q17).unionAll(q19).orderBy("query")


_TPCH_SCALARS_SQL = f"""
SELECT * FROM (
  SELECT 'q6' AS query, revenue AS v1, CAST(n_items AS DOUBLE) AS v2
  FROM ({_Q6_SQL}) q6
  UNION ALL
  SELECT 'q14' AS query, promo_revenue_pct AS v1, CAST(NULL AS DOUBLE) AS v2
  FROM ({_Q14_SQL}) q14
  UNION ALL
  SELECT 'q17' AS query, avg_yearly AS v1, CAST(NULL AS DOUBLE) AS v2
  FROM ({_Q17_SQL}) q17
  UNION ALL
  SELECT 'q19' AS query, revenue AS v1, CAST(NULL AS DOUBLE) AS v2
  FROM ({_Q19_SQL}) q19
) u ORDER BY query
"""


def _tpch_groups_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Umbrella entry: q4 + q12 + q22 grouped results as one unit (same
    slot-budget rationale as _tpch_scalars_fn; every underlying row is
    still bit-compared)."""
    q4 = _q4_fn(spark, sf_dir).select(
        F.lit("q4").alias("query"),
        F.col("o_orderpriority").alias("k1"),
        F.col("order_count").cast("double").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    q12 = _q12_fn(spark, sf_dir).select(
        F.lit("q12").alias("query"),
        F.col("l_linestatus").alias("k1"),
        F.col("high_line_count").cast("double").alias("v1"),
        F.col("low_line_count").cast("double").alias("v2"),
    )
    q22 = _q22_fn(spark, sf_dir).select(
        F.lit("q22").alias("query"),
        F.col("n_name").alias("k1"),
        F.col("numcust").cast("double").alias("v1"),
        F.col("totacctbal").cast("double").alias("v2"),
    )
    return q4.unionAll(q12).unionAll(q22).orderBy("query", "k1")


_TPCH_GROUPS_SQL = f"""
SELECT * FROM (
  SELECT 'q4' AS query, o_orderpriority AS k1,
         CAST(order_count AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
  FROM ({_Q4_SQL}) q4
  UNION ALL
  SELECT 'q12' AS query, l_linestatus AS k1,
         CAST(high_line_count AS DOUBLE) AS v1,
         CAST(low_line_count AS DOUBLE) AS v2
  FROM ({_Q12_SQL}) q12
  UNION ALL
  SELECT 'q22' AS query, n_name AS k1,
         CAST(numcust AS DOUBLE) AS v1, totacctbal AS v2
  FROM ({_Q22_SQL}) q22
) u ORDER BY query, k1
"""


def _events_json_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the JSON props column, bucket the
    extracted value, aggregate per (event_type, bucket)."""
    ev = _read(spark, sf_dir, "events")
    kval = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.withColumn("k_bucket", (kval / 10).cast("bigint"))
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type", "k_bucket")
    )


_EVENTS_JSON_SQL = """
SELECT event_type,
       (json_extract_string(props, '$.k')::BIGINT // 10)::BIGINT AS k_bucket,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY event_type, k_bucket
"""


def _events_rollup_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets surface: ROLLUP over (hour, event_type). The
    detail grouping set is exactly the hourly per-type aggregation (the
    former `events_hourly` entry, folded here r09), the middle set the
    hourly totals, the grand total the whole-table aggregate."""
    ev = _read(spark, sf_dir, "events")
    hour = F.date_format(
        F.date_trunc("hour", F.timestamp_micros(F.col("ts_us"))),
        "yyyy-MM-dd HH:mm:ss",
    )
    return (
        ev.withColumn("hour", hour)
        .rollup("hour", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )


_EVENTS_ROLLUP_SQL = """
SELECT hour, event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM (
  SELECT strftime(date_trunc('hour', make_timestamp(epoch_us(ts))), '%Y-%m-%d %H:%M:%S') AS hour,
         event_type, value
  FROM events
)
GROUP BY ROLLUP (hour, event_type)
ORDER BY hour, event_type
"""


def _top_orders_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "o_custkey", "o_orderkey", "o_totalprice", F.col("rnk").cast("int").alias("rnk")
        )
        .orderBy("o_custkey", "rnk")
    )


_TOP_ORDERS_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rnk::INT AS rnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
) WHERE rnk <= 3 ORDER BY o_custkey, rnk
"""


# ---------------------------------------------------------------------------
# Text analysis operators (LLM-pipeline surface over `documents`)
# ---------------------------------------------------------------------------

_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _doc_stats_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring statistics: token counts, distinct ratio, mean word
    length — the usual language-data quality filters."""
    docs = _read(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    total_len = F.aggregate(
        F.transform(words, lambda w: F.length(w).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    n_tokens = F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0))
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        n_words.cast("bigint").alias("n_words"),
        n_tokens.cast("bigint").alias("n_tokens"),
        n_distinct.cast("bigint").alias("n_distinct"),
        (n_distinct.cast("double") / n_words.cast("double")).alias("distinct_ratio"),
        (total_len.cast("double") / n_words.cast("double")).alias("avg_word_len"),
    ).orderBy("doc_id")


_DOC_STATS_SQL = f"""
SELECT doc_id,
       length(text)::BIGINT AS n_chars,
       len(string_split(text, ' '))::BIGINT AS n_words,
       len(regexp_extract_all(text, '{_TOKEN_RE}'))::BIGINT AS n_tokens,
       len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct,
       len(list_distinct(string_split(text, ' ')))::DOUBLE
         / len(string_split(text, ' '))::DOUBLE AS distinct_ratio,
       list_sum(list_transform(string_split(text, ' '), w -> length(w)))::DOUBLE
         / len(string_split(text, ' '))::DOUBLE AS avg_word_len
FROM documents ORDER BY doc_id
"""


def _langid_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordlist-profile language ID: score = occurrences of each language's
    profile words; argmax with lexicographic tie-break."""
    docs = _read(spark, sf_dir, "documents")
    words = F.split("text", " ")
    scores = {
        lang: F.size(F.filter(words, lambda w: w.isin(wl))).cast("bigint")
        for lang, wl in LANG_WORDS.items()
    }
    df = docs.select("doc_id", *[scores[k].alias(f"s_{k}") for k in sorted(LANG_WORDS)])
    m = F.greatest(*[F.col(f"s_{k}") for k in sorted(LANG_WORDS)])
    pred = F.lit(None).cast("string")
    expr = None
    for lang in sorted(LANG_WORDS):
        cond = F.col(f"s_{lang}") == m
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return df.select(
        "doc_id", expr.alias("pred_lang"), m.alias("score")
    ).orderBy("doc_id")


def _langid_sql() -> str:
    score_cols = []
    for lang in sorted(LANG_WORDS):
        wl = ", ".join(f"'{w}'" for w in LANG_WORDS[lang])
        score_cols.append(
            f"len(list_filter(string_split(text, ' '), w -> w IN ({wl})))::BIGINT AS s_{lang}"
        )
    langs = sorted(LANG_WORDS)
    m = "greatest(" + ", ".join(f"s_{k}" for k in langs) + ")"
    case = "CASE " + " ".join(f"WHEN s_{k} = m THEN '{k}'" for k in langs) + " END"
    return f"""
WITH s AS (SELECT doc_id, {", ".join(score_cols)} FROM documents),
g AS (SELECT *, {m} AS m FROM s)
SELECT doc_id, {case} AS pred_lang, m AS score FROM g ORDER BY doc_id
"""


def _fingerprint_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint: md5 over the sorted distinct token
    set (the classic 'fingerprint clustering' normalization)."""
    docs = _read(spark, sf_dir, "documents")
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " "))))
    return docs.select(
        "doc_id", F.md5(canon).alias("fingerprint")
    ).orderBy("doc_id")


_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
FROM documents ORDER BY doc_id
"""


def _dedup_exact_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one keeper (min doc_id) per distinct
    text; hash-groupBy is the 100 TB-scale shape (single shuffle on the hash)."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("text_hash")
    )


_DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY text_hash
"""


# --- shingle helpers (word 3-grams) ---------------------------------------


#: one persisted shingles DF per sf_dir, shared by the n-gram and minhash
#: queries (persist without this leaked a new cached copy per call)
_SHINGLES_CACHE: dict = {}


def _shingles_df(docs: DataFrame, cache_key: str | None = None) -> DataFrame:
    if cache_key is not None and cache_key in _SHINGLES_CACHE:
        return _SHINGLES_CACHE[cache_key]
    # the documents table arrives as a single small parquet file → one input
    # partition; spread the (CPU-heavy) shingling + explode across the
    # cluster before fanning out (partition count follows
    # spark.sql.shuffle.partitions — no plan-forcing RDD probe)
    docs = docs.repartition("doc_id")
    # NB: callers consume this 3+ times (sizes, explode, set-intersect);
    # persist so the shingling computes once (see perf note below).
    # pipeline.dedup.shingles binds the split array to a lambda variable —
    # an inline transform referencing the split expression re-evaluates it
    # per element_at, O(words²) per doc (the r06 shingles fix).
    from vectorchord_spark.pipeline.dedup import shingles as _sh_col

    out = docs.select("doc_id", _sh_col("text", 3).alias("shingles")).persist()
    if cache_key is not None:
        _SHINGLES_CACHE[cache_key] = out
    return out


_SHINGLES_SQL = """
SELECT doc_id,
       CASE WHEN len(w) >= 3 THEN
         list_distinct(list_transform(range(1, len(w) - 1),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
       ELSE [text] END AS shingles
FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
"""


def _dedup_ngram_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup join: explode shingles → co-shingle pairs →
    |∩| / |∪| ≥ τ. At scale the explode-join is the standard inverted-index
    similarity join (shuffle keyed on shingle; hot shingles are the skew
    risk, mitigated by AQE skew handling)."""
    docs = _read(spark, sf_dir, "documents")
    sh = _shingles_df(docs, cache_key=sf_dir)
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    # join on a 64-bit hash of the shingle instead of the string: same pairs
    # (modulo astronomically unlikely collisions changing n_common, which the
    # exact-jaccard verify would still filter), much narrower shuffle
    ex = sh.select(
        "doc_id", F.explode("shingles").alias("sh")
    ).select("doc_id", F.xxhash64("sh").alias("sh"))
    a = ex.select(F.col("doc_id").alias("ida"), "sh")
    b = ex.select(F.col("doc_id").alias("idb"), "sh")
    pairs = (
        a.join(b, "sh")
        .where(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        pairs.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("ida"), F.col("n_sh").alias("na"))),
            "ida",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("idb"), F.col("n_sh").alias("nb"))),
            "idb",
        )
        .withColumn(
            "jac",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
        )
        .where(F.col("jac") >= JACCARD_THRESHOLD)
        .select("ida", "idb", "n_common", "jac")
        .orderBy("ida", "idb")
    )
    return out


_DEDUP_NGRAM_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
pairs AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS n_common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT ida, idb, n_common,
       n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common)::DOUBLE AS jac
FROM pairs
JOIN sizes sa ON ida = sa.doc_id
JOIN sizes sb ON idb = sb.doc_id
WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common)::DOUBLE >= {JACCARD_THRESHOLD}
ORDER BY ida, idb
"""


def _minhash_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding: H md5-family minhashes per doc, banded into
    (H / r) band keys; docs sharing any band key become candidate pairs,
    verified with exact Jaccard. The band-key groupBy is the scale path: no
    all-pairs comparison, one shuffle on band keys."""
    docs = _read(spark, sf_dir, "documents")
    sh = _shingles_df(docs, cache_key=sf_dir)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("s")))).alias(f"mh{j}")
        for j in range(MINHASH_HASHES)
    ]
    sig = ex.groupBy("doc_id").agg(*aggs)
    n_bands = MINHASH_HASHES // MINHASH_BAND_ROWS
    band_cols = []
    for b in range(n_bands):
        parts = [
            F.col(f"mh{b * MINHASH_BAND_ROWS + r}") for r in range(MINHASH_BAND_ROWS)
        ]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat(*parts)).alias("key"))
        )
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # the library's capped candidate join (star emission over
    # LSH_MAX_BUCKET-row buckets + over-cap logging) — the gate exercises
    # the exact skew-cap code path curate()/minhash_lsh_pairs run
    from vectorchord_spark.pipeline.dedup import capped_band_pairs

    cand = capped_band_pairs(
        banded, ["band", "key"], "doc_id", LSH_MAX_BUCKET, "dedup_minhash_lsh"
    )
    common = (
        sh.select(F.col("doc_id").alias("ida"), F.col("shingles").alias("sha"))
        .join(cand, "ida")
        .join(
            sh.select(F.col("doc_id").alias("idb"), F.col("shingles").alias("shb")),
            "idb",
        )
        .withColumn("n_common", F.size(F.array_intersect("sha", "shb")))
    )
    # shingle-set sizes come straight off the already-joined arrays —
    # the former two broadcast size-joins carried size(shingles) per side,
    # a column F.size(sha)/F.size(shb) yields identically for free
    # (4 joins -> 2 in the verify stage)
    return (
        common
        .withColumn("na", F.size("sha"))
        .withColumn("nb", F.size("shb"))
        .withColumn(
            "jac",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
        )
        .select("ida", "idb", "n_common", "jac")
        .orderBy("ida", "idb")
    )


def _minhash_sql() -> str:
    mh_cols = ", ".join(
        f"min(md5('{j}|' || s)) AS mh{j}" for j in range(MINHASH_HASHES)
    )
    n_bands = MINHASH_HASHES // MINHASH_BAND_ROWS
    band_rows = []
    for b in range(n_bands):
        parts = " || ".join(
            f"mh{b * MINHASH_BAND_ROWS + r}" for r in range(MINHASH_BAND_ROWS)
        )
        band_rows.append(f"SELECT doc_id, {b} AS band, md5({parts}) AS key FROM sig")
    bands = " UNION ALL ".join(band_rows)
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sig AS (SELECT doc_id, {mh_cols} FROM ex GROUP BY doc_id),
banded AS ({bands}),
bstats AS (
  SELECT band, key, count(*) AS bsz, min(doc_id) AS bmin
  FROM banded GROUP BY band, key
),
cand AS (
  SELECT DISTINCT ida, idb FROM (
    SELECT a.doc_id AS ida, b.doc_id AS idb
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    JOIN bstats s ON s.band = a.band AND s.key = a.key
    WHERE s.bsz <= {LSH_MAX_BUCKET}
    UNION ALL
    SELECT s.bmin AS ida, x.doc_id AS idb
    FROM banded x JOIN bstats s ON s.band = x.band AND s.key = x.key
    WHERE s.bsz > {LSH_MAX_BUCKET} AND x.doc_id <> s.bmin
  )
),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
withsets AS (
  SELECT c.ida, c.idb,
         len(list_intersect(sa.shingles, sb.shingles)) AS n_common
  FROM cand c JOIN sh sa ON c.ida = sa.doc_id JOIN sh sb ON c.idb = sb.doc_id
)
SELECT w.ida, w.idb, w.n_common,
       w.n_common::DOUBLE / (za.n_sh + zb.n_sh - w.n_common)::DOUBLE AS jac
FROM withsets w
JOIN sizes za ON w.ida = za.doc_id
JOIN sizes zb ON w.idb = zb.doc_id
ORDER BY w.ida, w.idb
"""


_SIMHASH_BITS = 16


def _simhash_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over word tokens (md5-derived per-word hash, per-bit
    majority vote with multiplicity)."""
    docs = _read(spark, sf_dir, "documents")
    ex = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    h = F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("bigint")
    ex = ex.select("doc_id", h.alias("h"))
    aggs = [
        F.sum(
            (F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"b{j}")
        for j in range(_SIMHASH_BITS)
    ]
    per_doc = ex.groupBy("doc_id").agg(*aggs)
    sim = None
    for j in range(_SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return per_doc.select(
        "doc_id", sim.cast("bigint").alias("simhash")
    ).orderBy("doc_id")


def _simhash_sql() -> str:
    bit_sums = ", ".join(
        f"sum((((h >> {j}) & 1) * 2 - 1)) AS b{j}" for j in range(_SIMHASH_BITS)
    )
    sim = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS)
    )
    return f"""
WITH ex AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 4))::BIGINT AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
),
per_doc AS (SELECT doc_id, {bit_sums} FROM ex GROUP BY doc_id)
SELECT doc_id, ({sim})::BIGINT AS simhash FROM per_doc ORDER BY doc_id
"""


def _embed_neardup_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute-force all-pairs — the
    small-side baseline; the LSH/IVF bucketed variant is the scale path).

    Executed as a broadcast block-matrix job: the right side is broadcast
    once, each Arrow batch of the left side scores against the whole block
    with a sequential per-dimension fold (bit-identical to the oracle's
    left-associated ``+`` chain), and only pairs ≥ τ are emitted — no 2M-row
    cross-join materialization, no shuffle except the final tiny sort."""
    from typing import Iterator

    import pandas as pd

    emb = _read(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids_all = np.array([r.vec_id for r in rows], np.int64)
    mat_all = np.array([r.embedding for r in rows], np.float32).astype(np.float64)
    bc = spark.sparkContext.broadcast((ids_all, mat_all))
    dim = mat_all.shape[1]

    def fold_norm(m: np.ndarray) -> np.ndarray:
        acc = np.zeros(m.shape[0])
        for i in range(dim):
            acc = acc + m[:, i] * m[:, i]
        return np.sqrt(acc)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_b, mat_b = bc.value
        nb = fold_norm(mat_b)
        for pdf in batches:
            if not len(pdf):
                continue
            a_ids = pdf["vec_id"].to_numpy(np.int64)
            a_mat = np.stack([np.asarray(v, np.float32) for v in pdf["embedding"]]).astype(np.float64)
            dot = np.zeros((len(a_ids), len(ids_b)))
            for i in range(dim):
                dot = dot + a_mat[:, i : i + 1] * mat_b[None, :, i][0][None, :]
            na = fold_norm(a_mat)
            sim = dot / (na[:, None] * nb[None, :])
            ii, jj = np.where((sim >= NEARDUP_COS) & (a_ids[:, None] < ids_b[None, :]))
            yield pd.DataFrame(
                {
                    "ida": a_ids[ii],
                    "idb": ids_b[jj],
                    "sim": sim[ii, jj],
                }
            )

    return (
        emb.select("vec_id", "embedding")
        .repartition(32)  # one small input file → spread the matmul blocks
        .mapInPandas(score, "ida long, idb long, sim double")
        .orderBy("ida", "idb")
    )


_EMBED_NEARDUP_SQL = f"""
SELECT a.vec_id AS ida, b.vec_id AS idb,
       {_pair_dot_chain("a.embedding", "b.embedding")}
         / (sqrt({_norm2_chain("a.embedding")}) * sqrt({_norm2_chain("b.embedding")})) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_pair_dot_chain("a.embedding", "b.embedding")}
         / (sqrt({_norm2_chain("a.embedding")}) * sqrt({_norm2_chain("b.embedding")})) >= {NEARDUP_COS}
ORDER BY ida, idb
"""


def _range_ip_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    dist = D.ip("embedding", D.vec_lit(QUERY_VEC))
    return (
        emb.select("vec_id", dist.alias("dist"))
        .where(F.col("dist") < RANGE_IP_RADIUS)
        .orderBy("dist", "vec_id")
    )


def _range_cos_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    qn = float(np.sqrt(np.sum(np.float64(QUERY_VEC) ** 2)))
    dist = F.lit(1.0) - D.dot("embedding", D.vec_lit(QUERY_VEC)) / (
        D.norm("embedding") * F.lit(qn)
    )
    return (
        emb.select("vec_id", dist.alias("dist"))
        .where(F.col("dist") < RANGE_COS_RADIUS)
        .orderBy("dist", "vec_id")
    )


def _range_ip_sql() -> str:
    return f"""
SELECT vec_id, dist FROM (
  SELECT vec_id, -{_dot_chain("embedding", QUERY_VEC)} AS dist FROM embeddings
) WHERE dist < {RANGE_IP_RADIUS}
ORDER BY dist, vec_id
"""


def _range_cos_sql() -> str:
    qn = float(np.sqrt(np.sum(np.float64(QUERY_VEC) ** 2)))
    return f"""
SELECT vec_id, dist FROM (
  SELECT vec_id,
         1.0 - {_dot_chain("embedding", QUERY_VEC)}
           / (sqrt({_norm2_chain("embedding")}) * ({qn!r})) AS dist
  FROM embeddings
) WHERE dist < {RANGE_COS_RADIUS}
ORDER BY dist, vec_id
"""


def _simhash_pairs_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All near-dup pairs by SimHash Hamming distance ≤ 3 via the
    pigeonhole-banded scale path: with 16/4 = 4 bands > max_hamming = 3,
    every qualifying pair must agree on ≥ 1 band, so candidate generation
    is a groupBy-join on band values (no crossJoin) yet the result is
    EXACTLY the all-pairs answer — which is what the oracle computes."""
    from vectorchord_spark.pipeline.dedup import simhash_near_pairs

    docs = _read(spark, sf_dir, "documents")
    return simhash_near_pairs(
        docs,
        id_col="doc_id",
        text_col="text",
        bits=_SIMHASH_BITS,
        max_hamming=SIMHASH_MAX_HAMMING,
        band_bits=4,
    ).orderBy("ida", "idb")


def _simhash_pairs_sql() -> str:
    inner = _simhash_sql().replace("ORDER BY doc_id", "")
    return f"""
WITH sigs AS ({inner})
SELECT a.doc_id AS ida, b.doc_id AS idb,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
ORDER BY ida, idb
"""


# r09 fold: the former `dedup_groups` entry merged into
# `dedup_keep_best` — keep_best already computes the components (its
# first stage IS dedup_groups), so one entry now emits EVERY node's
# (component, keeper, is_dup) row: the full clusters output plus the
# survivor choice. Freed the catalog slot for `dsir_select` (the
# 100-entry gate budget).
def _dedup_groups_sql_inner() -> str:
    return f"""
WITH RECURSIVE base AS ({_DEDUP_NGRAM_SQL.replace("ORDER BY ida, idb", "")}),
edges AS (
  SELECT ida AS a, idb AS b FROM base
  UNION
  SELECT idb AS a, ida AS b FROM base
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT x.id, e.b FROM reach x JOIN edges e ON e.a = x.r
)
SELECT id, min(r) AS component FROM reach GROUP BY id
"""


def _dedup_paragraph_neardup_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level NEAR-dup candidate pairs (pipeline.dedup.
    paragraph_neardup_pairs): non-overlapping 32-word windows → capped
    MinHash-LSH banding at (doc, paragraph) granularity — the sub-document
    twin of dedup_minhash_lsh. The oracle replays the window chunking,
    the md5 minhash family, and the bucket-cap star semantics on the
    composite string ids."""
    from vectorchord_spark.pipeline.dedup import paragraph_neardup_pairs

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return paragraph_neardup_pairs(
        docs, para_words=32, n=3,
        num_hashes=MINHASH_HASHES, band_rows=MINHASH_BAND_ROWS,
        max_bucket=LSH_MAX_BUCKET,
    ).orderBy("ida", "para_a", "idb", "para_b")


def _dedup_paragraph_neardup_sql() -> str:
    mh_cols = ", ".join(
        f"min(md5('{j}|' || s)) AS mh{j}" for j in range(MINHASH_HASHES)
    )
    n_bands = MINHASH_HASHES // MINHASH_BAND_ROWS
    band_rows = []
    for b in range(n_bands):
        parts = " || ".join(
            f"mh{b * MINHASH_BAND_ROWS + r}" for r in range(MINHASH_BAND_ROWS)
        )
        band_rows.append(f"SELECT pid, {b} AS band, md5({parts}) AS key FROM sig")
    bands = " UNION ALL ".join(band_rows)
    return f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n
  FROM documents
),
paras AS (
  SELECT doc_id::VARCHAR || '#' || chunk_no::VARCHAR AS pid,
         array_to_string(
           list_slice(w, chunk_no * 32 + 1, least(chunk_no * 32 + 32, n)),
           ' ') AS ptext
  FROM (
    SELECT doc_id, w, n,
           unnest(range(0, 1 + CAST(ceil(greatest(n - 32, 0) / 32.0) AS BIGINT)))
             AS chunk_no
    FROM base
  )
),
sh AS (
  SELECT pid,
         CASE WHEN len(pw) >= 3 THEN
           list_distinct(list_transform(range(1, len(pw) - 1),
                         i -> pw[i] || ' ' || pw[i+1] || ' ' || pw[i+2]))
         ELSE [ptext] END AS shingles
  FROM (SELECT pid, ptext, string_split(ptext, ' ') AS pw FROM paras)
),
ex AS (SELECT pid, unnest(shingles) AS s FROM sh),
sig AS (SELECT pid, {mh_cols} FROM ex GROUP BY pid),
banded AS ({bands}),
bstats AS (
  SELECT band, key, count(*) AS bsz, min(pid) AS bmin
  FROM banded GROUP BY band, key
),
cand AS (
  SELECT DISTINCT ida, idb FROM (
    SELECT a.pid AS ida, b.pid AS idb
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.key = b.key AND a.pid < b.pid
    JOIN bstats s ON s.band = a.band AND s.key = a.key
    WHERE s.bsz <= {LSH_MAX_BUCKET}
    UNION ALL
    SELECT s.bmin AS ida, x.pid AS idb
    FROM banded x JOIN bstats s ON s.band = x.band AND s.key = x.key
    WHERE s.bsz > {LSH_MAX_BUCKET} AND x.pid <> s.bmin
  )
)
SELECT split_part(ida, '#', 1) AS ida,
       split_part(ida, '#', 2)::INT AS para_a,
       split_part(idb, '#', 1) AS idb,
       split_part(idb, '#', 2)::INT AS para_b
FROM cand
ORDER BY ida, para_a, idb, para_b
"""


def _curate_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call curation (pipeline/curate.py) through the hard oracle
    gate: default config (length 10..1e6 → Gopher repetition 0.2/0.3 →
    heuristic quality ≥ 0.3 → exact dedup → capped MinHash-LSH near-dedup
    with keep-best-quality), emitting every input doc's ROUTING — its
    audit stage, or 'kept'. kept ∪ audit partitions the input exactly, so
    one row per doc and the oracle replays the whole stage cascade
    (first-failing-stage-wins) in SQL. Detail strings are excluded: their
    float formatting is engine-specific, the routing is not."""
    from vectorchord_spark.pipeline.curate import CurateConfig, curate

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    res = curate(docs, CurateConfig())
    return (
        res.audit.select(F.col("id").alias("doc_id"), "stage")
        .unionByName(res.kept.select("doc_id", F.lit("kept").alias("stage")))
        .orderBy("doc_id", "stage")
    )


def _curate_sql() -> str:
    mh_cols = ", ".join(
        f"min(md5('{j}|' || s)) AS mh{j}" for j in range(MINHASH_HASHES)
    )
    n_bands = MINHASH_HASHES // MINHASH_BAND_ROWS
    band_rows = []
    for b in range(n_bands):
        parts = " || ".join(
            f"mh{b * MINHASH_BAND_ROWS + r}" for r in range(MINHASH_BAND_ROWS)
        )
        band_rows.append(f"SELECT doc_id, {b} AS band, md5({parts}) AS key FROM sig")
    bands = " UNION ALL ".join(band_rows)
    return f"""
WITH RECURSIVE
wbase AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
g2 AS (
  SELECT doc_id, unnest(list_transform(range(1, len(w)),
                        i -> w[i] || ' ' || w[i+1])) AS g
  FROM wbase WHERE len(w) >= 2
),
c2 AS (
  SELECT doc_id, max(c) AS max2
  FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1
),
g3 AS (
  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
  FROM wbase WHERE len(w) >= 3
),
c3 AS (
  SELECT doc_id, sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup3
  FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1
),
scored AS (
  SELECT b.doc_id, b.text,
         len(b.w)::BIGINT AS n_words,
         2.0 * coalesce(c2.max2, 0)::DOUBLE / len(b.w)::DOUBLE AS top2,
         least(3.0 * coalesce(c3.dup3, 0)::DOUBLE / len(b.w)::DOUBLE, 1.0)
           AS dup3f,
         (least(len(b.w)::DOUBLE / 100.0, 1.0)
          + len(list_distinct(b.w))::DOUBLE / len(b.w)::DOUBLE) / 2.0 AS q
  FROM wbase b
  LEFT JOIN c2 ON b.doc_id = c2.doc_id
  LEFT JOIN c3 ON b.doc_id = c3.doc_id
),
staged AS (
  SELECT doc_id, text, q,
    CASE
      WHEN NOT coalesce(n_words >= 10 AND n_words <= 1000000, FALSE)
        THEN 'length'
      WHEN NOT coalesce(top2 <= 0.2 AND dup3f <= 0.3, FALSE)
        THEN 'repetition'
      WHEN NOT coalesce(q >= 0.3, FALSE) THEN 'quality'
    END AS stage
  FROM scored
),
surv4 AS (SELECT doc_id, text, q FROM staged WHERE stage IS NULL),
exact AS (
  SELECT doc_id, text, q,
         min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
  FROM surv4
),
surv5 AS (SELECT doc_id, text, q FROM exact WHERE doc_id = keep_id),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN
           list_distinct(list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         ELSE [text] END AS shingles
  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM surv5)
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sig AS (SELECT doc_id, {mh_cols} FROM ex GROUP BY doc_id),
banded AS ({bands}),
bstats AS (
  SELECT band, key, count(*) AS bsz, min(doc_id) AS bmin
  FROM banded GROUP BY band, key
),
cand AS (
  SELECT DISTINCT ida, idb FROM (
    SELECT a.doc_id AS ida, b.doc_id AS idb
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    JOIN bstats s ON s.band = a.band AND s.key = a.key
    WHERE s.bsz <= {LSH_MAX_BUCKET}
    UNION ALL
    SELECT s.bmin AS ida, x.doc_id AS idb
    FROM banded x JOIN bstats s ON s.band = x.band AND s.key = x.key
    WHERE s.bsz > {LSH_MAX_BUCKET} AND x.doc_id <> s.bmin
  )
),
cedges AS (
  SELECT ida AS a, idb AS b FROM cand
  UNION
  SELECT idb AS a, ida AS b FROM cand
),
cnodes AS (SELECT DISTINCT a AS id FROM cedges),
reach(id, r) AS (
  SELECT id, id FROM cnodes
  UNION
  SELECT x.id, e.b FROM reach x JOIN cedges e ON e.a = x.r
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
ranked AS (
  SELECT c.id, c.component,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY s.q DESC, c.id) AS rn
  FROM comp c JOIN surv5 s ON s.doc_id = c.id
),
neardup AS (SELECT id FROM ranked WHERE rn > 1)
SELECT doc_id, stage FROM staged WHERE stage IS NOT NULL
UNION ALL
SELECT doc_id, 'exact_dup' AS stage FROM exact WHERE doc_id <> keep_id
UNION ALL
SELECT id AS doc_id, 'near_dup' AS stage FROM neardup
UNION ALL
SELECT doc_id, 'kept' AS stage FROM surv5
WHERE doc_id NOT IN (SELECT id FROM neardup)
ORDER BY doc_id, stage
"""


def _dedup_keep_best_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus dedup flow (what a user actually runs):
    near-dup pairs → connected components (iterative DataFrame min-label
    propagation; the oracle re-derives them with a recursive
    transitive-closure CTE) → keep the highest-quality doc per duplicate
    cluster. Emits EVERY clustered node's row (doc, its cluster, the
    cluster's keeper, dup flag) — the cluster assignment surface (the
    former `dedup_groups` entry, folded here r09) and the survivor
    choice in one result. Composes three already-hash-gated pieces
    (ngram pairs, components, bit-exact quality score), so the float
    ranking in the keeper window matches the oracle exactly."""
    from pyspark.sql import Window

    from vectorchord_spark.pipeline.dedup import connected_components
    from vectorchord_spark.pipeline.text import quality_score

    pairs = _dedup_ngram_fn(spark, sf_dir).select("ida", "idb")
    comp = connected_components(pairs)
    docs = _read(spark, sf_dir, "documents")
    # join FIRST, score after: the ranking only reads quality for
    # clustered docs, but a projection below the join computes the
    # expensive quality expression for every doc. Joining the tiny
    # component frame to the texts and projecting on the joined rows
    # scores members only, with no extra pass (A/B in curate:
    # all/semi/join-first 0.91/1.23/0.83s, identical rows)
    # keeper_id comes from first(id) over the SAME window that ranks —
    # the default frame (unbounded preceding → current row) makes first()
    # the top-ranked id for every member, so one WindowExec answers both
    # and the former rn==1 self-join (an extra exchange + join of the
    # ranked frame against itself) is gone. A/B at sf0.1, identical rows
    # asserted: 0.648 → 0.448s median (OPTIMIZATION_r13.md).
    w = Window.partitionBy("component").orderBy(F.desc("quality"), "id")
    ranked = (
        comp.join(docs.select(F.col("doc_id").alias("id"), "text"), "id")
        .withColumn("quality", quality_score("text"))
        .drop("text")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("keeper_id", F.first("id").over(w))
    )
    return (
        ranked.select(
            F.col("id").alias("doc_id"),
            "component",
            "keeper_id",
            (F.col("rn") > 1).cast("int").alias("is_dup"),
        )
        .orderBy("doc_id")
    )


def _dedup_keep_best_sql() -> str:
    return f"""
WITH comp AS ({_dedup_groups_sql_inner()}),
q AS (
  SELECT doc_id AS id,
         (least(len(string_split(text, ' '))::DOUBLE / 100.0, 1.0)
          + len(list_distinct(string_split(text, ' ')))::DOUBLE
            / len(string_split(text, ' '))::DOUBLE) / 2.0 AS quality
  FROM documents),
ranked AS (
  SELECT c.id, c.component, q.quality,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY q.quality DESC, c.id) AS rn
  FROM comp c JOIN q ON q.id = c.id)
SELECT r.id AS doc_id, r.component, k.id AS keeper_id,
       (CASE WHEN r.rn > 1 THEN 1 ELSE 0 END) AS is_dup
FROM ranked r
JOIN ranked k ON k.component = r.component AND k.rn = 1
ORDER BY doc_id
"""


_LSH_TABLES = 8
_LSH_PLANES = 4
_LSH_SEED = 42


def _lsh_planes() -> np.ndarray:
    return np.random.default_rng(_LSH_SEED).normal(size=(_LSH_TABLES, _LSH_PLANES, DIM))


def _embed_neardup_lsh_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-scale embedding dedup path: sign-random-projection LSH
    buckets → same-bucket candidate pairs → exact cosine verify. Fully
    deterministic (fixed hyperplanes), so SQL can reproduce it exactly."""
    from vectorchord_spark.pipeline.dedup import embedding_lsh_pairs

    emb = _read(spark, sf_dir, "embeddings")
    return (
        embedding_lsh_pairs(
            emb,
            dim=DIM,
            n_planes=_LSH_PLANES,
            n_tables=_LSH_TABLES,
            seed=_LSH_SEED,
            threshold=NEARDUP_COS,
            max_bucket=LSH_MAX_BUCKET,
        )
        .orderBy("ida", "idb")
    )


def _embed_neardup_lsh_sql() -> str:
    planes = _lsh_planes()
    bucket_exprs = []
    for t in range(_LSH_TABLES):
        bits = " + ".join(
            f"(CASE WHEN {_dot_chain('embedding', [float(x) for x in planes[t, p]])} >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(_LSH_PLANES)
        )
        bucket_exprs.append(f"SELECT vec_id, embedding, {t} AS t, ({bits}) AS bucket FROM embeddings")
    banded = " UNION ALL ".join(bucket_exprs)
    return f"""
WITH banded AS ({banded}),
bstats AS (
  SELECT t, bucket, count(*) AS bsz, min(vec_id) AS bmin
  FROM banded GROUP BY t, bucket
),
candids AS (
  SELECT DISTINCT ida, idb FROM (
    SELECT a.vec_id AS ida, b.vec_id AS idb
    FROM banded a
    JOIN banded b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    JOIN bstats s ON s.t = a.t AND s.bucket = a.bucket
    WHERE s.bsz <= {LSH_MAX_BUCKET}
    UNION ALL
    SELECT s.bmin AS ida, x.vec_id AS idb
    FROM banded x JOIN bstats s ON s.t = x.t AND s.bucket = x.bucket
    WHERE s.bsz > {LSH_MAX_BUCKET} AND x.vec_id <> s.bmin
  )
),
cand AS (
  SELECT c.ida, c.idb, ea.embedding AS va, eb.embedding AS vb
  FROM candids c
  JOIN embeddings ea ON ea.vec_id = c.ida
  JOIN embeddings eb ON eb.vec_id = c.idb
)
SELECT ida, idb,
       {_pair_dot_chain("va", "vb")}
         / (sqrt({_norm2_chain("va")}) * sqrt({_norm2_chain("vb")})) AS sim
FROM cand
WHERE {_pair_dot_chain("va", "vb")}
         / (sqrt({_norm2_chain("va")}) * sqrt({_norm2_chain("vb")})) >= {NEARDUP_COS}
ORDER BY ida, idb
"""


def _quantize_roundtrip_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rabitq8/rabitq4 quantize→dequantize round-trip error contract
    (S7/S8): per-vector reconstruction error, relative to the vector norm,
    must stay under the reference's accuracy envelope (the dequantize.slt
    bound protocol, /root/reference/tests/general/dequantize.slt:1-20 —
    absolute <0.07 @8-bit / <1.0 @4-bit on a ||v||≈14 test vector ⇒
    relative ~0.005/0.07; we assert 4× headroom). The rotation+packing math
    isn't SQL-expressible, but the *contract outcome* is deterministic for
    fixed data, so the oracle is the constant contract row — this puts
    S7/S8 inside the driver's hard gate."""
    from vectorchord_spark.functions import quantize as Qz

    emb = _read(spark, sf_dir, "embeddings")
    nrm = D.norm("embedding")
    out = emb.select(
        "vec_id",
        (
            D.l2(
                Qz.dequantize_to_vector(
                    Qz.quantize_to_rabitq("embedding", bits=8), bits=8
                ),
                "embedding",
            )
            / nrm
        ).alias("rel8"),
        (
            D.l2(
                Qz.dequantize_to_vector(
                    Qz.quantize_to_rabitq("embedding", bits=4), bits=4
                ),
                "embedding",
            )
            / nrm
        ).alias("rel4"),
    )
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("rel8").alias("m8"),
        F.max("rel4").alias("m4"),
    ).first()
    return spark.createDataFrame(
        [
            (
                int(agg.n > 0),
                int(agg.m8 < 0.02),
                int(agg.m4 < 0.30),
            )
        ],
        "has_rows bigint, err8_ok bigint, err4_ok bigint",
    )


_QUANTIZE_ROUNDTRIP_SQL = """
SELECT CAST(1 AS BIGINT) AS has_rows,
       CAST(1 AS BIGINT) AS err8_ok,
       CAST(1 AS BIGINT) AS err4_ok
"""


# ---------------------------------------------------------------------------
# IVF-index-backed operators (the engine's core product)
# ---------------------------------------------------------------------------

_IVF_CACHE: dict = {}

#: every index tempdir created by catalog entries registers here and is
#: removed at interpreter exit — long-lived processes running the catalog
#: repeatedly no longer accumulate orphaned index copies (ADVICE r02)
_TMPDIRS: list[str] = []


def _register_tmpdir(path: str) -> str:
    if not _TMPDIRS:
        import atexit
        import shutil

        atexit.register(
            lambda: [shutil.rmtree(d, ignore_errors=True) for d in _TMPDIRS]
        )
    _TMPDIRS.append(path)
    return path


def _get_ivf_index(spark: SparkSession, sf_dir: str, metric: str):
    """Build (once per process) an IVF index over the embeddings table."""
    import tempfile

    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions

    key = (sf_dir, metric)
    idx = _IVF_CACHE.get(key)
    if idx is not None:
        return idx
    path = _register_tmpdir(tempfile.mkdtemp(prefix=f"vc_ivf_{metric}_"))
    emb = _read(spark, sf_dir, "embeddings")
    idx = IvfIndex.build(
        spark,
        emb,
        "vec_id",
        "embedding",
        path,
        IvfOptions(metric=metric, lists=[16]),
    )
    _IVF_CACHE[key] = idx
    return idx


def _ann_ivf_exhaustive_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF pipeline (build → encode → probe all → rerank): with
    exhaustive probes the result equals brute-force k-NN, so the brute-force
    SQL is a valid oracle for the whole index machinery."""
    idx = _get_ivf_index(spark, sf_dir, "l2")
    res = idx.search(QUERY_VEC, k=10, probes=None, rerank_factor=None)
    return res.select(F.col("id").alias("vec_id"), "dist")


def _ann_prefilter_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefiltered ANN (Q9): the label predicate is applied BEFORE the
    rerank as a left-semi join on the scored candidates (the reference's
    prefilter GUC semantics, src/index/gucs.rs:97-133). Exhaustive probes ⇒
    exact ⇒ the filtered brute-force SQL is the oracle."""
    idx = _get_ivf_index(spark, sf_dir, "l2")
    emb = _read(spark, sf_dir, "embeddings")
    allowed = emb.where(F.col("label") < 3).select(F.col("vec_id").alias("id"))
    res = idx.search(
        QUERY_VEC, k=10, probes=None, rerank_factor=None, prefilter=allowed
    )
    return res.select(F.col("id").alias("vec_id"), "dist")


_ANN_PREFILTER_SQL = f"""
SELECT vec_id, sqrt({_l2sq_chain("embedding", QUERY_VEC)}) AS dist
FROM embeddings
WHERE label < 3
ORDER BY dist, vec_id
LIMIT 10
"""


def _ann_multilevel_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level centroid tree (B6/Q2): descent probes the top level first,
    then children of the surviving branches (reference multi-level lists,
    vchordrq types.rs:40-106). Probing ALL cells at both levels ⇒ exact ⇒
    brute-force oracle applies to the multi-level machinery end-to-end."""
    import tempfile

    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions

    key = (sf_dir, "l2-multilevel")
    idx = _IVF_CACHE.get(key)
    if idx is None:
        path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_ivf_ml_"))
        emb = _read(spark, sf_dir, "embeddings")
        idx = IvfIndex.build(
            spark, emb, "vec_id", "embedding", path,
            IvfOptions(metric="l2", lists=[4, 16]),
        )
        _IVF_CACHE[key] = idx
    res = idx.search(QUERY_VEC, k=10, probes=None, rerank_factor=None)
    return res.select(F.col("id").alias("vec_id"), "dist")


def _ann_external_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External build (B7): the centroid tree comes from a user-supplied
    ``(id, parent, vector)`` table (validated: single root, uniform height,
    acyclic — am_build.rs:1589-1752) instead of the internal k-means.
    Exhaustive probing of the externally-built index ⇒ exact ⇒ the
    brute-force oracle gates the whole external-build path."""
    import tempfile

    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions
    from vectorchord_spark.operators import kmeans as KM

    key = (sf_dir, "l2-external")
    idx = _IVF_CACHE.get(key)
    if idx is None:
        emb = _read(spark, sf_dir, "embeddings")
        sample = np.stack(
            emb.limit(512).toPandas()["embedding"].to_numpy()
        ).astype(np.float32)
        leaves = KM.lloyd(sample, 8, iterations=10, seed=11)
        rows = [(0, None, [float(x) for x in np.mean(leaves, axis=0)])]
        rows += [
            (i + 1, 0, [float(x) for x in c]) for i, c in enumerate(leaves)
        ]
        cent = spark.createDataFrame(
            rows, "id long, parent long, vector array<float>"
        )
        path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_ivf_ext_"))
        idx = IvfIndex.from_centroid_table(
            spark, emb, cent, "vec_id", "embedding", path,
            IvfOptions(metric="l2"),
        )
        _IVF_CACHE[key] = idx
    res = idx.search(QUERY_VEC, k=10, probes=None, rerank_factor=None)
    return res.select(F.col("id").alias("vec_id"), "dist")


def _ann_kmeans_dim_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduced-dimension k-means build (B3): centroids are clustered in the
    rotated+truncated ``kmeans_dimension`` subspace, then re-estimated in
    the full dimension (reference build_options ``kmeans_dimension``,
    src/index/vchordrq/types.rs:40-106; k_means.rs dim-reduction pass).
    Cluster assignment only affects which cell stores each vector —
    exhaustive probing is exact regardless, so the brute-force oracle gates
    the reduced-dimension build machinery end-to-end."""
    import tempfile

    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions

    key = (sf_dir, "l2-kmeansdim")
    idx = _IVF_CACHE.get(key)
    if idx is None:
        path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_ivf_kd_"))
        emb = _read(spark, sf_dir, "embeddings")
        idx = IvfIndex.build(
            spark, emb, "vec_id", "embedding", path,
            IvfOptions(metric="l2", lists=[16], kmeans_dimension=4),
        )
        _IVF_CACHE[key] = idx
    res = idx.search(QUERY_VEC, k=10, probes=None, rerank_factor=None)
    return res.select(F.col("id").alias("vec_id"), "dist")


def _sql_ann_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-transparent ANN: a plain ``ORDER BY vc_l2(col, q) LIMIT k`` SQL
    string is rewritten off the analyzed Catalyst plan onto the registered
    IVF index (the reference's planner-transparent index usage,
    sql/install/vchord--1.1.1.sql:1138-1228). With the exhaustive-probe
    registration the rewrite is exact, so the brute-force SQL is the
    oracle; the fn raises if the rewrite did NOT engage, so a silent
    fallback to the un-accelerated path can't fake a green row."""
    from vectorchord_spark.functions.quantize import register_sql_functions
    from vectorchord_spark.plans import register_ann_index, try_rewrite_topk

    idx = _get_ivf_index(spark, sf_dir, "l2")
    emb = _read(spark, sf_dir, "embeddings")
    view = "vc_sqlann_embeddings"
    emb.createOrReplaceTempView(view)
    register_sql_functions(spark)
    register_ann_index(view, "embedding", idx, id_col="vec_id")
    arr = "array(" + ",".join(repr(v) for v in QUERY_VEC) + ")"
    sql = (
        f"SELECT vec_id, vc_l2(embedding, {arr}) AS dist "
        f"FROM {view} ORDER BY dist LIMIT 10"
    )
    res = try_rewrite_topk(spark, spark.sql(sql))
    if res is None:
        raise RuntimeError("transparent ANN rewrite did not engage")
    return res


def _sql_ann_range_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-transparent sphere search: ``WHERE vc_l2(col, q) < r`` rewritten
    onto ``IvfIndex.range_search`` (the reference's ``<<->>`` SEARCH
    strategy, scanners/default.rs:104-121). Exhaustive probing ⇒ exact ⇒
    the brute-force range SQL is the oracle; raises if the rewrite did not
    engage."""
    from vectorchord_spark.functions.quantize import register_sql_functions
    from vectorchord_spark.plans import register_ann_index, try_rewrite_range

    idx = _get_ivf_index(spark, sf_dir, "l2")
    emb = _read(spark, sf_dir, "embeddings")
    view = "vc_sqlann_embeddings"
    emb.createOrReplaceTempView(view)
    register_sql_functions(spark)
    register_ann_index(view, "embedding", idx, id_col="vec_id")
    arr = "array(" + ",".join(repr(v) for v in QUERY_VEC) + ")"
    sql = (
        f"SELECT vec_id, vc_l2(embedding, {arr}) AS dist "
        f"FROM {view} WHERE vc_l2(embedding, {arr}) < {RANGE_RADIUS!r}"
    )
    res = try_rewrite_range(spark, spark.sql(sql))
    if res is None:
        raise RuntimeError("transparent range rewrite did not engage")
    return res.orderBy("dist", "vec_id")


def _recall_contract_df(
    spark: SparkSession, ann_ids: set, exact_ids: set, threshold: float
) -> DataFrame:
    """One-row recall contract (the S13 evaluator protocol,
    /root/reference/sql/install/vchord--1.1.1.sql:1021-1092, turned into a
    deterministic gate row: fixed data + fixed seeds ⇒ the recall value is
    reproducible, so the oracle is a constant)."""
    recall = (
        float(len(ann_ids & exact_ids)) / len(exact_ids) if exact_ids else float("nan")
    )
    return spark.createDataFrame(
        [(int(len(ann_ids)), int(recall >= threshold))],
        "n_results bigint, recall_ok bigint",
    )


_RECALL_CONTRACT_SQL = """
SELECT CAST(10 AS BIGINT) AS n_results, CAST(1 AS BIGINT) AS recall_ok
"""


_EXACT_KNN_CACHE: dict = {}


def _exact_knn_ids(spark: SparkSession, sf_dir: str, k: int = 10) -> set:
    key = (sf_dir, k)
    if key not in _EXACT_KNN_CACHE:
        emb = _read(spark, sf_dir, "embeddings")
        dist = D.l2("embedding", D.vec_lit(QUERY_VEC))
        _EXACT_KNN_CACHE[key] = {
            r.vec_id
            for r in emb.select("vec_id", dist.alias("d"))
            .orderBy("d", "vec_id")
            .limit(k)
            .collect()
        }
    return _EXACT_KNN_CACHE[key]


def _ann_ivf_probes_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual approximate search path (probes, ε=1.9, guaranteed
    rerank), gated by two deterministic contracts:

    - ``probed_exact_ok``: the reference's lazy-rerank guarantee — the
      probed search (probes=4/16, rerank_factor=4) returns EXACTLY brute
      force restricted to the probed cells' rows
      (/root/reference/crates/vchordrq/src/rerank.rs:53-101); this holds by
      construction, independent of the data distribution;
    - ``recall_ok``: global recall@10 ≥ 0.8 at probes=12/16 (the sf
      embeddings are uniform, so global recall tracks the probe fraction;
      0.9 observed, one-neighbor margin).
    """
    idx = _get_ivf_index(spark, sf_dir, "l2")
    ann = {
        r.id
        for r in idx.search(
            QUERY_VEC, k=10, probes=[4], epsilon=1.9, rerank_factor=4
        ).collect()
    }
    in_probed = {
        r.id
        for r in idx.search(
            QUERY_VEC, k=10, probes=[4], epsilon=1.9, rerank_factor=None
        ).collect()
    }
    wide = {
        r.id
        for r in idx.search(
            QUERY_VEC, k=10, probes=[12], epsilon=1.9, rerank_factor=4
        ).collect()
    }
    exact = _exact_knn_ids(spark, sf_dir)
    recall = len(wide & exact) / 10.0
    return spark.createDataFrame(
        [(int(len(ann)), int(ann == in_probed), int(recall >= 0.8))],
        "n_results bigint, probed_exact_ok bigint, recall_ok bigint",
    )


_ANN_IVF_PROBES_SQL = """
SELECT CAST(10 AS BIGINT) AS n_results,
       CAST(1 AS BIGINT) AS probed_exact_ok,
       CAST(1 AS BIGINT) AS recall_ok
"""


def _ivf_recall_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 recall evaluator: exhaustive config must report exactly 1.0."""
    idx = _get_ivf_index(spark, sf_dir, "l2")
    r = idx.evaluate_query_recall(
        QUERY_VEC, k=10, probes=None, rerank_factor=None
    )
    return spark.createDataFrame([(float(r),)], "recall double")


_IVF_RECALL_SQL = "SELECT CAST(1.0 AS DOUBLE) AS recall"


def _graph_recall_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 for the graph index (recall shared with IVF via StoredIndex): the
    exhaustive configuration — all shards routed, unbounded beam — must
    report recall exactly 1.0, gating evaluate_query_recall's baseline
    and the routed-vs-exhaustive comparison machinery end-to-end."""
    idx = _get_graph_index(spark, sf_dir)
    r = idx.evaluate_query_recall(
        QUERY_VEC, k=10, ef_search=1 << 20, probe_shards=None
    )
    return spark.createDataFrame([(float(r),)], "recall double")


def _streaming_knn_serve_graph_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-backed streaming serving: the SAME streaming_knn_serve job,
    pointed at a VamanaIndex via search_kwargs (the job is index-family-
    agnostic over search_batch). Exhaustive config (unbounded beam, all
    shards) ⇒ exact ⇒ the brute-force batch SQL gates the streaming
    micro-batch path serving from a graph index."""
    import tempfile

    from vectorchord_spark.streaming.jobs import streaming_knn_serve

    idx = _get_graph_index(spark, sf_dir)
    root = _register_tmpdir(tempfile.mkdtemp(prefix="vc_stream_gknn_"))
    qdir = os.path.join(root, "queries")
    rows = [(qi, [float(x) for x in qv]) for qi, qv in enumerate(_BATCH_QUERIES)]
    spark.createDataFrame(rows, "qid long, query array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(qdir)
    q = streaming_knn_serve(
        idx,
        qdir,
        os.path.join(root, "ckpt"),
        os.path.join(root, "out"),
        schema="qid long, query array<double>",
        k=10,
        available_now=True,
        search_kwargs={"ef_search": 1 << 20, "probe_shards": None},
    )
    q.awaitTermination()
    out = spark.read.parquet(os.path.join(root, "out"))
    return out.select(
        "qid", F.col("id").alias("vec_id"), "dist", F.col("rank").alias("rnk")
    ).orderBy("qid", "rnk")


_BATCH_QUERIES = [QUERY_VEC, MAXSIM_TOKENS[0], MAXSIM_TOKENS[1]]


def _knn_batch_ivf_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch multi-query search through the IVF index in one codes pass;
    exhaustive config equals per-query brute force → SQL oracle applies."""
    idx = _get_ivf_index(spark, sf_dir, "l2")
    res = idx.search_batch(_BATCH_QUERIES, k=10, probes=None, rerank_factor=None)
    return res.select(
        "qid", F.col("id").alias("vec_id"), "dist", F.col("rank").alias("rnk")
    )


def _knn_batch_sql() -> str:
    parts = []
    for qi, qv in enumerate(_BATCH_QUERIES):
        parts.append(
            f"SELECT {qi} AS qid, vec_id, sqrt({_l2sq_chain('embedding', qv)}) AS dist "
            "FROM embeddings"
        )
    un = " UNION ALL ".join(parts)
    return f"""
WITH allq AS ({un}),
ranked AS (
  SELECT qid, vec_id, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rnk
  FROM allq
)
SELECT qid, vec_id, dist, rnk::INT AS rnk FROM ranked WHERE rnk <= 10
ORDER BY qid, rnk
"""


def _knn_batch_prefilter_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch prefiltered ANN (Q9 × batch serving): the allowed-id set is
    applied to the shared scored scan as one broadcast semi-join, then
    every query reranks within it — the batch analogue of ann_prefilter
    (reference prefilter GUC semantics, src/index/gucs.rs:97-133).
    Exhaustive probes ⇒ exact ⇒ filtered brute-force batch SQL oracle."""
    idx = _get_ivf_index(spark, sf_dir, "l2")
    emb = _read(spark, sf_dir, "embeddings")
    allowed = emb.where(F.col("label") < 3).select(F.col("vec_id").alias("id"))
    res = idx.search_batch(
        _BATCH_QUERIES, k=10, probes=None, rerank_factor=None, prefilter=allowed
    )
    return res.select(
        "qid", F.col("id").alias("vec_id"), "dist", F.col("rank").alias("rnk")
    )


def _knn_batch_prefilter_sql() -> str:
    parts = []
    for qi, qv in enumerate(_BATCH_QUERIES):
        parts.append(
            f"SELECT {qi} AS qid, vec_id, sqrt({_l2sq_chain('embedding', qv)}) AS dist "
            "FROM embeddings WHERE label < 3"
        )
    un = " UNION ALL ".join(parts)
    return f"""
WITH allq AS ({un}),
ranked AS (
  SELECT qid, vec_id, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rnk
  FROM allq
)
SELECT qid, vec_id, dist, rnk::INT AS rnk FROM ranked WHERE rnk <= 10
ORDER BY qid, rnk
"""


def _get_rabitq8_index(spark: SparkSession, sf_dir: str):
    import tempfile

    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions

    key = (sf_dir, "l2-rabitq8")
    idx = _IVF_CACHE.get(key)
    if idx is None:
        path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_ivf_rq8_"))
        emb = _read(spark, sf_dir, "embeddings")
        idx = IvfIndex.build(
            spark, emb, "vec_id", "embedding", path,
            IvfOptions(metric="l2", lists=[16], storage="rabitq8"),
        )
        _IVF_CACHE[key] = idx
    return idx


def _ann_ivf_rabitq8_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with rabitq8 quantized storage (8x smaller rerank payload;
    dequantized-estimate rerank). Reference claims <1% recall loss at
    8 bits (README.md:45); gated by the same recall contract."""
    idx = _get_rabitq8_index(spark, sf_dir)
    # exhaustive probing + full quantized rerank isolates the 8-bit
    # ranking quality itself (probe-selectivity is gated by
    # ann_ivf_probes); observed recall 1.0, contract ≥ 0.9
    res = idx.search(QUERY_VEC, k=10, probes=None, rerank_factor=None)
    ann_ids = {r.id for r in res.collect()}
    return _recall_contract_df(spark, ann_ids, _exact_knn_ids(spark, sf_dir), 0.9)


def _exact_knn_ids_for(spark: SparkSession, sf_dir: str, qv: list, k: int = 10) -> set:
    """Brute-force top-k ids for an arbitrary query vector (JVM fold
    expression — same arithmetic as the DuckDB oracles)."""
    emb = _read(spark, sf_dir, "embeddings")
    dist = D.l2("embedding", D.vec_lit(qv))
    return {
        r.vec_id
        for r in emb.select("vec_id", dist.alias("d"))
        .orderBy("d", "vec_id")
        .limit(k)
        .collect()
    }


def _knn_batch_rabitq8_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch search over QUANTIZED storage (search_batch + rabitq8): one
    codes scan answers the whole query batch with rough-then-dequantized
    ranking (the reference's rabitq8 opclass distances,
    src/datatype/operators_rabitq8.rs:21-29, served batch-style).
    Dequantized distances differ from f32-exact in the last bits, so the
    gate contract is per-query recall ≥ 0.9 vs brute force (observed 1.0)
    rather than a value hash."""
    idx = _get_rabitq8_index(spark, sf_dir)
    res = idx.search_batch(_BATCH_QUERIES, k=10, probes=None, rerank_factor=None)
    got: dict[int, set] = {}
    for r in res.collect():
        got.setdefault(int(r.qid), set()).add(r.id)
    min_recall = 1.0
    for qi, qv in enumerate(_BATCH_QUERIES):
        exact = _exact_knn_ids_for(spark, sf_dir, qv)
        min_recall = min(min_recall, len(got.get(qi, set()) & exact) / 10.0)
    return spark.createDataFrame(
        [(len(got), int(min_recall >= 0.9))],
        "n_queries bigint, recall_ok bigint",
    )


_KNN_BATCH_RABITQ8_SQL = """
SELECT CAST(3 AS BIGINT) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
"""


def _knn_batch_rerank_table_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch rerank-in-table (Q5 × batch serving, the round-4 parity gap):
    an index built with rerank_in_index=False stores NO rerank payload, so
    search_batch(base_df=...) fetches exact vectors from the caller's base
    table instead (the reference's rerank heap works for every storage,
    crates/vchordrq/src/rerank.rs:113-137). Exhaustive config ⇒ exact ⇒
    the same brute-force batch SQL as knn_batch_ivf is the oracle."""
    import tempfile

    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions

    key = (sf_dir, "l2-norerank")
    idx = _IVF_CACHE.get(key)
    emb = _read(spark, sf_dir, "embeddings")
    if idx is None:
        path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_ivf_nr_"))
        idx = IvfIndex.build(
            spark, emb, "vec_id", "embedding", path,
            IvfOptions(metric="l2", lists=[16], rerank_in_index=False),
        )
        _IVF_CACHE[key] = idx
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    res = idx.search_batch(
        _BATCH_QUERIES, k=10, probes=None, rerank_factor=None, base_df=base
    )
    return res.select(
        "qid", F.col("id").alias("vec_id"), "dist", F.col("rank").alias("rnk")
    )


def _streaming_knn_serve_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming KNN serving job (streaming/jobs.py):
    writes the fixed query batch as a parquet file, runs ONE availableNow
    micro-batch through streaming_knn_serve against the cached f32 IVF
    index in exhaustive config (probes=None, rerank=None ⇒ exact), and
    returns the epoch-keyed output. Exact config ⇒ the brute-force batch
    SQL is a valid oracle for the whole streaming serving path."""
    import tempfile

    from vectorchord_spark.streaming.jobs import streaming_knn_serve

    idx = _get_ivf_index(spark, sf_dir, "l2")
    root = _register_tmpdir(tempfile.mkdtemp(prefix="vc_stream_knn_"))
    qdir = os.path.join(root, "queries")
    rows = [(qi, [float(x) for x in qv]) for qi, qv in enumerate(_BATCH_QUERIES)]
    # array<double>: an array<float> round-trip would truncate the query
    # values to f32 and shift the exact rerank distances by ~1e-8 off the
    # f64 oracle
    spark.createDataFrame(rows, "qid long, query array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(qdir)
    q = streaming_knn_serve(
        idx,
        qdir,
        os.path.join(root, "ckpt"),
        os.path.join(root, "out"),
        schema="qid long, query array<double>",
        k=10,
        probes=None,
        rerank_factor=None,
        available_now=True,
    )
    q.awaitTermination()
    out = spark.read.parquet(os.path.join(root, "out"))
    return out.select(
        "qid", F.col("id").alias("vec_id"), "dist", F.col("rank").alias("rnk")
    ).orderBy("qid", "rnk")


def _get_graph_index(spark: SparkSession, sf_dir: str):
    import tempfile

    from vectorchord_spark.operators.graph import VamanaIndex, VamanaOptions

    key = (sf_dir, "graph-l2")
    idx = _IVF_CACHE.get(key)
    if idx is None:
        path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_graph_"))
        emb = _read(spark, sf_dir, "embeddings")
        idx = VamanaIndex.build(
            spark, emb, "vec_id", "embedding", path,
            VamanaOptions(metric="l2", m=24, ef_construction=48, n_shards=4),
        )
        _IVF_CACHE[key] = idx
    return idx


def _ann_graph_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vamana graph index (vchordg): cluster-sharded build, routed
    (probe_shards=3 of 4) quantized-traversal search — gated by the
    recall@10 ≥ 0.9 contract against brute force (observed 1.0; the sf
    embeddings are uniform so routing recall tracks the probed fraction
    plus closure replicas)."""
    idx = _get_graph_index(spark, sf_dir)
    res = idx.search(QUERY_VEC, k=10, ef_search=64, probe_shards=3)
    ann_ids = {r.id for r in res.collect()}
    return _recall_contract_df(spark, ann_ids, _exact_knn_ids(spark, sf_dir), 0.9)


def _multivec_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic multi-vector docs (doc = 5 consecutive vec_ids) with an
    ``array<array<float>>`` column."""
    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "doc_id", F.expr("vec_id div 5")
    )
    return (
        emb.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("vec_id").alias("t"), F.col("embedding").alias("v"))
                )
            ).alias("s")
        )
        .select("doc_id", F.transform("s", lambda x: x["v"]).alias("vecs"))
    )


def _get_multivec_index(spark: SparkSession, sf_dir: str):
    """Multi-vector IVF index over synthetic docs via the first-class
    ``build_multivector`` API: the engine explodes the
    ``array<array<float>>`` column internally and packs a u16 token
    sub-index into the row id (reference opclass.rs:70-141)."""
    import tempfile

    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions

    key = (sf_dir, "multivec-dot")
    idx = _IVF_CACHE.get(key)
    if idx is not None:
        return idx
    docs = _multivec_docs(spark, sf_dir)
    path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_ivf_mv_"))
    idx = IvfIndex.build_multivector(
        spark, docs, "doc_id", "vecs", path, IvfOptions(metric="dot", lists=[16])
    )
    _IVF_CACHE[key] = idx
    return idx


def _sql_ann_maxsim_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-transparent MaxSim: ``ORDER BY vc_maxsim(vecs, tokens) LIMIT k``
    rewritten onto the multi-vector index (the reference's ``@#`` order-by
    strategy). Exhaustive per-token candidates ⇒ exact ⇒ the grouped
    brute-force SQL is the oracle; raises if the rewrite did not engage."""
    from vectorchord_spark.functions.quantize import register_sql_functions
    from vectorchord_spark.plans import register_ann_index, try_rewrite_topk

    idx = _get_multivec_index(spark, sf_dir)
    view = "vc_sqlann_mvdocs"
    _multivec_docs(spark, sf_dir).createOrReplaceTempView(view)
    register_sql_functions(spark)
    register_ann_index(view, "vecs", idx, id_col="doc_id")
    nested = (
        "array("
        + ",".join(
            "array(" + ",".join(repr(v) for v in t) + ")" for t in MAXSIM_TOKENS
        )
        + ")"
    )
    sql = (
        f"SELECT doc_id, vc_maxsim(vecs, {nested}) AS score "
        f"FROM {view} ORDER BY score LIMIT 10"
    )
    res = try_rewrite_topk(spark, spark.sql(sql))
    if res is None:
        raise RuntimeError("transparent MaxSim rewrite did not engage")
    return res


def _maxsim_ivf_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-backed MaxSim (Q10) on the first-class multi-vector API: the
    document id comes from the packed u16 sub-index (no caller-supplied
    mapping). With exhaustive per-token candidates it equals brute-force
    MaxSim, so the grouped-SQL oracle applies to the full index pipeline."""
    from vectorchord_spark.operators.maxsim import maxsim_search

    idx = _get_multivec_index(spark, sf_dir)
    return maxsim_search(
        idx,
        None,
        MAXSIM_TOKENS,
        k=10,
        per_token_candidates=1 << 30,
        probes=None,
    )


def _maxsim_ivf_probed_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual Q10 machinery under probes: per-token probed search
    (probes=4/16) with bounded candidates and the estimation_by_threshold
    floor — gated by a top-10 overlap ≥ 0.9 contract against the
    exhaustive MaxSim twin (reference search protocol
    crates/vchordrq/src/search.rs:199-380, gucs.rs:440-473)."""
    from vectorchord_spark.operators.maxsim import maxsim_search

    idx = _get_multivec_index(spark, sf_dir)
    probed = maxsim_search(
        idx,
        None,
        MAXSIM_TOKENS,
        k=10,
        per_token_candidates=200,
        probes=[12],
        maxsim_threshold=100,
    )
    exact = maxsim_search(
        idx,
        None,
        MAXSIM_TOKENS,
        k=10,
        per_token_candidates=1 << 30,
        probes=None,
    )
    got = {r.doc_id for r in probed.collect()}
    want = {r.doc_id for r in exact.collect()}
    # uniform embeddings ⇒ probed-maxsim overlap tracks the probe fraction
    # (12/16); observed 0.8-0.9, contract ≥ 0.7
    return _recall_contract_df(spark, got, want, 0.7)


# ---------------------------------------------------------------------------
# Catalog
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Temporal joins (as-of / interval) — pipeline operators Spark lacks natively
# ---------------------------------------------------------------------------


def _asof_join_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event is matched to the latest view event
    by the same user at or before it. Implemented as the single-shuffle
    union trick — tag both sides, sort per user by (time, side) in one
    window, and carry the last seen right-side time forward with
    ``last(..., ignorenulls)``. No join fan-out, no per-key driver work;
    one hash exchange on user_id regardless of table size."""
    # NULL user_ids are excluded on both sides: a SQL equality join (the
    # DuckDB ASOF oracle) never matches NULL keys, whereas a window
    # partitionBy would group them together — keep the semantics aligned
    # under dirty data (ADVICE r02; no NULLs exist in the test tables)
    ev = _read(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts_us",
        F.lit(1).alias("is_left"),
        F.lit(None).cast("long").alias("r_ts"),
    )
    right = ev.where(F.col("event_type") == "view").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts_us",
        F.lit(0).alias("is_left"),
        F.col("ts_us").alias("r_ts"),
    )
    # at equal ts the right row sorts first, giving inclusive (>=) as-of
    # semantics; rowsBetween keeps the window a running (streaming) frame
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        left.unionByName(right)
        .withColumn("view_us", F.last("r_ts", ignorenulls=True).over(w))
        .where(F.col("is_left") == 1)
        .select(
            "event_id",
            F.col("ts_us").alias("purchase_us"),
            "view_us",
        )
        .orderBy("event_id")
    )


_ASOF_JOIN_SQL = """
SELECT p.event_id, epoch_us(p.ts) AS purchase_us, epoch_us(v.ts) AS view_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
ORDER BY p.event_id
"""


def _range_join_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: views in the hour before each purchase,
    counted per purchase. The scalable plan is time-bucket binning — each
    purchase explodes to the (at most 2) hour buckets its window covers,
    the join is a plain equi-join on (user, bucket), and the residual
    range predicate filters inside the bucket. Shuffle keys stay bounded
    (no per-user cross product), so the plan survives wide windows and
    hot users at 100× scale."""
    hour_us = 3_600_000_000

    def bucket(col: F.Column) -> F.Column:
        # FLOOR division (not double-divide + cast, which truncates toward
        # zero): pre-1970 timestamps would otherwise land in the wrong
        # bucket and miss matches (ADVICE r02). Doubles are exact here up
        # to 2^53 µs ≈ year 2255.
        return F.floor(col / F.lit(hour_us)).cast("long")

    ev = _read(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts_us").alias("v_ts"),
        bucket(F.col("ts_us")).alias("v_bucket"),
    )
    px = p.withColumn(
        "bucket",
        F.explode(
            F.array(
                bucket(F.col("ts_us") - hour_us),
                bucket(F.col("ts_us")),
            )
        ),
    ).dropDuplicates(["event_id", "bucket"])
    joined = px.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("bucket") == F.col("v_bucket"))
        & (F.col("v_ts") >= F.col("ts_us") - hour_us)
        & (F.col("v_ts") < F.col("ts_us")),
    )
    counts = joined.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_views_1h")
    )
    return (
        p.join(counts, "event_id", "left_outer")
        .select(
            "event_id",
            F.coalesce("n_views_1h", F.lit(0)).alias("n_views_1h"),
        )
        .orderBy("event_id")
    )


_RANGE_JOIN_SQL = """
SELECT p.event_id, count(v.v_ts) AS n_views_1h
FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT user_id AS v_user, epoch_us(ts) AS v_ts
           FROM events WHERE event_type = 'view') v
  ON p.user_id = v.v_user
 AND v.v_ts >= p.ts_us - 3600000000
 AND v.v_ts < p.ts_us
GROUP BY p.event_id
ORDER BY p.event_id
"""


# ---------------------------------------------------------------------------
# Additional text-pipeline entries (quality gate, token histogram)
# ---------------------------------------------------------------------------


def _quality_filter_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score gate: the [0,1] heuristic (length + repetition) as a
    filter — the shape of a pre-training corpus quality cut. Single IEEE
    op chain in both engines, so the score and threshold compare are
    bit-exact (no rounding)."""
    from vectorchord_spark.pipeline.text import quality_score

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", quality_score("text").alias("quality"))
        .where(F.col("quality") > 0.6)
        .orderBy("doc_id")
    )


_QUALITY_FILTER_SQL = """
SELECT doc_id, quality FROM (
  SELECT doc_id,
         (least(len(string_split(text, ' '))::DOUBLE / 100.0, 1.0)
          + len(list_distinct(string_split(text, ' ')))::DOUBLE
            / len(string_split(text, ' '))::DOUBLE) / 2.0 AS quality
  FROM documents)
WHERE quality > 0.6
ORDER BY doc_id
"""


def _token_histogram_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram over the corpus (the BPE-ish regex splitter),
    bucketed by 50 tokens — the standard corpus-stats pass before a
    training run. Pure JVM regexp + one agg shuffle."""
    from vectorchord_spark.pipeline.text import token_count

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select((token_count("text") / 50).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("bucket")
    )


_TOKEN_HISTOGRAM_SQL = """
SELECT (len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) // 50)::BIGINT
         AS bucket,
       count(*) AS n_docs
FROM documents
GROUP BY 1
ORDER BY bucket
"""


def _redact_pii_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (the compliance pass before any training run): PII-looking
    spans are synthesized deterministically from doc_id (emails / IPv4s /
    phone numbers — the corpus text itself is letters-only), redacted with
    the portable-regex patterns, and audited per kind. The oracle replays
    the same synthesis + regex pipeline in DuckDB (RE2), so the md5 of the
    redacted text gates byte-identical scrub output across engines."""
    from vectorchord_spark.pipeline.text import redact_pii

    docs = _read(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" host 10."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".0.1"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit(" call +1 555 010 4242")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    red = redact_pii(synth)
    return red.select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone",
        "n_card",
        F.md5("text_redacted").alias("redacted_md5"),
    ).orderBy("doc_id")


def _redact_pii_sql() -> str:
    from vectorchord_spark.pipeline.text import PII_PATTERNS

    synth = (
        "SELECT doc_id, text"
        " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||"
        " CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' host 10.' ||"
        " CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END"
        " || CASE WHEN doc_id % 7 = 0 THEN ' call +1 555 010 4242'"
        " ELSE '' END AS text FROM documents"
    )
    counts = ", ".join(
        "len(regexp_extract_all(text, '%s'))::BIGINT AS n_%s"
        % (pat.replace("'", "''"), kind)
        for kind, pat in PII_PATTERNS.items()
    )
    red = "text"
    for kind, pat in PII_PATTERNS.items():  # same order as redact_pii
        red = "regexp_replace(%s, '%s', '[%s]', 'g')" % (
            red,
            pat.replace("'", "''"),
            kind,
        )
    return (
        "WITH synth AS (%s) SELECT doc_id, %s, md5(%s) AS redacted_md5 "
        "FROM synth ORDER BY doc_id" % (synth, counts, red)
    )


def _repetition_stats_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signals (word-level): occurrences of
    the most frequent 2-gram and total occurrences of duplicated 3-grams
    per doc — the published drop-if-dominated-by-repetition heuristics.
    Integer outputs -> bit-exact oracle (the SQL recomputes the same gram
    counting via group-by). The explicit narrow select matters: column
    pruning cannot pass through the opaque mapInArrow gram-counting node
    (guide §4.1), so project to (doc_id, text) before it."""
    from vectorchord_spark.pipeline.text import repetition_stats

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_stats(docs).select(
        "doc_id", "n_words", "max_2gram_count", "dup_3gram_count"
    ).orderBy("doc_id")


_REPETITION_STATS_SQL = """
WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g2 AS (
  SELECT doc_id, unnest(list_transform(range(1, len(w)),
                        i -> w[i] || ' ' || w[i+1])) AS g
  FROM base WHERE len(w) >= 2
),
c2 AS (
  SELECT doc_id, max(c) AS max2
  FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1
),
g3 AS (
  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
  FROM base WHERE len(w) >= 3
),
c3 AS (
  SELECT doc_id, sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup3
  FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1
)
SELECT b.doc_id,
       len(b.w)::BIGINT AS n_words,
       coalesce(c2.max2, 0)::BIGINT AS max_2gram_count,
       coalesce(c3.dup3, 0)::BIGINT AS dup_3gram_count
FROM base b
LEFT JOIN c2 ON b.doc_id = c2.doc_id
LEFT JOIN c3 ON b.doc_id = c3.doc_id
ORDER BY b.doc_id
"""


# ---------------------------------------------------------------------------
# Upsert-path and cosine-metric index entries
# ---------------------------------------------------------------------------


def _ann_ivf_upsert_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert (Q12) + delete + vacuum (Q13) under the hash gate: build on
    ~90% of the table, insert() the rest, delete() a deterministic slice,
    compact() it away, then an exhaustive-probe search must equal
    brute-force k-NN over exactly the surviving rows."""
    import tempfile

    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions

    key = (sf_dir, "l2-upsert")
    idx = _IVF_CACHE.get(key)
    if idx is None:
        emb = _read(spark, sf_dir, "embeddings")
        path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_ivf_upsert_"))
        idx = IvfIndex.build(
            spark,
            emb.where(F.col("vec_id") % 10 != 7),
            "vec_id",
            "embedding",
            path,
            IvfOptions(metric="l2", lists=[16]),
        )
        idx.insert(emb.where(F.col("vec_id") % 10 == 7), "vec_id", "embedding")
        idx.delete(emb.where(F.col("vec_id") % 17 == 3).select("vec_id"))
        idx.compact()
        _IVF_CACHE[key] = idx
    res = idx.search(QUERY_VEC, k=10, probes=None, rerank_factor=None)
    return res.select(F.col("id").alias("vec_id"), "dist")


def _ann_ivf_upsert_sql() -> str:
    return f"""
SELECT vec_id, sqrt({_l2sq_chain("embedding", QUERY_VEC)}) AS dist
FROM embeddings
WHERE vec_id % 17 <> 3
ORDER BY dist, vec_id
LIMIT 10
"""


def _ann_ivf_cos_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-metric IVF (B2 normalize-on-store) through the hash gate:
    exhaustive probes make the index exact, and the output distance is
    recomputed with the same fold expression as the brute-force twin so
    values (not just ids) hash-match."""
    idx = _get_ivf_index(spark, sf_dir, "cos")
    res = idx.search(QUERY_VEC, k=10, probes=None, rerank_factor=None)
    emb = _read(spark, sf_dir, "embeddings")
    qn = float(np.sqrt(np.sum(np.float64(QUERY_VEC) ** 2)))
    dist = F.lit(1.0) - D.dot("embedding", D.vec_lit(QUERY_VEC)) / (
        D.norm("embedding") * F.lit(qn)
    )
    return (
        emb.join(F.broadcast(res.select(F.col("id").alias("vec_id"))), "vec_id")
        .select("vec_id", dist.alias("dist"))
        .orderBy("dist", "vec_id")
    )


def _ann_ivf_residual_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual quantization build (B9's delta path: codes quantize the
    vector MINUS its centroid, with the per-row delta correction —
    crates/vchordrq/src/insert.rs:170-188, bit.rs:68-124): exhaustive
    probing reranks exactly regardless of the estimator, so the brute-force
    oracle gates the residual encode/score machinery end-to-end."""
    import tempfile

    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions

    key = (sf_dir, "l2-residual")
    idx = _IVF_CACHE.get(key)
    if idx is None:
        path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_ivf_res_"))
        emb = _read(spark, sf_dir, "embeddings")
        idx = IvfIndex.build(
            spark, emb, "vec_id", "embedding", path,
            IvfOptions(metric="l2", lists=[16], residual_quantization=True),
        )
        _IVF_CACHE[key] = idx
    res = idx.search(QUERY_VEC, k=10, probes=None, rerank_factor=None)
    return res.select(F.col("id").alias("vec_id"), "dist")


def _ann_ivf_f16_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """halfvec-storage IVF (B2: the reference's f16 opclasses — 2-byte
    packed rerank payload, compute widened to f32): with exhaustive probes
    the f16-truncated rerank must still rank the true top-10 (truncation
    error ≪ neighbor gaps on this data), and the output distances are
    recomputed with the f32 fold expression so the brute-force SQL
    hash-gates the ids AND values."""
    import tempfile

    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions

    key = (sf_dir, "l2-f16")
    idx = _IVF_CACHE.get(key)
    if idx is None:
        path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_ivf_f16_"))
        emb = _read(spark, sf_dir, "embeddings")
        idx = IvfIndex.build(
            spark, emb, "vec_id", "embedding", path,
            IvfOptions(metric="l2", lists=[16], storage="f16"),
        )
        _IVF_CACHE[key] = idx
    res = idx.search(QUERY_VEC, k=10, probes=None, rerank_factor=None)
    emb = _read(spark, sf_dir, "embeddings")
    dist = D.l2("embedding", D.vec_lit(QUERY_VEC))
    return (
        emb.join(F.broadcast(res.select(F.col("id").alias("vec_id"))), "vec_id")
        .select("vec_id", dist.alias("dist"))
        .orderBy("dist", "vec_id")
    )


def _maxsim_ivf_refine_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maxsim_refine knob (reference refine stage,
    src/index/vchordrq/scanners/maxsim.rs:601-692): rough-scored candidate
    pool, exact rerank of only the top-N per token, rough values kept for
    the tail. Two deterministic contract bits: a refine budget covering the
    whole pool reproduces the exhaustive-exact top-10 exactly (the refine
    machinery + rough pool adequacy), and a half budget — where rough tail
    values genuinely mix into the MaxSim sums — keeps overlap >= 0.6
    (observed 0.7; this IS the reference's accuracy/IO tradeoff, whose
    default refine=0 keeps every candidate rough)."""
    from vectorchord_spark.operators.maxsim import maxsim_search

    idx = _get_multivec_index(spark, sf_dir)
    exact = maxsim_search(
        idx, None, MAXSIM_TOKENS, k=10, per_token_candidates=1 << 30, probes=None
    )
    want = {r.doc_id for r in exact.collect()}
    full = maxsim_search(
        idx, None, MAXSIM_TOKENS, k=10, per_token_candidates=200,
        probes=None, maxsim_refine=200,
    )
    got_full = {r.doc_id for r in full.collect()}
    half = maxsim_search(
        idx, None, MAXSIM_TOKENS, k=10, per_token_candidates=200,
        probes=None, maxsim_refine=100,
    )
    got_half = {r.doc_id for r in half.collect()}
    return spark.createDataFrame(
        [
            (
                len(got_full),
                int(got_full == want),
                int(len(got_half & want) / 10.0 >= 0.6),
            )
        ],
        "n_results bigint, full_refine_exact bigint, half_refine_ok bigint",
    )


_MAXSIM_REFINE_SQL = """
SELECT CAST(10 AS BIGINT) AS n_results,
       CAST(1 AS BIGINT) AS full_refine_exact,
       CAST(1 AS BIGINT) AS half_refine_ok
"""


def _maxsim_refine_f16_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maxsim_refine on f16 storage (the round-4 parity gap: refine was
    f32-only). The f16-storage twin of maxsim_ivf_refine: on an index
    whose rerank payload is half-precision, a full-pool refine budget must
    reproduce the all-exact result row-identically (both paths rerank on
    the same f16 payload through the shared storage-dispatched rerank —
    reference rerank.rs:113-137 works for every storage)."""
    import tempfile

    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions
    from vectorchord_spark.operators.maxsim import maxsim_search

    key = (sf_dir, "multivec-dot-f16")
    idx = _IVF_CACHE.get(key)
    if idx is None:
        docs = _multivec_docs(spark, sf_dir)
        path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_ivf_mv16_"))
        idx = IvfIndex.build_multivector(
            spark, docs, "doc_id", "vecs", path,
            IvfOptions(metric="dot", lists=[16], storage="f16"),
        )
        _IVF_CACHE[key] = idx
    exact = maxsim_search(
        idx, None, MAXSIM_TOKENS, k=10, per_token_candidates=1 << 30, probes=None
    )
    want = [(r.doc_id, round(float(r.score), 6)) for r in exact.collect()]
    full = maxsim_search(
        idx, None, MAXSIM_TOKENS, k=10, per_token_candidates=1 << 30,
        probes=None, maxsim_refine=1 << 30,
    )
    got = [(r.doc_id, round(float(r.score), 6)) for r in full.collect()]
    return spark.createDataFrame(
        [(len(got), int(got == want))],
        "n_results bigint, full_refine_exact bigint",
    )


_MAXSIM_REFINE_F16_SQL = """
SELECT CAST(10 AS BIGINT) AS n_results,
       CAST(1 AS BIGINT) AS full_refine_exact
"""


def _maxsim_refine_rerank_table_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maxsim_refine with ``base_df`` on a ``rerank_in_index=False`` index
    (r05 verdict #5: the last rerank-in-table parity asymmetry — single
    and batch KNN already accept a base table; the reference's rerank heap
    fetches vectors from the heap for every storage,
    /root/reference/crates/vchordrq/src/rerank.rs:113-137). Contract bits:
    full-budget refine fed by the exploded (packed id, vec) base table
    reproduces the all-exact result row-identically, and the same call
    WITHOUT base_df raises (payload-free storage cannot refine)."""
    import tempfile

    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions
    from vectorchord_spark.operators.maxsim import maxsim_search

    docs = _multivec_docs(spark, sf_dir)
    key = (sf_dir, "multivec-dot-noidx")
    idx = _IVF_CACHE.get(key)
    if idx is None:
        path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_ivf_mvrt_"))
        idx = IvfIndex.build_multivector(
            spark, docs, "doc_id", "vecs", path,
            IvfOptions(metric="dot", lists=[16], rerank_in_index=False),
        )
        _IVF_CACHE[key] = idx
    shift = F.lit(1 << IvfIndex.TOKEN_BITS)
    base = docs.select(
        F.col("doc_id").cast("long").alias("_doc"),
        F.posexplode("vecs").alias("_tok", "vec"),
    ).select(
        (F.col("_doc") * shift + F.col("_tok")).cast("long").alias("id"), "vec"
    )
    exact = maxsim_search(
        idx, None, MAXSIM_TOKENS, k=10, per_token_candidates=1 << 30,
        probes=None, base_df=base,
    )
    want = [(r.doc_id, round(float(r.score), 6)) for r in exact.collect()]
    full = maxsim_search(
        idx, None, MAXSIM_TOKENS, k=10, per_token_candidates=1 << 30,
        probes=None, maxsim_refine=1 << 30, base_df=base,
    )
    got = [(r.doc_id, round(float(r.score), 6)) for r in full.collect()]
    try:
        maxsim_search(
            idx, None, MAXSIM_TOKENS, k=10, per_token_candidates=8,
            probes=None, maxsim_refine=4,
        )
        raises_without_base = 0
    except NotImplementedError:
        raises_without_base = 1
    return spark.createDataFrame(
        [(len(got), int(got == want), raises_without_base)],
        "n_results bigint, full_refine_exact bigint, raises_without_base bigint",
    )


_MAXSIM_REFINE_RERANK_TABLE_SQL = """
SELECT CAST(10 AS BIGINT) AS n_results,
       CAST(1 AS BIGINT) AS full_refine_exact,
       CAST(1 AS BIGINT) AS raises_without_base
"""


def _ann_hierarchical_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical k-means build (B5): coarse √c-cluster pass, Sainte-Laguë
    seat allocation of per-partition cluster counts, per-partition Lloyd
    (reference crates/k_means/src/hierarchical.rs:109-199). Cluster
    assignment only affects cell placement — exhaustive probing is exact
    regardless, so the brute-force oracle gates the hierarchical build
    machinery end-to-end (the same protocol as ann_ivf_multilevel)."""
    import tempfile

    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions

    key = (sf_dir, "l2-hier")
    idx = _IVF_CACHE.get(key)
    if idx is None:
        path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_ivf_hier_"))
        emb = _read(spark, sf_dir, "embeddings")
        idx = IvfIndex.build(
            spark, emb, "vec_id", "embedding", path,
            IvfOptions(metric="l2", lists=[16], build_hierarchical=True),
        )
        _IVF_CACHE[key] = idx
    res = idx.search(QUERY_VEC, k=10, probes=None, rerank_factor=None)
    return res.select(F.col("id").alias("vec_id"), "dist")


def _ann_distkm_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed leaf k-means build (the lists≥50k escape hatch for the
    driver-sample ceiling — operators/ivf.py:_distributed_leaf_kmeans):
    coarse stage on a bounded driver sample, Sainte-Laguë seats from true
    cell counts, per-cell Lloyd in applyInPandas. Cluster placement only
    affects cell assignment — exhaustive probing is exact regardless, so
    the brute-force oracle gates the distributed build machinery
    end-to-end (same protocol as ann_ivf_hierarchical)."""
    import tempfile

    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions

    key = (sf_dir, "l2-distkm")
    idx = _IVF_CACHE.get(key)
    if idx is None:
        path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_ivf_distkm_"))
        emb = _read(spark, sf_dir, "embeddings")
        idx = IvfIndex.build(
            spark, emb, "vec_id", "embedding", path,
            IvfOptions(metric="l2", lists=[16], distributed_kmeans=True),
        )
        _IVF_CACHE[key] = idx
    res = idx.search(QUERY_VEC, k=10, probes=None, rerank_factor=None)
    return res.select(F.col("id").alias("vec_id"), "dist")


def _ann_deep_lazy_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy upper-level descent (reference default descent semantics,
    crates/vchordrq/src/search.rs:95-157: RaBitQ estimates + error bounds
    per level, exact re-scoring on pop) on a 3-level tree, gated by an
    equivalence contract: on this deterministic dataset the ε=1.9 bounds
    hold, so the lazy selection must equal the exact-scored selection at
    every level AND the probed search results must be row-identical."""
    import tempfile

    from vectorchord_spark import kernels as K
    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions

    key = (sf_dir, "l2-deep")
    idx = _IVF_CACHE.get(key)
    if idx is None:
        path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_ivf_deep_"))
        emb = _read(spark, sf_dir, "embeddings")
        idx = IvfIndex.build(
            spark, emb, "vec_id", "embedding", path,
            IvfOptions(metric="l2", lists=[2, 4, 16]),
        )
        _IVF_CACHE[key] = idx
    probes = [1, 2, 8]
    q_rot = K.rotate(np.asarray(QUERY_VEC, np.float32))
    cells_lazy = sorted(int(c) for c in idx._descend(q_rot, probes, lazy=True))
    cells_exact = sorted(int(c) for c in idx._descend(q_rot, probes, lazy=False))
    lazy_rows = idx.search(
        QUERY_VEC, k=10, probes=probes, lazy_descent=True
    ).collect()
    exact_rows = idx.search(QUERY_VEC, k=10, probes=probes).collect()
    return spark.createDataFrame(
        [
            (
                int(cells_lazy == cells_exact),
                int(
                    [(r.id, round(r.dist, 9)) for r in lazy_rows]
                    == [(r.id, round(r.dist, 9)) for r in exact_rows]
                ),
                len(lazy_rows),
            )
        ],
        "cells_match bigint, results_match bigint, n_results bigint",
    )


_ANN_DEEP_LAZY_SQL = """
SELECT CAST(1 AS BIGINT) AS cells_match,
       CAST(1 AS BIGINT) AS results_match,
       CAST(10 AS BIGINT) AS n_results
"""


def _ann_graph_upsert_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph DML lifecycle under the hash gate (the vchordg incremental
    protocol, crates/vchordg/src/insert.rs:34-395 + bulkdelete/vacuum):
    build on ~90% of the table, insert() the rest (beam search →
    RobustPrune → bidirectional edges with re-prune), delete() a
    deterministic slice (tombstones), compact() (shard rebuild), then an
    exhaustive-routing full-traversal search must equal brute-force k-NN
    over exactly the surviving rows."""
    import tempfile

    from vectorchord_spark.operators.graph import VamanaIndex, VamanaOptions

    key = (sf_dir, "graph-upsert")
    idx = _IVF_CACHE.get(key)
    if idx is None:
        emb = _read(spark, sf_dir, "embeddings")
        path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_graph_upsert_"))
        idx = VamanaIndex.build(
            spark,
            emb.where(F.col("vec_id") % 10 != 7),
            "vec_id",
            "embedding",
            path,
            VamanaOptions(metric="l2", m=24, ef_construction=48, n_shards=2),
        )
        idx.insert(emb.where(F.col("vec_id") % 10 == 7), "vec_id", "embedding")
        idx.delete(emb.where(F.col("vec_id") % 17 == 3).select("vec_id"))
        idx.compact()
        _IVF_CACHE[key] = idx
    # exhaustive ef + all shards ⇒ the beam visits every reachable vertex,
    # so the search is exact and the brute-force SQL is a valid oracle for
    # the whole DML lifecycle
    res = idx.search(QUERY_VEC, k=10, ef_search=1 << 20, probe_shards=None)
    return res.select(F.col("id").alias("vec_id"), "dist")


def _ann_graph_upsert_sql() -> str:
    return f"""
SELECT vec_id, sqrt({_l2sq_chain("embedding", QUERY_VEC)}) AS dist
FROM embeddings
WHERE vec_id % 17 <> 3
ORDER BY dist, vec_id
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Direct oracle gates for the smaller §2 surface items (S4 ip/cos sphere ops,
# S6 sphere(), S9 rabitq×rabitq distance, S10 type I/O, S11/S12 prewarm,
# S14 query sampling, Q5 rerank-in-table, Q8 max_scan_tuples)
# ---------------------------------------------------------------------------


def _train_val_split_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (the reproducible-
    split primitive every training pipeline needs — stable under
    re-partitioning, insertion order, and corpus growth, unlike random()
    splits). Hash-bucket arithmetic is identical in both engines (the
    md5-hex/conv parity pattern), so the oracle matches bit-for-bit."""
    from vectorchord_spark.pipeline.splits import hash_split

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return hash_split(docs, "doc_id").orderBy("doc_id")


_TRAIN_VAL_SPLIT_SQL = """
SELECT doc_id,
       CASE
         WHEN ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 10000 < 9000 THEN 'train'
         WHEN ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 10000 < 9500 THEN 'val'
         ELSE 'test'
       END AS split
FROM documents
ORDER BY doc_id
"""


def _stratified_sample_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group downsampling (domain mixing): resample the
    corpus to target per-language keep rates with the same md5 bucketing
    as hash_split — reproducible across engines, stable under
    re-partitioning and corpus growth, zero shuffles (pure JVM filter).
    The oracle recomputes the identical bucket arithmetic in DuckDB."""
    from vectorchord_spark.pipeline.splits import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, "lang", {"en": 0.5, "zh": 1.0, "es": 0.2}, default_rate=0.1
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


_STRATIFIED_SAMPLE_SQL = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 10000 AS b
  FROM documents)
WHERE (lang = 'en' AND b < 5000)
   OR (lang = 'zh' AND b < 10000)
   OR (lang = 'es' AND b < 2000)
   OR (lang NOT IN ('en', 'zh', 'es') AND b < 1000)
ORDER BY doc_id
"""


def _mixture_weights_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing (p_g ∝ √n_g, the published
    multinomial sampling recipe): per-language weights and the keep rates
    realizing a 25%-of-corpus budget — the rates feed stratified_sample.
    alpha=0.5 keeps the oracle exact (sqrt is correctly rounded IEEE in
    both engines); weights round at 6 decimals, far above float error."""
    from vectorchord_spark.pipeline.splits import mixture_weights

    docs = _read(spark, sf_dir, "documents")
    out = mixture_weights(docs, "lang", alpha=0.5, target_fraction=0.25)
    return out.select(
        "lang",
        "n_rows",
        F.round("weight", 6).alias("weight"),
        F.round("rate", 6).alias("rate"),
    ).orderBy("lang")


_MIXTURE_WEIGHTS_SQL = """
WITH c AS (SELECT lang, count(*)::BIGINT AS n_rows FROM documents GROUP BY 1),
t AS (SELECT sum(sqrt(n_rows::DOUBLE)) AS sw, sum(n_rows)::DOUBLE AS total FROM c)
SELECT lang, n_rows,
       round(sqrt(n_rows::DOUBLE) / sw, 6) AS weight,
       round(least(1.0, 0.25 * total * (sqrt(n_rows::DOUBLE) / sw) / n_rows::DOUBLE), 6) AS rate
FROM c, t
ORDER BY lang
"""


def _chunk_documents_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-window chunking (the RAG/embedding preprocessing
    step: 64-word windows advancing by 48). Pure JVM sequence+explode+
    slice — no Python, no shuffle; the oracle recomputes the identical
    windows with DuckDB range/list_slice, including the final partial
    window, so text and counts match bit-for-bit."""
    from vectorchord_spark.pipeline.text import chunk_documents

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        chunk_documents(docs, "text", chunk_words=64, overlap_words=16)
        .select("doc_id", "chunk_no", "chunk_text", "chunk_n_words")
        .orderBy("doc_id", "chunk_no")
    )


_CHUNK_DOCUMENTS_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w, len(string_split(text, ' ')) AS n
  FROM documents
),
c AS (
  SELECT doc_id, w, n,
         unnest(range(0, 1 + CAST(ceil(greatest(n - 64, 0) / 48.0) AS BIGINT))) AS chunk_no
  FROM base
)
SELECT doc_id,
       CAST(chunk_no AS INT) AS chunk_no,
       array_to_string(list_slice(w, chunk_no * 48 + 1, least(chunk_no * 48 + 64, n)), ' ') AS chunk_text,
       (least(chunk_no * 48 + 64, n) - chunk_no * 48)::BIGINT AS chunk_n_words
FROM c
ORDER BY doc_id, chunk_no
"""


def _pack_sequences_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split context packing (the pre-training dataloader step:
    documents concatenated into a deterministic per-bucket token stream,
    cut every 2048 tokens). Hash-bucketed md5 order -> one bounded window
    shuffle; exact integer arithmetic on the regex token count, so the
    window assignment matches the DuckDB oracle bit-for-bit."""
    from vectorchord_spark.pipeline.splits import pack_sequences
    from vectorchord_spark.pipeline.text import token_count

    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", token_count("text").alias("n_tokens"))
    )
    return (
        pack_sequences(docs, "n_tokens", context_len=2048, n_buckets=16)
        .select(
            "doc_id", "n_tokens", "pack_bucket",
            "pack_first", "pack_last", "pack_offset",
        )
        .orderBy("doc_id")
    )


_PACK_SEQUENCES_SQL = """
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS n_tokens,
         (('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 10000) % 16 AS pack_bucket
  FROM documents
),
c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY pack_bucket ORDER BY doc_id) AS cum
  FROM t
)
SELECT doc_id, n_tokens, pack_bucket,
       ((cum - n_tokens) // 2048)::BIGINT AS pack_first,
       ((cum - least(1, n_tokens)) // 2048)::BIGINT AS pack_last,
       ((cum - n_tokens) % 2048)::BIGINT AS pack_offset
FROM c
ORDER BY doc_id
"""


def _dedup_paragraph_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup (CCNet/RefinedWeb-lineage): 8-word
    non-overlapping windows as the paragraph unit, keep only the globally
    first occurrence of each paragraph hash, re-assemble each doc from its
    survivors. Winner selection is min(struct(id, para_no)) — a partially-
    aggregable groupBy (map-side combine), so a boilerplate paragraph
    repeated 10^8 times at corpus scale never hot-spots one partition the
    way a row_number window would. Bit-exact oracle: DuckDB recomputes the
    same windows, first-occurrence rank and ordered re-join."""
    from vectorchord_spark.pipeline.dedup import paragraph_dedup

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return paragraph_dedup(docs, "text", "doc_id", para_words=8).orderBy(
        "doc_id"
    )


_DEDUP_PARAGRAPH_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w, len(string_split(text, ' ')) AS n
  FROM documents
),
c AS (
  SELECT doc_id, w, n,
         unnest(range(0, 1 + CAST(ceil(greatest(n - 8, 0) / 8.0) AS BIGINT))) AS para_no
  FROM base
),
p AS (
  SELECT doc_id, CAST(para_no AS INT) AS para_no,
         array_to_string(list_slice(w, para_no * 8 + 1, least(para_no * 8 + 8, n)), ' ') AS para_text
  FROM c
),
h AS (SELECT doc_id, para_no, para_text, md5(para_text) AS hsh FROM p),
k AS (
  SELECT doc_id, para_no, para_text FROM (
    SELECT *, row_number() OVER (PARTITION BY hsh ORDER BY doc_id, para_no) AS rn
    FROM h
  ) WHERE rn = 1
),
t AS (SELECT doc_id, count(*)::BIGINT AS n_paras FROM h GROUP BY doc_id),
r AS (
  SELECT doc_id, count(*)::BIGINT AS n_paras_kept,
         string_agg(para_text, ' ' ORDER BY para_no) AS dedup_text
  FROM k GROUP BY doc_id
)
SELECT t.doc_id, t.n_paras,
       coalesce(r.n_paras_kept, 0)::BIGINT AS n_paras_kept,
       coalesce(r.dedup_text, '') AS dedup_text
FROM t LEFT JOIN r ON t.doc_id = r.doc_id
ORDER BY t.doc_id
"""


_SPARSE_TERMS_CTE = """
w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
hw AS (
  SELECT doc_id,
         (('0x' || substr(md5('hb|' || w), 1, 6))::BIGINT % 1024)::INT AS bucket,
         CASE WHEN ('0x' || substr(md5('hb|' || w), 7, 1))::INT % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM w
),
terms AS (
  SELECT doc_id, bucket, sum(s)::BIGINT AS weight
  FROM hw GROUP BY doc_id, bucket HAVING sum(s) != 0
)
"""


def _hash_embed_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (hashing-trick) sparse text embedding: each word
    md5-hashes to a bucket in [0, 1024) with a ±1 sign; per-doc signed
    integer counts are the weights, stored as inverted-index posting rows
    (doc_id, bucket, weight). Integer weights -> bit-exact oracle. One
    map-side-combined groupBy; the layout sparse_knn serves from."""
    from vectorchord_spark.pipeline.sparse import hash_embed_terms

    docs = (
        _read(spark, sf_dir, "documents")
        .where("doc_id < 100")
        .select("doc_id", "text")
    )
    return hash_embed_terms(docs, dim=1024).orderBy("doc_id", "bucket")


_HASH_EMBED_SQL = f"""
WITH {_SPARSE_TERMS_CTE}
SELECT doc_id, bucket, weight FROM terms
WHERE doc_id < 100 ORDER BY doc_id, bucket
"""


def _sparse_knn_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector retrieval (the svect kernels the reference never
    exposed at SQL — crates/vector/src/svect.rs, sparse dot
    crates/simd/src/floating_f32.rs:89-97 — re-expressed as the
    SPLADE/BM25 query shape): inverted-index join of a BROADCAST query
    term set against the hashed posting table, exact-int dot + norms,
    cosine top-10. The only float op is the final dot/sqrt(double) —
    IEEE-identical across engines, so scores gate bit-for-bit."""
    from vectorchord_spark.pipeline.sparse import hash_embed_terms, sparse_knn

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    terms = hash_embed_terms(docs, dim=1024)
    qt = terms.where("doc_id = 17").select("bucket", "weight")
    return sparse_knn(terms, qt, k=10).select(
        "doc_id", F.col("score").alias("cos")
    )


_SPARSE_KNN_SQL = f"""
WITH {_SPARSE_TERMS_CTE},
q AS (SELECT bucket, weight FROM terms WHERE doc_id = 17),
dots AS (
  SELECT t.doc_id, sum(t.weight * q.weight)::BIGINT AS dot
  FROM terms t JOIN q USING (bucket) GROUP BY t.doc_id
),
norms AS (
  SELECT doc_id, sum(weight * weight)::BIGINT AS nrm FROM terms GROUP BY doc_id
)
SELECT d.doc_id,
       d.dot / sqrt(n.nrm::DOUBLE * (SELECT sum(weight * weight)::BIGINT FROM q)) AS cos
FROM dots d JOIN norms n USING (doc_id)
ORDER BY cos DESC, doc_id LIMIT 10
"""


_RAG_QUERY = "spark stream window join merge sort"


def _rag_chunk_retrieval_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval end-to-end: chunk_documents (32-word windows, stride
    24) -> hashing-trick chunk embeddings -> inverted-index cosine top-10
    chunks for a literal query string. Pure composition of the green
    chunking + sparse primitives; every stage is a bounded groupBy or a
    broadcast join — the shape that serves retrieval at corpus scale."""
    from vectorchord_spark.pipeline.sparse import (
        hash_embed_query,
        hash_embed_terms,
        sparse_knn,
    )
    from vectorchord_spark.pipeline.text import chunk_documents

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_documents(
        docs, "text", chunk_words=32, overlap_words=8
    ).select("doc_id", "chunk_no", F.col("chunk_text").alias("text"))
    terms = hash_embed_terms(
        chunks, "text", id_col="doc_id", dim=1024, extra_keys=("chunk_no",)
    )
    qt = hash_embed_query(spark, _RAG_QUERY, dim=1024)
    return sparse_knn(
        terms, qt, k=10, extra_keys=("chunk_no",)
    ).select("doc_id", "chunk_no", F.col("score").alias("cos"))


_RAG_CHUNK_RETRIEVAL_SQL = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS wd, len(string_split(text, ' ')) AS n
  FROM documents
),
c AS (
  SELECT doc_id, wd, n,
         unnest(range(0, 1 + CAST(ceil(greatest(n - 32, 0) / 24.0) AS BIGINT))) AS chunk_no
  FROM base
),
chunks AS (
  SELECT doc_id, CAST(chunk_no AS INT) AS chunk_no,
         array_to_string(list_slice(wd, chunk_no * 24 + 1, least(chunk_no * 24 + 32, n)), ' ') AS text
  FROM c
),
w AS (
  SELECT doc_id, chunk_no, unnest(string_split(text, ' ')) AS w FROM chunks
),
hw AS (
  SELECT doc_id, chunk_no,
         (('0x' || substr(md5('hb|' || w), 1, 6))::BIGINT % 1024)::INT AS bucket,
         CASE WHEN ('0x' || substr(md5('hb|' || w), 7, 1))::INT % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM w
),
terms AS (
  SELECT doc_id, chunk_no, bucket, sum(s)::BIGINT AS weight
  FROM hw GROUP BY doc_id, chunk_no, bucket HAVING sum(s) != 0
),
qw AS (SELECT unnest(string_split('{_RAG_QUERY}', ' ')) AS w),
qh AS (
  SELECT (('0x' || substr(md5('hb|' || w), 1, 6))::BIGINT % 1024)::INT AS bucket,
         CASE WHEN ('0x' || substr(md5('hb|' || w), 7, 1))::INT % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM qw
),
q AS (
  SELECT bucket, sum(s)::BIGINT AS weight FROM qh GROUP BY bucket
  HAVING sum(s) != 0
),
dots AS (
  SELECT t.doc_id, t.chunk_no, sum(t.weight * q.weight)::BIGINT AS dot
  FROM terms t JOIN q USING (bucket) GROUP BY t.doc_id, t.chunk_no
),
norms AS (
  SELECT doc_id, chunk_no, sum(weight * weight)::BIGINT AS nrm
  FROM terms GROUP BY doc_id, chunk_no
)
SELECT d.doc_id, d.chunk_no,
       d.dot / sqrt(n.nrm::DOUBLE * (SELECT sum(weight * weight)::BIGINT FROM q)) AS cos
FROM dots d JOIN norms n USING (doc_id, chunk_no)
ORDER BY cos DESC, doc_id, chunk_no LIMIT 10
"""


def _decontaminate_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (test-set-leakage scrub): every doc_id
    sharing >= 2 distinct word 3-grams with the synthetic "benchmark"
    subset (doc_id % 20 == 0), via the inverted-index shingle join with
    the benchmark's distinct shingle set broadcast — never all-pairs.
    Deterministic integer report -> bit-exact oracle. The decontaminated
    corpus itself is the anti-join on this report (pipeline.dedup.
    decontaminate), so gating the report gates the scrub."""
    from vectorchord_spark.pipeline.dedup import contamination

    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    rep = contamination(docs, bench, min_overlap=2)
    return rep.select("doc_id", "overlap").orderBy("doc_id")


_DECONTAMINATE_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
cex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
bset AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 20 = 0),
hits AS (
  SELECT c.doc_id, count(*) AS overlap
  FROM cex c JOIN bset b ON c.s = b.s
  GROUP BY 1
)
SELECT doc_id, overlap FROM hits WHERE overlap >= 2 ORDER BY doc_id
"""


def _semdedup_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540) flag pass, label-cluster variant: the
    cluster assignment is the table's ``label`` column (so the oracle can
    reproduce it) and the intra-cluster visit order is ``min_id`` — row i
    is dropped iff ANY lower-id row in its cluster has cosine similarity
    > eps. Exercises the full distributed flag machinery (one
    groupBy(cluster) shuffle, LPT longest-first launch, blocked
    triangular GEMM per cluster); the k-means fit+assign stages are
    pytest-oracled and benched separately (bench.py `semdedup`). eps sits
    inside the intra-label cosine distribution (min |cos−eps| margin
    ~2e-4 at sf0.01/sf0.001 — far above f64 accumulation noise, so the
    boolean gates bit-stably against DuckDB's list_cosine_similarity)."""
    from vectorchord_spark.pipeline.semdedup import semdedup_flags

    emb = _read(spark, sf_dir, "embeddings")
    assigned = emb.select(
        F.col("vec_id"),
        F.col("label").cast("int").alias("cluster_id"),
        F.lit(0.0).alias("centroid_sim"),
    )
    flags = semdedup_flags(
        assigned, emb, id_col="vec_id", vec_col="embedding",
        eps=0.3, keep="min_id",
    )
    return flags.select(
        "vec_id",
        "cluster_id",
        F.col("keep").cast("int").alias("keep"),
    ).orderBy("vec_id")


_SEMDEDUP_SQL = """
WITH e AS (SELECT vec_id, label::INT AS cluster_id, embedding FROM embeddings)
SELECT a.vec_id, a.cluster_id,
       CAST(coalesce(max(CASE WHEN list_cosine_similarity(
                a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.3
            THEN 1 ELSE 0 END), 0) = 0 AS INT) AS keep
FROM e a LEFT JOIN e b
  ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id
GROUP BY a.vec_id, a.cluster_id
ORDER BY a.vec_id
"""


def _quality_score_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter scoring (fastText-style linear model over
    hashed unigram+bigram term frequencies) with a FIXED deterministic
    model so the oracle can recompute it: weight(bucket) = ((bucket ·
    2654435761) mod 1999 − 999) · 1e-6 (an LCG over buckets). Scoring is
    the production path — pure JVM: md5 feature hashing, broadcast
    (bucket, int-weight) join, one partial-aggregable groupBy; ``dot``
    is an exact int64 (1e6-scaled weights round-trip the f32 model
    exactly: |w|≤999 ⇒ f32 error < 1e-4 after rescale, rint exact) and
    ``logit = dot/(1e6·n_terms) + 0.125`` is one IEEE division+addition
    — bit-identical across engines. Training is pytest-gated
    (held-out separation) — SGD itself is not SQL-expressible."""
    import numpy as np

    from vectorchord_spark.pipeline.quality_model import score_quality

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    dim = 1 << 10
    wq = (np.arange(dim, dtype=np.int64) * 2654435761) % 1999 - 999
    model = {
        "w": (wq.astype(np.float64) * 1e-6).astype(np.float32),
        "b": 0.125,
        "dim": dim,
        "bigrams": True,
    }
    return score_quality(docs, model).orderBy("doc_id")


_QUALITY_SCORE_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS wd,
         len(string_split(text, ' ')) AS n
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(wd) AS w FROM base
  UNION ALL
  SELECT doc_id, wd[i] || '_' || wd[i + 1] AS w
  FROM (SELECT doc_id, wd, unnest(range(1, n)) AS i FROM base WHERE n >= 2)
),
h AS (
  SELECT doc_id,
         (('0x' || substr(md5('hb|' || w), 1, 6))::BIGINT % 1024) AS bucket
  FROM toks
),
terms AS (
  SELECT doc_id, bucket, count(*)::BIGINT AS weight
  FROM h GROUP BY doc_id, bucket
),
scored AS (
  SELECT doc_id, sum(weight)::BIGINT AS n_terms,
         sum(((bucket * 2654435761) % 1999 - 999) * weight)::BIGINT AS dot
  FROM terms GROUP BY doc_id
)
SELECT doc_id, n_terms, dot,
       dot::DOUBLE / (1000000.0 * n_terms::DOUBLE) + 0.125 AS logit
FROM scored ORDER BY doc_id
"""


def _perplexity_score_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity scoring (stupid-backoff n-gram LM, Brants
    et al. 2007): train an order-2 LM on the even-doc_id half of
    `documents`, score the odd half. Both train (map-side-combined
    exact-int gram counts) and score (explode → broadcast left joins →
    coalesce cascade → one groupBy, zero Python) are the production
    paths. Output is gate-stable: exact-int ``n_tokens`` plus
    ``millibits = floor(bits_per_token·1000)`` — per-token log2 terms
    are bit-identical across engines (same exact-int ratios, same IEEE
    double ops); only the per-doc sum's accumulation order can differ
    (≲1e-12), absorbed by the 1e-3 quantization."""
    from vectorchord_spark.pipeline.ngram_lm import score_lm, train_ngram_lm

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    lm = train_ngram_lm(docs.where(F.col("doc_id") % 2 == 0), order=2,
                        min_count=2)
    scored = score_lm(docs.where(F.col("doc_id") % 2 == 1), lm)
    out = scored.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("bits_per_token") * 1000).cast("bigint").alias(
            "millibits"
        ),
    ).orderBy("doc_id")
    return out


_PERPLEXITY_SCORE_SQL = """
WITH bos AS (SELECT chr(2)||'s'||chr(2) AS b),
ref AS (
  SELECT doc_id, list_prepend((SELECT b FROM bos), string_split(text, ' ')) AS w
  FROM documents WHERE doc_id % 2 = 0
),
uni AS (
  SELECT gram, count(*)::BIGINT AS cnt
  FROM (SELECT unnest(w) AS gram FROM ref) GROUP BY 1
),
bi AS (
  SELECT gram, count(*)::BIGINT AS cnt FROM (
    SELECT w[i-1] || ' ' || w[i] AS gram
    FROM ref, unnest(generate_series(2, len(w))) AS t(i)
  ) GROUP BY 1 HAVING count(*) >= 2
),
tot AS (SELECT sum(cnt)::DOUBLE AS t FROM uni WHERE gram <> (SELECT b FROM bos)),
test AS (
  SELECT doc_id, list_prepend((SELECT b FROM bos), string_split(text, ' ')) AS w
  FROM documents WHERE doc_id % 2 = 1
),
toks AS (
  SELECT doc_id, w[i-1] || ' ' || w[i] AS g2, w[i-1] AS ctx, w[i] AS w1
  FROM test, unnest(generate_series(2, len(w))) AS t(i)
),
scored AS (
  SELECT t.doc_id,
         log2(coalesce(
           bi.cnt::DOUBLE / u_ctx.cnt::DOUBLE,
           0.4 * (u_w.cnt::DOUBLE / (SELECT t FROM tot)),
           1e-9)) AS ls
  FROM toks t
  LEFT JOIN bi ON bi.gram = t.g2
  LEFT JOIN uni u_ctx ON u_ctx.gram = t.ctx
  LEFT JOIN uni u_w ON u_w.gram = t.w1
)
SELECT doc_id,
       count(*)::BIGINT AS n_tokens,
       CAST(floor(-sum(ls) / count(*) * 1000) AS BIGINT) AS millibits
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


def _dsir_select_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169): fit
    target (even-decade doc_ids) vs raw hashed-n-gram models at the
    SQL-reproducible dim=1024, importance-score every document (exact
    int64 milli-nat accumulation over md5-hashed unigram+bigram counts —
    the quality_score hashing family), and Gumbel-top-100 resample with
    deterministic md5-seeded keys. Output is all-integer (doc_id,
    n_terms, milli), so the gate pins BOTH the weight model and the
    resampling identity; the oracle replays fit+score+resample in SQL."""
    from vectorchord_spark.pipeline.dsir import (
        _LW_SCALE,
        fit_dsir,
        resample_dsir,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    model = fit_dsir(
        docs.where(F.col("doc_id") % 10 == 0),
        docs.where(F.col("doc_id") % 10 != 0),
        dim=1024,
        bigrams=True,
        alpha=1.0,
    )
    # resample_dsir carries (n_terms, logw) with every selected row, so
    # the hashed-feature scan + broadcast weight join run exactly once
    picked = resample_dsir(docs, model, n=100, temperature=1.0, seed=7)
    return (
        picked.select(
            "doc_id",
            "n_terms",
            # logw = milli/1e6; (m/1e6)*1e6 can land 1 ulp below the
            # integer, so ROUND (not cast-truncate) recovers the int64
            F.round(F.col("logw") * float(_LW_SCALE)).cast("bigint").alias(
                "milli"
            ),
        )
        .orderBy("doc_id")
    )


_DSIR_SELECT_SQL = r"""
WITH toks AS (
  SELECT doc_id, (doc_id % 10 = 0) AS is_target, unnest(tk) AS w FROM (
    SELECT doc_id,
           list_concat(
             string_split(text, ' '),
             CASE WHEN len(string_split(text, ' ')) >= 2 THEN
               list_transform(generate_series(1, len(string_split(text,' '))-1),
                 i -> string_split(text,' ')[i] || '_' || string_split(text,' ')[i+1])
             ELSE [] END
           ) AS tk
    FROM documents)
),
h AS (
  SELECT doc_id, is_target,
         (('0x' || substr(md5('hb|' || w), 1, 6))::BIGINT % 1024) AS bucket
  FROM toks
),
tcnt AS (SELECT bucket, count(*)::BIGINT AS c FROM h WHERE is_target GROUP BY 1),
rcnt AS (SELECT bucket, count(*)::BIGINT AS c FROM h WHERE NOT is_target GROUP BY 1),
ttot AS (SELECT count(*)::BIGINT AS t FROM h WHERE is_target),
rtot AS (SELECT count(*)::BIGINT AS t FROM h WHERE NOT is_target),
lw AS (
  SELECT g.b AS bucket,
         round((ln(coalesce(tc.c, 0) + 1.0) - ln((SELECT t FROM ttot) + 1024.0)
              - ln(coalesce(rc.c, 0) + 1.0) + ln((SELECT t FROM rtot) + 1024.0))
               * 1000000.0)::BIGINT AS w
  FROM (SELECT unnest(generate_series(0, 1023)) AS b) g
  LEFT JOIN tcnt tc ON tc.bucket = g.b
  LEFT JOIN rcnt rc ON rc.bucket = g.b
),
scored AS (
  SELECT h.doc_id, count(*)::BIGINT AS n_terms, sum(lw.w)::BIGINT AS milli
  FROM h JOIN lw ON lw.bucket = h.bucket
  GROUP BY h.doc_id
),
keyed AS (
  SELECT doc_id, n_terms, milli,
         milli::DOUBLE / 1000000.0
         - ln(-ln((('0x' || substr(md5(doc_id::VARCHAR || '|7'), 1, 12))::BIGINT + 1.0)
                  / (power(16, 12) + 2.0))) AS key
  FROM scored
),
sel AS (
  SELECT doc_id, n_terms, milli FROM keyed ORDER BY key DESC, doc_id LIMIT 100
)
SELECT doc_id, n_terms, milli FROM sel ORDER BY doc_id
"""


def _multimodal_image_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end image pipeline through the REAL decode branch
    (`strict=True`): synthesize a solid-color PNG per document (pixel
    value, width, height are closed-form functions of doc_id), run the
    typed-media decode + pooled-luminance featurizer, and emit
    integer-exact outputs. A solid w×h image pools to luminance == pixel
    value in every grid cell (sums stay < 2^24, so the f32 means are
    exact), which is what makes a DuckDB oracle possible for a codec
    pipeline: the oracle recomputes the same integers from doc_id. Wrong
    PNG encode, decode, channel handling, or pooling ⇒ wrong integers."""
    from vectorchord_spark.pipeline import multimodal as MM

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        import pandas as pd

        from vectorchord_spark.pipeline.multimodal import encode_png

        for pdf in batches:
            ids = pdf["doc_id"].to_numpy("int64")
            bufs = []
            for i in ids:
                v = int(i) % 256
                w = 4 + int(i) % 13
                h = 3 + int(i) % 11
                bufs.append(encode_png(np.full((h, w, 3), v, np.uint8)))
            yield pd.DataFrame({"doc_id": ids, "data": bufs})

    media = docs.mapInPandas(gen, "doc_id long, data binary")
    feats = MM.decode_image_features(media, "data", dim=16, strict=True)
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.round(F.element_at("embedding", 1) * 255).cast("int").alias("lum"),
        F.round(F.element_at("embedding", 16) * 255).cast("int").alias("lum_last"),
    ).orderBy("doc_id")


_MULTIMODAL_IMAGE_SQL = """
SELECT doc_id,
       CAST(4 + doc_id % 13 AS INTEGER) AS width,
       CAST(3 + doc_id % 11 AS INTEGER) AS height,
       CAST(doc_id % 256 AS INTEGER) AS lum,
       CAST(doc_id % 256 AS INTEGER) AS lum_last
FROM documents ORDER BY doc_id
"""


def _multimodal_audio_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audio pipeline through the REAL stdlib-wave decode branch
    (`strict=True`): synthesize a constant-amplitude 16 kHz mono WAV per
    document (sample count and amplitude are closed-form functions of
    doc_id) and emit integer-exact features — a constant signal's RMS is
    |amplitude|/32768, so round(rms·32768) recovers the amplitude exactly
    and duration_ms = n_samples/16. Wrong RIFF parsing, sample-width
    handling, or RMS math ⇒ wrong integers."""
    from vectorchord_spark.pipeline import multimodal as MM

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import io
        import wave

        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"].to_numpy("int64")
            bufs = []
            for i in ids:
                n = 800 + (int(i) % 5) * 160
                a = (int(i) * 37) % 30000 - 15000
                bio = io.BytesIO()
                with wave.open(bio, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(16000)
                    wf.writeframes(np.full(n, a, "<i2").tobytes())
                bufs.append(bio.getvalue())
            yield pd.DataFrame({"doc_id": ids, "data": bufs})

    media = docs.mapInPandas(gen, "doc_id long, data binary")
    feats = MM.audio_features(media, "data", strict=True)
    return feats.select(
        "doc_id",
        "n_samples",
        F.round(F.col("duration_s") * 1000).cast("bigint").alias("duration_ms"),
        F.round(F.col("rms") * 32768).cast("bigint").alias("amp"),
        "zero_cross",
    ).orderBy("doc_id")


_MULTIMODAL_AUDIO_SQL = """
SELECT doc_id,
       CAST(800 + (doc_id % 5) * 160 AS BIGINT) AS n_samples,
       CAST((800 + (doc_id % 5) * 160) // 16 AS BIGINT) AS duration_ms,
       CAST(ABS((doc_id * 37) % 30000 - 15000) AS BIGINT) AS amp,
       CAST(0 AS BIGINT) AS zero_cross
FROM documents ORDER BY doc_id
"""


def _multimodal_video_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end video pipeline through the REAL decode branch
    (`strict=True`, the same treatment image/audio got in r03/r04):
    synthesize a concatenated-PNG image sequence per document — the MJPEG
    shape with a stdlib-decodable codec; 3 + doc_id % 4 solid-color
    frames whose pixel value is (doc_id + 17·frame_no) % 256 — then
    frame-sample every 2nd frame and DECODE each sampled frame
    (decode_image_features, strict=True). The oracle recomputes the
    decoded width/height/luminance integers from doc_id: wrong sequence
    splitting, frame ordering, PNG encode/decode, or fan-out ⇒ wrong
    rows. Frame content (not just shape) is verified."""
    from vectorchord_spark.pipeline import multimodal as MM

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        import pandas as pd

        from vectorchord_spark.pipeline.multimodal import encode_png

        for pdf in batches:
            ids = pdf["doc_id"].to_numpy("int64")
            bufs = []
            for i in ids:
                w = 4 + int(i) % 3
                h = 2 + int(i) % 2
                bufs.append(
                    b"".join(
                        encode_png(
                            np.full((h, w, 3), (int(i) + 17 * f) % 256, np.uint8)
                        )
                        for f in range(3 + int(i) % 4)
                    )
                )
            yield pd.DataFrame({"doc_id": ids, "data": bufs})

    media = docs.mapInPandas(gen, "doc_id long, data binary")
    frames = MM.frame_sample(media, "data", every_n=2, strict=True)
    feats = MM.decode_image_features(frames, "frame", dim=16, strict=True)
    return feats.select(
        "doc_id",
        "frame_no",
        "width",
        "height",
        F.round(F.element_at("embedding", 1) * 255).cast("int").alias("lum"),
    ).orderBy("doc_id", "frame_no")


_MULTIMODAL_VIDEO_SQL = """
SELECT doc_id,
       CAST(frame_no AS INTEGER) AS frame_no,
       CAST(4 + doc_id % 3 AS INTEGER) AS width,
       CAST(2 + doc_id % 2 AS INTEGER) AS height,
       CAST((doc_id + 17 * frame_no) % 256 AS INTEGER) AS lum
FROM (SELECT doc_id, unnest(range(0, 3 + doc_id % 4, 2)) AS frame_no
      FROM documents)
ORDER BY doc_id, frame_no
"""


def _image_ahash_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup fingerprinting through the REAL decode branch
    (strict=True): per-doc two-tone 16×16 PNGs (horizontal split for even
    doc_id, vertical for odd) whose 64-bit average hash is closed-form —
    horizontal ⇒ the right 4 columns of the 8×8 grid exceed the mean
    (0x0F0F0F0F0F0F0F0F), vertical ⇒ the bottom 4 rows do
    (0x00000000FFFFFFFF). Wrong decode, pooling, thresholding, or MSB
    bit-packing ⇒ wrong integers. Near-dup pairing over this hash is
    pipeline.dedup.hamming_near_pairs (pytest-gated; the banding itself
    is oracle-gated by simhash_pairs)."""
    from vectorchord_spark.pipeline import multimodal as MM

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        import pandas as pd

        from vectorchord_spark.pipeline.multimodal import encode_png

        for pdf in batches:
            ids = pdf["doc_id"].to_numpy("int64")
            bufs = []
            for i in ids:
                px = np.full((16, 16, 3), 40, np.uint8)
                if int(i) % 2 == 0:
                    px[:, 8:] = 200
                else:
                    px[8:, :] = 200
                bufs.append(encode_png(px))
            yield pd.DataFrame({"doc_id": ids, "data": bufs})

    media = docs.mapInPandas(gen, "doc_id long, data binary")
    return MM.image_ahash(media, "data", strict=True).select(
        "doc_id", "ahash"
    ).orderBy("doc_id")


_IMAGE_AHASH_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN CAST(1085102592571150095 AS BIGINT)
            ELSE CAST(4294967295 AS BIGINT) END AS ahash
FROM documents ORDER BY doc_id
"""


def _audio_fingerprint_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup fingerprinting through the REAL stdlib-wave decode
    branch (strict=True): per-doc two-level WAVs (quiet half then loud
    half for even doc_id, reversed for odd) whose 64-bit energy-envelope
    fingerprint is closed-form — loud-second ⇒ windows 32-63 exceed the
    overall mean (0x00000000FFFFFFFF), loud-first ⇒ windows 0-31 do
    (0xFFFFFFFF00000000, negative as signed bigint). Wrong RIFF parsing,
    windowing, thresholding, or MSB packing ⇒ wrong integers."""
    from vectorchord_spark.pipeline import multimodal as MM

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import io
        import wave

        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"].to_numpy("int64")
            bufs = []
            for i in ids:
                quiet = np.full(640, 1000, "<i2")
                loud = np.full(640, 9000, "<i2")
                pcm = (
                    np.concatenate([quiet, loud])
                    if int(i) % 2 == 0
                    else np.concatenate([loud, quiet])
                )
                bio = io.BytesIO()
                with wave.open(bio, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(16000)
                    wf.writeframes(pcm.tobytes())
                bufs.append(bio.getvalue())
            yield pd.DataFrame({"doc_id": ids, "data": bufs})

    media = docs.mapInPandas(gen, "doc_id long, data binary")
    return MM.audio_fingerprint(media, "data", strict=True).select(
        "doc_id", "afp"
    ).orderBy("doc_id")


_AUDIO_FINGERPRINT_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN CAST(4294967295 AS BIGINT)
            ELSE CAST(-4294967296 AS BIGINT) END AS afp
FROM documents ORDER BY doc_id
"""


def _multimodal_resize_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real resize pipeline: solid-color PNG → nearest-neighbor resample +
    PNG re-encode (`resize_image`, strict=True) → real decode + feature
    pool. A solid image stays solid under any resample, so the resized
    image's decoded (width, height, luminance) are closed-form — wrong
    resample indexing, re-encode, or decode ⇒ wrong integers."""
    from vectorchord_spark.pipeline import multimodal as MM

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        import pandas as pd

        from vectorchord_spark.pipeline.multimodal import encode_png

        for pdf in batches:
            ids = pdf["doc_id"].to_numpy("int64")
            bufs = []
            for i in ids:
                v = int(i) % 256
                w = 4 + int(i) % 13
                h = 3 + int(i) % 11
                bufs.append(encode_png(np.full((h, w, 3), v, np.uint8)))
            yield pd.DataFrame({"doc_id": ids, "data": bufs})

    media = docs.mapInPandas(gen, "doc_id long, data binary")
    small = MM.resize_image(media, "data", width=6, height=4, strict=True)
    feats = MM.decode_image_features(
        small.select("doc_id", F.col("resized").alias("data")),
        "data",
        dim=16,
        strict=True,
    )
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.round(F.element_at("embedding", 1) * 255).cast("int").alias("lum"),
    ).orderBy("doc_id")


_MULTIMODAL_RESIZE_SQL = """
SELECT doc_id,
       CAST(6 AS INTEGER) AS width,
       CAST(4 AS INTEGER) AS height,
       CAST(doc_id % 256 AS INTEGER) AS lum
FROM documents ORDER BY doc_id
"""


def _sphere_ops_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three sphere containment operators (S4: `<<->>`/`<<#>>`/`<<=>>`,
    sql/install/vchord--1.1.1.sql:802-872) evaluated per row through the
    sphere() STRUCT constructor (S6, :900-910) — the boolean outputs are
    bit-exact against the oracle because both sides use the same
    left-associated fold chains."""
    from vectorchord_spark.functions.distances import sphere_contains_struct

    emb = _read(spark, sf_dir, "embeddings")
    qlit = D.vec_lit(QUERY_VEC)
    sph = lambda r: F.struct(  # noqa: E731
        qlit.alias("center"), F.lit(float(r)).alias("radius")
    )
    return emb.select(
        "vec_id",
        sphere_contains_struct("l2", "embedding", sph(RANGE_RADIUS))
        .cast("bigint")
        .alias("in_l2"),
        sphere_contains_struct("dot", "embedding", sph(RANGE_IP_RADIUS))
        .cast("bigint")
        .alias("in_ip"),
        sphere_contains_struct("cos", "embedding", sph(RANGE_COS_RADIUS))
        .cast("bigint")
        .alias("in_cos"),
    ).orderBy("vec_id")


def _sphere_ops_sql() -> str:
    # the Spark side computes the query norm with the left-fold expression
    # (cosine_distance's norm(b)); reproduce the identical IEEE sequence
    acc = 0.0
    for v in QUERY_VEC:
        acc += float(v) * float(v)
    qn_fold = float(np.sqrt(acc))
    return f"""
SELECT vec_id,
  CAST(sqrt({_l2sq_chain("embedding", QUERY_VEC)}) < {RANGE_RADIUS} AS BIGINT) AS in_l2,
  CAST(-({_dot_chain("embedding", QUERY_VEC)}) < {RANGE_IP_RADIUS} AS BIGINT) AS in_ip,
  CAST(1.0 - ({_dot_chain("embedding", QUERY_VEC)})
        / (sqrt({_norm2_chain("embedding")}) * {qn_fold!r}) < {RANGE_COS_RADIUS} AS BIGINT) AS in_cos
FROM embeddings
ORDER BY vec_id
"""


def _rabitq_distance_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rabitq8×rabitq8 estimated distance (S9, the quantized-column
    operator family: crates/rabitq/src/extended.rs:155-205) over
    consecutive-id embedding pairs, gated by a deterministic accuracy
    contract vs the exact distances (<5%% relative l2 error on every pair,
    the pytest tolerance table-wide)."""
    from vectorchord_spark.functions import quantize as Qz

    emb = _read(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("ida"), F.col("embedding").alias("va")
    )
    b = emb.select(
        (F.col("vec_id") - 1).alias("ida"), F.col("embedding").alias("vb")
    )
    pairs = a.join(b, "ida").select(
        "ida",
        Qz.quantize_to_rabitq("va", bits=8).alias("qa"),
        Qz.quantize_to_rabitq("vb", bits=8).alias("qb"),
        D.l2("va", "vb").alias("exact"),
    )
    est = pairs.select(
        "ida",
        "exact",
        Qz.rabitq_distance("l2", "qa", "qb", bits=8).alias("est"),
    )
    agg = est.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.abs(F.col("est") - F.col("exact")) / F.col("exact")).alias(
            "max_rel"
        ),
    ).first()
    return spark.createDataFrame(
        [(int(agg.n > 100), int(agg.max_rel < 0.05))],
        "has_pairs bigint, err_ok bigint",
    )


_RABITQ_DISTANCE_SQL = """
SELECT CAST(1 AS BIGINT) AS has_pairs, CAST(1 AS BIGINT) AS err_ok
"""


def _vector_io_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type I/O (S10): pgvector text format round-trip
    (src/datatype/text_rabitq8.rs protocol shape) — format every embedding
    to `[x,y,...]` text and parse it back; f32 values survive the
    cast-to-string/cast-to-float round trip exactly, so the contract is
    identity on every row."""
    from vectorchord_spark.sources.tables import parse_vector, vector_to_text

    emb = _read(spark, sf_dir, "embeddings")
    rt = emb.select(
        "vec_id",
        F.col("embedding").alias("orig"),
        parse_vector(vector_to_text("embedding")).alias("back"),
    )
    agg = rt.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("orig") == F.col("back"), 0).otherwise(1)
        ).alias("n_bad"),
    ).first()
    return spark.createDataFrame(
        [(int(agg.n > 0), int(agg.n_bad == 0))],
        "has_rows bigint, roundtrip_ok bigint",
    )


_VECTOR_IO_SQL = """
SELECT CAST(1 AS BIGINT) AS has_rows, CAST(1 AS BIGINT) AS roundtrip_ok
"""


def _prewarm_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prewarm (S11/S12: vchordrq_prewarm/vchordg_prewarm,
    sql/install/vchord--1.1.1.sql:1018-1019,1097-1098): cache the index
    tables and report row counts. The IVF codes count must equal the base
    table count (the SQL oracle); the graph count is >= it (closure
    replicas), checked as a contract bit."""
    ivf = _get_ivf_index(spark, sf_dir, "l2")
    n_ivf = ivf.prewarm()
    graph = _get_graph_index(spark, sf_dir)
    n_graph = graph.prewarm()
    return spark.createDataFrame(
        [(int(n_ivf), int(n_graph >= n_ivf))],
        "n_ivf_cached bigint, graph_replicated_ok bigint",
    )


_PREWARM_SQL = """
SELECT (SELECT count(*) FROM embeddings) AS n_ivf_cached,
       CAST(1 AS BIGINT) AS graph_replicated_ok
"""


def _sampled_queries_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query sampling (S14: vchordrq_sampled_queries + rate/max_records
    GUCs, sql/install/vchord--1.1.1.sql:936-1013, gucs.rs:30-34): with
    rate=1.0 and max_records=3, five searches must record exactly 3 query
    vectors (the cap), each of the index dimension."""
    import tempfile

    from vectorchord_spark.operators.ivf import IvfIndex, IvfOptions

    key = (sf_dir, "l2-sampling")
    idx = _IVF_CACHE.get(key)
    if idx is None:
        emb = _read(spark, sf_dir, "embeddings").limit(256)
        path = _register_tmpdir(tempfile.mkdtemp(prefix="vc_ivf_sampling_"))
        idx = IvfIndex.build(
            spark, emb, "vec_id", "embedding", path,
            IvfOptions(metric="l2", lists=[4]),
        )
        idx.enable_query_sampling(rate=1.0, max_records=3)
        for i in range(5):
            q = list(QUERY_VEC)
            q[0] += 0.01 * i
            idx.search(q, k=1, probes=None, rerank_factor=None).collect()
        _IVF_CACHE[key] = idx
    logged = idx.sampled_queries().collect()
    dims_ok = all(len(r.query) == len(QUERY_VEC) for r in logged)
    return spark.createDataFrame(
        [(len(logged), int(dims_ok))], "n_sampled bigint, dims_ok bigint"
    )


_SAMPLED_QUERIES_SQL = """
SELECT CAST(3 AS BIGINT) AS n_sampled, CAST(1 AS BIGINT) AS dims_ok
"""


def _rerank_in_table_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rerank-in-table (Q5, the reference's rerank_in_table=true: fetch
    original vectors from the heap instead of index copies,
    vchordrq/types.rs:27-38): exhaustive probes + base_df rerank must
    equal brute-force k-NN — the same oracle as the in-index twin, but the
    exact distances come from the BASE table join."""
    idx = _get_ivf_index(spark, sf_dir, "l2")
    emb = _read(spark, sf_dir, "embeddings")
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    res = idx.search(
        QUERY_VEC, k=10, probes=None, rerank_factor=None, base_df=base
    )
    return res.select(F.col("id").alias("vec_id"), "dist")


def _max_scan_tuples_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_scan_tuples (Q8, gucs.rs:435-438): the ANN budget cap. Contract:
    capped at 160 scanned candidates (of ~2000 scored) the search still
    returns k=10 rows whose recall vs brute force is >= 0.8 on this data
    (observed 0.9; deterministic — the lb ordering is fixed), and a cap
    below k binds exactly (4 rows out)."""
    idx = _get_ivf_index(spark, sf_dir, "l2")
    capped = idx.search(
        QUERY_VEC, k=10, probes=None, rerank_factor=None, max_scan_tuples=160
    )
    got = {r.id for r in capped.collect()}
    tiny = idx.search(
        QUERY_VEC, k=10, probes=None, rerank_factor=None, max_scan_tuples=4
    )
    n_tiny = tiny.count()
    exact = _exact_knn_ids(spark, sf_dir)
    recall = len(got & exact) / 10.0
    return spark.createDataFrame(
        [(len(got), int(recall >= 0.8), int(n_tiny == 4))],
        "n_results bigint, recall_ok bigint, cap_binds bigint",
    )


_MAX_SCAN_TUPLES_SQL = """
SELECT CAST(10 AS BIGINT) AS n_results,
       CAST(1 AS BIGINT) AS recall_ok,
       CAST(1 AS BIGINT) AS cap_binds
"""


def _verification_history() -> dict[str, int]:
    """Latest round in which each catalog entry has a green oracle row.

    Parsed from the committed ``CORRECTNESS_r*.json`` files at the repo
    root (the driver writes one per round and commits it). Used by
    ``catalog()`` to order entries by verification staleness so the
    driver's bounded gate prefix always re-verifies the least-recently
    verified entries first. Returns {} when no files exist (fresh clone),
    in which case the canonical order is used as-is.
    """
    import glob
    import json as _json
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(p) as f:
                data = _json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            green = (
                row.get("err") is None
                and row.get("rows_match") is True
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            if green:
                last[name] = max(last.get(name, -1), rnd)
    return last


# Source modules each entry family depends on (package-relative paths),
# matched by substring on the entry name. Used by _entry_hash so a change
# to an operator module invalidates the green evidence of every entry that
# exercises it (r05 verdict #2: a modified entry must not coast on a stale
# green row). Entries matching no rule are pure queries.py logic — their
# fn source + oracle SQL is the complete hash input.
_DEP_RULES: "list[tuple[tuple[str, ...], list[str]]]" = [
    (
        ("ann_graph", "graph_"),
        ["operators/graph.py", "operators/scheduling.py", "kernels.py"],
    ),
    (
        ("maxsim",),
        ["operators/maxsim.py", "operators/ivf.py", "kernels.py"],
    ),
    (
        (
            "ann_ivf", "knn_batch", "ivf_", "rerank_in_table",
            "max_scan_tuples", "ann_prefilter", "sampled_queries",
        ),
        [
            "operators/ivf.py", "operators/kmeans.py",
            "operators/sampling.py", "kernels.py",
        ],
    ),
    (("sql_ann",), ["plans/transparent.py", "operators/ivf.py", "kernels.py"]),
    (
        ("streaming_",),
        ["streaming/jobs.py", "operators/ivf.py", "operators/graph.py"],
    ),
    (("quantize", "rabitq_distance"), ["functions/quantize.py", "kernels.py"]),
    (
        ("knn_", "range_", "sphere_ops", "maxsim", "embed_neardup"),
        ["functions/distances.py"],
    ),
    (("vector_io",), ["sources/tables.py"]),
    (
        ("dedup", "simhash", "embed_neardup", "decontaminate"),
        ["pipeline/dedup.py"],
    ),
    # the paragraph family chunks via pipeline/text.py (latent gap fixed
    # r11: a text.py edit must demote these entries' evidence too)
    (("dedup_paragraph",), ["pipeline/text.py"]),
    (
        ("multimodal", "image_ahash", "audio_fingerprint"),
        ["pipeline/multimodal.py", "pipeline/dedup.py"],
    ),
    (
        (
            "langid", "doc_stats", "fingerprint", "quality_filter",
            "token_histogram", "repetition_stats", "redact_pii",
            "chunk_documents",
        ),
        ["pipeline/text.py"],
    ),
    (
        ("train_val_split", "stratified_sample", "mixture_weights"),
        ["pipeline/splits.py"],
    ),
    (("pack_sequences",), ["pipeline/splits.py", "pipeline/text.py"]),
    (
        ("sparse_knn", "hash_embed", "rag_chunk", "bm25"),
        ["pipeline/sparse.py", "pipeline/text.py"],
    ),
    (
        ("semdedup",),
        [
            "pipeline/semdedup.py", "operators/kmeans.py",
            "operators/scheduling.py",
        ],
    ),
    (
        ("quality_score",),
        ["pipeline/quality_model.py", "pipeline/sparse.py", "pipeline/text.py"],
    ),
    (("perplexity",), ["pipeline/ngram_lm.py", "pipeline/text.py"]),
    (
        ("dsir",),
        [
            "pipeline/dsir.py", "pipeline/quality_model.py",
            "pipeline/sparse.py", "pipeline/text.py",
        ],
    ),
    (
        ("curate",),
        ["pipeline/curate.py", "pipeline/dedup.py", "pipeline/text.py"],
    ),
]


def _entry_hash(name: str, q: Q) -> str:
    """Content hash of everything that determines an entry's behavior: the
    entry fn's source, its oracle SQL, and the operator modules its family
    depends on. If this differs from the hash recorded when the entry last
    went green, the green row no longer describes the current code."""
    import hashlib
    import inspect

    h = hashlib.sha256()
    try:
        h.update(inspect.getsource(q.fn).encode())
    except (OSError, TypeError):
        h.update(getattr(q.fn, "__qualname__", repr(type(q.fn))).encode())
    h.update((q.sql or "").encode())
    pkg = os.path.dirname(os.path.abspath(__file__))
    mods: list[str] = []
    for keys, deps in _DEP_RULES:
        if any(k in name for k in keys):
            mods.extend(d for d in deps if d not in mods)
    for rel in mods:
        try:
            with open(os.path.join(pkg, rel), "rb") as f:
                h.update(f.read())
        except OSError:
            h.update(b"<missing>")
    return h.hexdigest()[:16]


def _load_hash_snapshots() -> dict:
    """CATALOG_HASHES.json: per-round snapshots of every entry's content
    hash, taken at the end-of-round commit the driver's gate ran against
    (written by tools/update_catalog_hashes.py). {"snapshots": {"r05":
    {name: hash}}}. Missing file / missing round → legacy round-based
    staleness only (rounds before r06 predate this mechanism)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        with open(os.path.join(root, "CATALOG_HASHES.json")) as f:
            import json as _json

            return _json.load(f).get("snapshots", {})
    except (OSError, ValueError):
        return {}


def _effective_history(entries: "dict[str, Q]") -> "dict[str, tuple[int, bool]]":
    """Per entry: (last green round, content-hash-demoted?).

    ``demoted`` is True when the entry's content hash differs from the
    snapshot taken for its last green round — its green evidence no longer
    describes the current code, so it re-enters the gate ahead of ALL
    hash-clean entries (r09 policy: a hash-clean green row describes the
    current code bit-for-bit regardless of age — its evidence does not
    expire — while a demoted entry has no valid evidence at all, so
    validity outranks recency). Within each class, staler rounds still
    gate first; a broad module edit that demotes more entries than the
    prefix holds spills the remainder to the next round, where they keep
    leading (demotion is sticky until regated)."""
    hist = _verification_history()
    snaps = _load_hash_snapshots()
    out: dict[str, tuple[int, bool]] = {}
    for name, q in entries.items():
        r = hist.get(name, -1)
        demoted = False
        if r >= 0:
            snap = snaps.get("r%02d" % r, snaps.get("r%d" % r))
            if snap is not None:
                recorded = snap.get(name)
                demoted = recorded is None or recorded != _entry_hash(name, q)
        out[name] = (r, demoted)
    return out


def catalog() -> dict[str, Q]:
    # ORDER MATTERS: the driver's correctness gate runs a bounded prefix of
    # this dict (50 entries in r02/r03), so entries are ordered by
    # evidence VALIDITY then staleness: never-verified first, then
    # hash-demoted entries (their green row predates the current code —
    # no valid evidence) oldest round first, then hash-clean entries
    # (their green row still describes the current code bit-for-bit)
    # oldest round first; ties broken by canonical position below. This
    # is self-balancing rotation with the invariant: every entry always
    # has a driver row that is either hash-valid for the CURRENT code or
    # at most one gate away from being re-earned (spillover demotions
    # stay demoted and lead the next round).
    entries = _catalog_canonical()
    hist = _effective_history(entries)

    def _key(t):
        pos, (name, _q) = t
        r, demoted = hist.get(name, (-1, False))
        cls = 0 if r < 0 else (1 if demoted else 2)
        return (cls, r, pos)

    ordered = sorted(enumerate(entries.items()), key=_key)
    return {name: q for _, (name, q) in ordered}


def _catalog_canonical() -> dict[str, Q]:
    # Canonical grouping (vector ops / pipeline / temporal / relational);
    # the gate order is derived from this by catalog()'s staleness sort.
    return {
        # --- never-verified or gate-truncated in r02: run first ---
        "quantize_roundtrip": Q(_quantize_roundtrip_fn, _QUANTIZE_ROUNDTRIP_SQL),
        "ann_ivf_rabitq8": Q(_ann_ivf_rabitq8_fn, _RECALL_CONTRACT_SQL, headline=True),
        "ann_graph": Q(_ann_graph_fn, _RECALL_CONTRACT_SQL, headline=True),
        "ann_ivf_upsert": Q(_ann_ivf_upsert_fn, _ann_ivf_upsert_sql()),
        "ann_graph_upsert": Q(_ann_graph_upsert_fn, _ann_graph_upsert_sql()),
        "ann_ivf_cos": Q(_ann_ivf_cos_fn, _knn_sql("cos")),
        "ann_ivf_f16": Q(_ann_ivf_f16_fn, _knn_sql("l2")),
        "ann_ivf_residual": Q(_ann_ivf_residual_fn, _knn_sql("l2")),
        "maxsim_ivf_probed": Q(_maxsim_ivf_probed_fn, _RECALL_CONTRACT_SQL),
        "maxsim_ivf_refine": Q(_maxsim_ivf_refine_fn, _MAXSIM_REFINE_SQL),
        "ann_ivf_hierarchical": Q(_ann_hierarchical_fn, _knn_sql("l2")),
        "ann_ivf_distkm": Q(_ann_distkm_fn, _knn_sql("l2")),
        "ann_ivf_deep_lazy": Q(_ann_deep_lazy_fn, _ANN_DEEP_LAZY_SQL),
        "sphere_ops": Q(_sphere_ops_fn, _sphere_ops_sql()),
        "rabitq_distance": Q(_rabitq_distance_fn, _RABITQ_DISTANCE_SQL),
        "vector_io": Q(_vector_io_fn, _VECTOR_IO_SQL),
        "rerank_in_table": Q(_rerank_in_table_fn, _knn_sql("l2")),
        "max_scan_tuples": Q(_max_scan_tuples_fn, _MAX_SCAN_TUPLES_SQL),
        "ivf_prewarm": Q(_prewarm_fn, _PREWARM_SQL),
        "sampled_queries": Q(_sampled_queries_fn, _SAMPLED_QUERIES_SQL),
        "range_ip": Q(_range_ip_fn, _range_ip_sql()),
        "range_cos": Q(_range_cos_fn, _range_cos_sql()),
        "simhash_pairs": Q(_simhash_pairs_fn, _simhash_pairs_sql()),
        "knn_batch_ivf": Q(_knn_batch_ivf_fn, _knn_batch_sql(), headline=True),
        "knn_batch_rabitq8": Q(_knn_batch_rabitq8_fn, _KNN_BATCH_RABITQ8_SQL),
        "knn_batch_rerank_table": Q(_knn_batch_rerank_table_fn, _knn_batch_sql()),
        "knn_batch_prefilter": Q(_knn_batch_prefilter_fn, _knn_batch_prefilter_sql()),
        "maxsim_refine_f16": Q(_maxsim_refine_f16_fn, _MAXSIM_REFINE_F16_SQL),
        "maxsim_refine_rerank_table": Q(
            _maxsim_refine_rerank_table_fn, _MAXSIM_REFINE_RERANK_TABLE_SQL
        ),
        "streaming_knn_serve": Q(_streaming_knn_serve_fn, _knn_batch_sql()),
        "embed_neardup_lsh": Q(_embed_neardup_lsh_fn, _embed_neardup_lsh_sql(), headline=True),
        "dedup_keep_best": Q(_dedup_keep_best_fn, _dedup_keep_best_sql()),
        # r11: one-call curation through the hard gate (was bench-only);
        # the full stage cascade incl. capped LSH near-dedup replayed in
        # SQL. Not headline: bench.py times curate separately.
        "curate": Q(_curate_fn, _curate_sql()),
        # --- vector/ANN operator surface (§2) ---
        "knn_l2": Q(_knn_fn("l2"), _knn_sql("l2"), headline=True),
        "knn_ip": Q(_knn_fn("dot"), _knn_sql("dot"), headline=True),
        "knn_cos": Q(_knn_cos_fn, _knn_sql("cos"), headline=True),
        "range_l2": Q(_range_l2_fn, _RANGE_L2_SQL, headline=True),
        "maxsim": Q(_maxsim_fn, _MAXSIM_SQL, headline=True),
        "knn_join": Q(_knn_join_fn, _KNN_JOIN_SQL, headline=True),
        "ann_ivf_exhaustive": Q(_ann_ivf_exhaustive_fn, _knn_sql("l2"), headline=True),
        "ann_prefilter": Q(_ann_prefilter_fn, _ANN_PREFILTER_SQL),
        "ann_ivf_multilevel": Q(_ann_multilevel_fn, _knn_sql("l2")),
        "ann_ivf_external": Q(_ann_external_fn, _knn_sql("l2")),
        "ann_ivf_kmeans_dim": Q(_ann_kmeans_dim_fn, _knn_sql("l2")),
        "sql_ann": Q(_sql_ann_fn, _knn_sql("l2"), headline=True),
        "sql_ann_range": Q(_sql_ann_range_fn, _RANGE_L2_SQL),
        "sql_ann_maxsim": Q(_sql_ann_maxsim_fn, _MAXSIM_SQL),
        "ann_ivf_probes": Q(_ann_ivf_probes_fn, _ANN_IVF_PROBES_SQL, headline=True),
        "ivf_recall_exhaustive": Q(_ivf_recall_fn, _IVF_RECALL_SQL),
        "graph_recall_exhaustive": Q(_graph_recall_fn, _IVF_RECALL_SQL),
        "streaming_knn_serve_graph": Q(_streaming_knn_serve_graph_fn, _knn_batch_sql()),
        "maxsim_ivf": Q(_maxsim_ivf_fn, _MAXSIM_SQL),
        # --- LLM-pipeline operators ---
        "dedup_exact": Q(_dedup_exact_fn, _DEDUP_EXACT_SQL),
        "dedup_ngram": Q(_dedup_ngram_fn, _DEDUP_NGRAM_SQL, headline=True),
        "dedup_minhash_lsh": Q(_minhash_fn, _minhash_sql(), headline=True),
        "simhash": Q(_simhash_fn, _simhash_sql()),
        # small-scale oracle twin of the LSH path (driver-bounded block
        # matmul); NOT a headline serving query — the scale path is
        # embed_neardup_lsh
        "embed_neardup": Q(_embed_neardup_fn, _EMBED_NEARDUP_SQL),
        "doc_stats": Q(_doc_stats_fn, _DOC_STATS_SQL),
        "langid": Q(_langid_fn, _langid_sql()),
        "fingerprint": Q(_fingerprint_fn, _FINGERPRINT_SQL),
        "quality_filter": Q(_quality_filter_fn, _QUALITY_FILTER_SQL),
        "token_histogram": Q(_token_histogram_fn, _TOKEN_HISTOGRAM_SQL),
        "repetition_stats": Q(_repetition_stats_fn, _REPETITION_STATS_SQL, headline=True),
        "redact_pii": Q(_redact_pii_fn, _redact_pii_sql(), headline=True),
        "train_val_split": Q(_train_val_split_fn, _TRAIN_VAL_SPLIT_SQL),
        "stratified_sample": Q(_stratified_sample_fn, _STRATIFIED_SAMPLE_SQL),
        "mixture_weights": Q(_mixture_weights_fn, _MIXTURE_WEIGHTS_SQL),
        "chunk_documents": Q(_chunk_documents_fn, _CHUNK_DOCUMENTS_SQL),
        "pack_sequences": Q(_pack_sequences_fn, _PACK_SEQUENCES_SQL),
        "dedup_paragraph": Q(_dedup_paragraph_fn, _DEDUP_PARAGRAPH_SQL),
        # r11: the sub-document near-dup twin, through the hard gate
        "dedup_paragraph_neardup": Q(
            _dedup_paragraph_neardup_fn, _dedup_paragraph_neardup_sql()
        ),
        "hash_embed": Q(_hash_embed_fn, _HASH_EMBED_SQL),
        "sparse_knn": Q(_sparse_knn_fn, _SPARSE_KNN_SQL),
        "rag_chunk_retrieval": Q(_rag_chunk_retrieval_fn, _RAG_CHUNK_RETRIEVAL_SQL),
        "decontaminate": Q(_decontaminate_fn, _DECONTAMINATE_SQL, headline=True),
        # NOT headline: bench.py tracks the richer end-to-end twins
        # (k-means-fit semdedup, dim 2^14 quality model) as bench-only
        # entries; these catalog variants pin the same machinery to
        # SQL-reproducible configurations for the driver's oracle gate
        "semdedup": Q(_semdedup_fn, _SEMDEDUP_SQL),
        "quality_score": Q(_quality_score_fn, _QUALITY_SCORE_SQL),
        "perplexity_score": Q(_perplexity_score_fn, _PERPLEXITY_SCORE_SQL),
        "dsir_select": Q(_dsir_select_fn, _DSIR_SELECT_SQL),
        "multimodal_image": Q(_multimodal_image_fn, _MULTIMODAL_IMAGE_SQL),
        "multimodal_audio": Q(_multimodal_audio_fn, _MULTIMODAL_AUDIO_SQL),
        "multimodal_video": Q(_multimodal_video_fn, _MULTIMODAL_VIDEO_SQL),
        "multimodal_resize": Q(_multimodal_resize_fn, _MULTIMODAL_RESIZE_SQL),
        "image_ahash": Q(_image_ahash_fn, _IMAGE_AHASH_SQL),
        "audio_fingerprint": Q(_audio_fingerprint_fn, _AUDIO_FINGERPRINT_SQL),
        # --- temporal / streaming-twin operators ---
        "asof_join": Q(_asof_join_fn, _ASOF_JOIN_SQL, headline=True),
        "range_join_count": Q(_range_join_fn, _RANGE_JOIN_SQL),
        "events_rollup": Q(_events_rollup_fn, _EVENTS_ROLLUP_SQL),
        "events_json": Q(_events_json_fn, _EVENTS_JSON_SQL),
        "sessionize": Q(_sessionize_fn, _SESSIONIZE_SQL, headline=True),
        "top_orders_window": Q(_top_orders_fn, _TOP_ORDERS_SQL),
        # --- relational (Spark SQL native; redundant-coverage tail) ---
        "q1_pricing": Q(_q1_fn, _Q1_SQL, headline=True),
        "q3_shipping": Q(_q3_fn, _Q3_SQL, headline=True),
        "q5_revenue": Q(_q5_fn, _Q5_SQL, headline=True),
        "part_revenue": Q(_part_revenue_fn, _PART_REVENUE_SQL),
        # q6/q14/q17/q19 and q4/q12/q22 are folded into two umbrella
        # entries (r06): identical row-level verification, 5 fewer
        # rotation-gate slots (the driver gates a 50-entry prefix)
        "tpch_scalars": Q(_tpch_scalars_fn, _TPCH_SCALARS_SQL),
        "tpch_groups": Q(_tpch_groups_fn, _TPCH_GROUPS_SQL),
        "q10_returned": Q(_q10_fn, _Q10_SQL),
        "q7_volume": Q(_q7_fn, _Q7_SQL),
        "q13_custdist": Q(_q13_fn, _Q13_SQL),
        "q15_topsupp": Q(_q15_fn, _Q15_SQL),
        "q18_bigorders": Q(_q18_fn, _Q18_SQL),
    }


def serving_overrides() -> dict[str, "Callable[[SparkSession, str], DataFrame]"]:
    """Serving-shape twins of the contract-gated ANN catalog entries.

    The catalog versions of ``ann_ivf_probes`` / ``ann_ivf_rabitq8`` /
    ``ann_graph`` are *correctness contracts*: each runs several searches
    plus a brute-force baseline so the driver's oracle gate can hash a
    deterministic verdict row. Benchmarks should time what a user's query
    costs, not the verification machinery — these run exactly ONE search in
    the same configuration the contracts certify. bench.py uses these
    timings for the named entries."""

    def probes_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
        idx = _get_ivf_index(spark, sf_dir, "l2")
        res = idx.search(QUERY_VEC, k=10, probes=[4], epsilon=1.9, rerank_factor=4)
        return res.select(F.col("id").alias("vec_id"), "dist")

    def rabitq8_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
        idx = _get_rabitq8_index(spark, sf_dir)
        res = idx.search(QUERY_VEC, k=10, probes=[4], rerank_factor=4)
        return res.select(F.col("id").alias("vec_id"), "dist")

    def graph_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
        idx = _get_graph_index(spark, sf_dir)
        # DEFAULT arguments (auto ef) — the bench times what an untuned
        # user's query costs; at this SF the auto floor equals the old
        # pinned ef=64, so bench continuity is preserved
        res = idx.search(QUERY_VEC, k=10, probe_shards=3)
        return res.select(F.col("id").alias("vec_id"), "dist")

    return {
        "ann_ivf_probes": probes_serving,
        "ann_ivf_rabitq8": rabitq8_serving,
        "ann_graph": graph_serving,
    }
