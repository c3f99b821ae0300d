"""Source-vector prep and bounded distributed sampling shared by the
index builds.

Single-pass per-partition bounded sample, no preliminary full-table sort:
each partition keeps its cap/n_parts smallest rows by a seeded random key,
so the driver merges ~cap rows instead of sorting the whole table (when cap
exceeds the rows-per-partition a global TakeOrdered/orderBy degenerates
into collect-everything). This is the Spark analogue of the bound the
reference's Feistel TSM sampling enforces (am_build.rs:1306-1311).

A JVM-side prefilter bounds the data volume at scale: only rows whose
random key falls under a per-partition threshold (sized from exact
per-partition counts so ~2x the kept rows survive) enter the window stage
— at 250k x 768d this cuts the pass from ~750 MB to ~2x the sample size.
The selected rows are identical to the unfiltered sampler's (both keep the
per-partition smallest keys; the filter only removes rows that could never
be selected), except in the astronomically unlikely tail where a
partition's per_part-th smallest key exceeds 2x its expectation — the
sample then comes up slightly short, which the k-means callers tolerate
(cap is a budget, not a contract). The bound itself is a pure-JVM
in-partition sort + monotonically_increasing_id rank — one codegen span,
no exchange; vectors reach Python exactly once, in the final driver
toPandas.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectorchord_spark.functions import distances as D


def source_vectors(df: DataFrame, id_col: str, vec_col: str, metric: str) -> DataFrame:
    """(id long, vec) rows of a vector table, as every index build and
    insert reads them and as rerank-in-table reads ``base_df``: NULL
    vectors are skipped (reference null.fail / issue_427 contract: NULL
    rows are absent from index results; NaN/Inf rows index fine and sort
    after every finite distance) and cos vectors are L2-normalized to
    f32, as cosine opclasses store them
    (/root/reference/src/index/vchordrq/opclass.rs:49-68)."""
    src = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
    )
    if metric == "cos":
        src = src.select("id", D.normalize("vec").cast("array<float>").alias("vec"))
    return src


def bounded_sample_vectors(df: DataFrame, cap: int, seed: int) -> pd.DataFrame:
    """Sample ≤``cap`` rows of ``df``'s ``vec`` column into a pandas frame.

    Deterministic for a fixed (df partitioning, seed). The result must fit
    the driver — callers size ``cap`` for their driver-side k-means step.
    """
    return bounded_sample_plan(df, cap, seed).toPandas()


def bounded_sample_plan(df: DataFrame, cap: int, seed: int) -> DataFrame:
    """The sampler's (uncollected) plan — split out so tests can assert
    its shape: one codegen span, zero exchanges (the performance contract
    that makes the sample pass a pure scan at 100 TB)."""
    n_parts = max(1, df.rdd.getNumPartitions())
    per_part = -(-cap // n_parts)

    # exact per-partition counts (pure JVM aggregation — no vectors move)
    counts = {
        int(r["_p"]): int(r["cnt"])
        for r in df.groupBy(F.spark_partition_id().alias("_p"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    total = sum(counts.values())
    src = df.select("vec", F.rand(seed).alias("_u"))
    if total > 4 * cap and counts:
        # the prefilter only pays when most rows would be discarded
        max_pid = max(counts)
        frac = [
            min(1.0, 2.0 * per_part / counts[p]) if counts.get(p) else 1.0
            for p in range(max_pid + 1)
        ]
        frac_arr = F.array(*[F.lit(float(x)) for x in frac])
        thresh = F.when(
            F.spark_partition_id() <= max_pid,
            F.element_at(frac_arr, F.spark_partition_id() + 1),
        ).otherwise(F.lit(1.0))
        src = src.where(F.col("_u") < thresh)

    # per-partition bound, pure JVM and SHUFFLE-FREE: sort each partition
    # by the seeded key in place (narrow op — no exchange), then use
    # monotonically_increasing_id()'s documented layout (upper bits =
    # partition index, lower 33 bits = record position within the
    # partition) as the per-partition rank. Selects exactly the per_part
    # smallest keys of each ORIGINAL partition — the same rows the
    # previous window-rank version picked, without moving the prefiltered
    # ~2·cap vector payload through a window exchange first. Vectors
    # still cross Arrow exactly once, in the final driver toPandas.
    return (
        src.sortWithinPartitions("_u")
        .withColumn("_rn", F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1))
        .where(F.col("_rn") < per_part)
        .select("vec")
        .limit(cap)
    )
