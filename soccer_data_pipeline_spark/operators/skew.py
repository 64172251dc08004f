"""Skew-mitigation utilities (SURVEY.md §4: hot keys at 100 TB).

AQE's skew-join splitting handles moderate skew automatically
(``spark.sql.adaptive.skewJoin.enabled``, on in session.py). These
helpers cover the two cases AQE can't:

- ``salted_aggregate``: a groupBy whose hot key overwhelms one task.
  Two-phase: salt the key (N subkeys) → partial agg → final agg over
  the unsalted key. Classic map-side-combine generalization; correct
  for any algebraic aggregate (sum/count/min/max).
- ``broadcast_salted_join``: a fact⋈dim join where a handful of dim
  keys are hot but the dim is too big to broadcast whole: broadcast
  only the hot-key slice, shuffle-join the rest, union. (Provided for
  completeness; prefer plain broadcast when the dim fits.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Widen a COMPUTE-DENSE narrow frame to the session's default
    parallelism before its heavy per-row work runs (optimization guide
    §2.5, input skew: "one huge unsplittable file ... repartition
    immediately after the read").

    Parquet scan parallelism is bounded by row groups, not by the
    session's split-size conf: a single-row-group file scans as ONE
    task no matter how small ``spark.sql.files.maxPartitionBytes`` is
    set. The sf* corpus tables are single/few-row-group files, so
    per-row hash/tokenize/vector work (md5-per-position winnowing,
    shingle hashing, interpreted higher-order array math) was measured
    serializing on 1-3 of 32 local cores — winnowing_pairs ran 2.7×
    faster after this spread, bit-identical output. At 100 TB the scan
    already carries >= defaultParallelism partitions and this is a
    no-op (the guard below), so nothing is tuned to local[32]: the
    target derives from the cluster, the trigger from the data.

    Correctness: a round-robin repartition moves rows, never values;
    Spark's sort-before-repartition (on by default) keeps the row→
    partition assignment deterministic under task retry. Callers are
    the engine's order-insensitive pipelines (exact-integer/min/count
    aggregations) — the house determinism discipline means no
    oracle-checked result depends on partitioning.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def spread_after_shuffle(df: DataFrame) -> DataFrame:
    """Round-robin repartition to max(shuffle partitions, default
    parallelism) for COMPUTE-DENSE post-shuffle frames; never shrinks.

    ``spread_for_compute``'s guard reads the PLANNED partition count,
    but AQE coalesces shuffle outputs at RUNTIME by BYTES — it cannot
    see per-row compute — so a byte-light candidate-pair table
    collapses to 1-2 tasks right before its expensive verify stage
    (measured r15: jaccard_prefix_join's array_intersect verify ran
    3 s on ONE task behind an AQE-coalesced distinct). The explicit
    REPARTITION_BY_NUM node this inserts is user-specified, so AQE
    never re-coalesces it. Use ONLY where the downstream per-row work
    dwarfs one extra shuffle of the (narrow) rows; same correctness
    argument as spread_for_compute (rows move, values don't).

    The target derives from CONFIGURATION: max(defaultParallelism,
    shuffle partitions) is ≥ any AQE-coalesced width by construction
    (AQE only ever coalesces DOWN from the configured partition
    count). No-shrink contract: an input whose planned width is
    already wider than the target passes through unchanged — a
    repartition down to the target would narrow the verify it is
    meant to widen. The width is read off the physical plan as
    planned, never from ``df.rdd`` (ADVICE r15): touching
    ``.rdd`` on a post-shuffle frame under AQE forces the final plan,
    which eagerly EXECUTES every upstream shuffle stage at
    DataFrame-construction time, and the ``repartition`` then re-runs
    them.
    """
    spark = df.sparkSession
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    target = max(spark.sparkContext.defaultParallelism, conf_parts)
    # planning executes nothing; under AQE the exchange-inserted input
    # plan inside the adaptive wrapper carries the planned partitioning
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    if plan.outputPartitioning().numPartitions() > target:
        return df
    return df.repartition(target)


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps column → one of sum/count/min/max (algebraic, so
    partial results re-aggregate exactly).
    """
    merge = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    first = {
        "sum": F.sum,
        "count": lambda c: F.count(c),
        "min": F.min,
        "max": F.max,
    }
    salted = df.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[first[how](c).alias(f"_p_{c}") for c, how in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[merge[how](f"_p_{c}").alias(f"{c}_{how}") for c, how in aggs.items()]
    )


def broadcast_salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    hot_keys: list,
) -> DataFrame:
    """Join with hot dim keys broadcast, the long tail shuffle-joined."""
    hot_dim = dim.where(F.col(key).isin(hot_keys))
    cold_dim = dim.where(~F.col(key).isin(hot_keys))
    hot = fact.where(F.col(key).isin(hot_keys)).join(F.broadcast(hot_dim), key)
    cold = fact.where(~F.col(key).isin(hot_keys)).join(cold_dim, key)
    return hot.unionByName(cold)
