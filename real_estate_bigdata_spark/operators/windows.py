"""Window-function operators (SURVEY §2.5 — ABSENT in the reference;
Spark `pyspark.sql.Window` semantics are the spec).

Scale notes: every operator here shuffles once on its partition key and
sorts within partitions — the minimal plan for windowed analytics.
Partition keys are chosen high-NDV (user_id, nation) so no single
partition dominates; for skewed keys, pre-aggregate or salt upstream.
Ordering always includes a unique tiebreaker (event_id / custkey) so
results are deterministic and oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "top_n_per_group",
    "window_frames",
    "rank_dense_ntile",
]


def top_n_per_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list,
    n: int,
    rank_alias: str = "rn",
) -> DataFrame:
    """row_number() per group, keep top-n. The canonical per-group top-k:
    one shuffle on the partition key, per-partition sort, early filter."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_alias, F.row_number().over(w)).filter(
        F.col(rank_alias) <= n
    )


def window_frames(events: DataFrame, lookback: int = 3) -> DataFrame:
    """Per-user running total with lag delta, plus the per-event-type
    moving average of ``value`` over the previous ``lookback`` rows and
    the current one, in one query: the unbounded-preceding running frame
    (per user) and the bounded trailing frame (per event type) evaluated
    over the same scan.

    Two window specs with different partition keys plan as two
    sequential exchanges — the same total shuffle work as running the
    two queries separately, but one scan instead of two.
    """
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wt = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-lookback, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(
            F.sum("value").over(wu.rowsBetween(Window.unboundedPreceding, 0)), 6
        ).alias("running_value"),
        F.round(
            F.col("value") - F.coalesce(F.lag("value").over(wu), F.lit(0.0)), 6
        ).alias("delta_value"),
        F.round(F.avg("value").over(wt), 6).alias("moving_avg"),
    )


def rank_dense_ntile(customer: DataFrame, buckets: int = 4) -> DataFrame:
    """rank / dense_rank / ntile per nation by account balance — the
    ranking-function family exercised in one pass (single shuffle)."""
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return customer.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.ntile(buckets).over(w).alias("bal_quartile"),
    )
