"""Aggregation operators (SURVEY §2.4 + ABSENT categories filled in).

The reference's whole aggregate surface is one group-by count implemented
twice (`spark_jobs/count_by_district.py:28-29` and the mapper/reducer pair
`batch_jobs/listing_count_by_district/{mapper,reducer}.py`). We keep that
exact semantics (``count_by_key``) and add the standard aggregate family
the reference lacks: multi-measure, distinct, rollup/cube, top-k.

Scale notes: all of these compile to partial (map-side) + final hash
aggregation with a single shuffle on the group keys — the plan that holds
at 100 TB. AQE coalesces the post-shuffle partitions; no driver-side
loops anywhere. Rounding on double measures is part of the public
contract (stable, oracle-comparable output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "count_by_key",
    "pricing_summary",
    "distinct_counts",
    "rollup_counts",
    "cube_counts",
    "grouping_sets_counts",
    "pivot_status_counts",
    "top_keys_per_group",
    "approx_distinct_counts",
    "stats_profile",
    "correlation_profile",
    "forecast_revenue",
    "large_orders",
    "top_k",
]


def count_by_key(df: DataFrame, key: str, alias: str = "so_luong") -> DataFrame:
    """The reference's batch view: listings-per-district
    (`count_by_district.py:26-29`), generalized to any key column.

    Trim-superset filter semantics (mapper.py:21-24 + SURVEY §7.4):
    null/empty/whitespace-only keys are dropped, keys are trimmed before
    grouping. One shuffle on the (pruned, pre-filtered) key column.
    """
    k = F.trim(F.col(key))
    return (
        df.select(k.alias(key))
        .filter(F.col(key).isNotNull() & (F.col(key) != ""))
        .groupBy(key)
        .agg(F.count("*").alias(alias))
    )


def pricing_summary(lineitem: DataFrame, cutoff: str = "2000-12-01") -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the engine's flagship aggregate.

    Filter pushes to the parquet scan (l_shipdate predicate), then a
    partial+final hash agg over the 6-value (returnflag, linestatus) key
    space; the shuffle moves only 6 groups x partials, not data.
    """
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def distinct_counts(orders: DataFrame) -> DataFrame:
    """Distinct + plain counts per priority (ABSENT in reference,
    SURVEY §2.4). `countDistinct` plans as a two-stage expand/agg —
    fine here because the distinct key (custkey) is bounded; for
    ultra-high-cardinality keys use approx_count_distinct instead."""
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def rollup_counts(orders: DataFrame) -> DataFrame:
    """ROLLUP (status, priority): subtotal + grand-total rows with NULL
    group keys, matching ANSI ROLLUP null semantics."""
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def cube_counts(lineitem: DataFrame) -> DataFrame:
    """CUBE (returnflag, linestatus): all 2^2 grouping sets."""
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n_items"),
    )


def pivot_status_counts(orders: DataFrame) -> DataFrame:
    """Pivot: order status across the columns, one row per priority
    (count + rounded price sum per cell).

    Values are ENUMERATED ("F"/"O"/"P"), not discovered: without the
    list Spark runs an extra distinct-collect job AND the output schema
    becomes data-dependent — both wrong for a production view. Plans as
    one partial+final hash agg (pivot compiles to conditional
    aggregates; no extra shuffle vs a plain groupBy).
    """
    statuses = ["F", "O", "P"]
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", statuses)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("price"),
        )
    )
    return piv.select(
        "o_orderpriority",
        *[F.col(f"{s}_n").alias(f"n_{s.lower()}") for s in statuses],
        *[F.col(f"{s}_price").alias(f"price_{s.lower()}") for s in statuses],
    )


def top_keys_per_group(orders: DataFrame, k: int = 5) -> DataFrame:
    """Sorted array aggregation: the k highest-price order keys per
    priority, aggregated via window prune -> sort_array(collect_list) —
    collect_list order is nondeterministic across partitions, so the
    deterministic contract MUST come from sort_array, never from
    assuming arrival order. Serialized to a comma-joined string for
    engine-portable comparison (array cells hash differently across
    engines)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .groupBy("o_orderpriority")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("o_orderkey")).cast("array<string>"),
                ",",
            ).alias("top_keys")
        )
    )


def grouping_sets_counts(orders: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS ((status), (priority), ()) — the general
    form that rollup/cube specialize. One Expand + one hash aggregate;
    the shuffle carries (sets x groups) partials, still tiny."""
    return orders.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def approx_distinct_counts(orders: DataFrame, rsd: float = 0.02) -> DataFrame:
    """HyperLogLog++ distinct customers per priority — the
    high-cardinality path where exact countDistinct's expand would
    explode: constant memory per group, one shuffle, mergeable sketches.
    `rsd` is the target relative standard deviation."""
    return orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd).alias("approx_customers"),
        F.count("*").alias("n_orders"),
    )


def stats_profile(orders: DataFrame) -> DataFrame:
    """Distinct customers plus statistical aggregates per priority, in
    one aggregate over the same group key — one shuffle produces the
    distinct count, the multi-measure stats (sample stddev), and the
    exact interpolated percentiles (median/p90) together.

    ``percentile`` is the exact sort-based aggregate (matches ANSI
    ``quantile_cont``); at extreme group sizes switch to
    ``approx_percentile`` and accept sketch error — kept exact here
    because the oracle is exact."""
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
        F.round(F.stddev_samp("o_totalprice"), 6).alias("sd_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 6).alias("p90_price"),
    )


def correlation_profile(lineitem: DataFrame) -> DataFrame:
    """Per-returnflag quantity/price correlation + sample covariance —
    the two-pass-free streaming formulas (single partial+final agg)."""
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias("qty_price_covar"),
        F.count("*").alias("n_items"),
    )


def forecast_revenue(
    lineitem: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
    disc_lo: float = 0.05,
    disc_hi: float = 0.07,
    max_qty: float = 24.0,
) -> DataFrame:
    """TPC-H Q6 shape: revenue increase from discount-band lineitems.

    Every predicate is a plain column comparison, so all four push into
    the parquet scan (row-group pruning on l_shipdate at rest); the agg
    itself is a single global partial+final sum — the shuffle carries one
    row per partition.
    """
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
            & (F.col("l_discount") >= disc_lo)
            & (F.col("l_discount") <= disc_hi)
            & (F.col("l_quantity") < max_qty)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


def large_orders(
    orders: DataFrame, lineitem: DataFrame, min_qty: float = 200.0, k: int = 20
) -> DataFrame:
    """TPC-H Q18 shape: top-k orders whose total quantity exceeds a
    threshold (GROUP BY + HAVING + join back to the order header).

    The heavy aggregate (sum quantity per orderkey) runs FIRST and its
    HAVING filter drops ~all groups before the join — so the join input
    is tiny and broadcastable, not the full lineitem table.
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > min_qty)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey"))
        .limit(k)
    )


def top_k(df: DataFrame, order_cols: list, k: int) -> DataFrame:
    """Global top-k via orderBy+limit. Spark plans this as TakeOrdered —
    each partition keeps k rows, the driver merges k*partitions rows; no
    full sort, no full shuffle. Include a unique tiebreaker column in
    ``order_cols`` for deterministic results."""
    return df.orderBy(*order_cols).limit(k)
