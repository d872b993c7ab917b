"""Physical-plan audit utilities: make scale properties testable.

The engine's scale guarantees — filters reach the parquet scan,
dimensions broadcast, fact joins shuffle once, expressions stay inside
whole-stage codegen — are properties of the *physical plan*, not the
results. These helpers turn `.explain()` output into assertions so the
properties are locked by tests instead of re-checked by hand after
every change (SURVEY §4: the reference hand-performs these
optimizations; here Catalyst does them and the tests prove it).

Parsing the plan string is deliberate: it is the same stable surface
`.explain()` prints, and it works across Spark versions without
touching private planner APIs beyond `queryExecution().executedPlan()`.
:func:`max_method_bytes` is the one exception: generated-code sizes exist
only in `queryExecution().debug().codegenToSeq()`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

__all__ = [
    "PlanStats",
    "executed_plan_str",
    "plan_stats",
    "assert_plan",
    "max_method_bytes",
]

#: HotSpot does not JIT-compile a method with more bytecode than this
#: (``DontCompileHugeMethods``, on by default). It is a JVM limit, not a
#: Spark setting: Spark's ``spark.sql.codegen.hugeMethodLimit`` is 65535.
HOTSPOT_HUGE_METHOD_BYTES = 8000


def executed_plan_str(df: DataFrame) -> str:
    """The physical (executed) plan as a string, pre-AQE re-optimization."""
    return df._jdf.queryExecution().executedPlan().toString()


@dataclass(frozen=True)
class PlanStats:
    """Counts of the plan features that matter at 100 TB."""

    shuffles: int          # Exchange hash/range partitioning + SinglePartition
    broadcast_joins: int   # BroadcastHashJoin + BroadcastNestedLoopJoin
    sortmerge_joins: int   # SortMergeJoin
    scans: int             # FileScan parquet
    scans_with_pushdown: int  # scans with a non-empty PushedFilters list
    codegen_spans: int     # whole-stage codegen stages, marked *(N)
    python_stages: int     # ArrowEvalPython / FlatMapGroupsInPandas etc.

    def __str__(self) -> str:  # readable assertion failures
        return (
            f"shuffles={self.shuffles} broadcast_joins={self.broadcast_joins} "
            f"sortmerge_joins={self.sortmerge_joins} scans={self.scans} "
            f"scans_with_pushdown={self.scans_with_pushdown} "
            f"codegen_spans={self.codegen_spans} python_stages={self.python_stages}"
        )


def plan_stats(df: DataFrame) -> PlanStats:
    plan = executed_plan_str(df)
    return PlanStats(
        shuffles=len(
            re.findall(r"Exchange (?:hash|range)partitioning|Exchange SinglePartition", plan)
        ),
        broadcast_joins=len(re.findall(r"Broadcast(?:Hash|NestedLoop)Join", plan)),
        sortmerge_joins=plan.count("SortMergeJoin"),
        scans=plan.count("FileScan parquet"),
        scans_with_pushdown=len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        codegen_spans=len(set(re.findall(r"(?:^|- )\*\((\d+)\) ", plan, re.M))),
        python_stages=len(
            re.findall(r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas", plan)
        ),
    )


def max_method_bytes(df: DataFrame) -> int:
    """Bytecode size of the largest method Spark generates for ``df``'s
    whole-stage codegen stages (0 when nothing is code-generated).

    Compiles each stage's code (``codegenToSeq``) and reads its
    ``ByteCodeStats``; a method over :data:`HOTSPOT_HUGE_METHOD_BYTES`
    runs in the JVM interpreter for every row it processes."""
    stages = df._jdf.queryExecution().debug().codegenToSeq()
    return max(
        (stages.apply(i)._3().maxMethodCodeSize() for i in range(stages.size())),
        default=0,
    )


def assert_plan(
    df: DataFrame,
    max_shuffles: int | None = None,
    min_broadcast_joins: int | None = None,
    max_sortmerge_joins: int | None = None,
    min_scans_with_pushdown: int | None = None,
    forbid_python: bool = False,
) -> PlanStats:
    """Assert scale properties of a DataFrame's physical plan; returns
    the stats so callers can add bespoke checks. Raises AssertionError
    with the full plan on violation."""
    stats = plan_stats(df)

    def _fail(msg: str) -> None:
        raise AssertionError(f"{msg}; {stats}\n{executed_plan_str(df)}")

    if max_shuffles is not None and stats.shuffles > max_shuffles:
        _fail(f"plan has {stats.shuffles} shuffles, budget {max_shuffles}")
    if min_broadcast_joins is not None and stats.broadcast_joins < min_broadcast_joins:
        _fail(
            f"plan has {stats.broadcast_joins} broadcast joins,"
            f" expected >= {min_broadcast_joins}"
        )
    if max_sortmerge_joins is not None and stats.sortmerge_joins > max_sortmerge_joins:
        _fail(
            f"plan has {stats.sortmerge_joins} sort-merge joins,"
            f" budget {max_sortmerge_joins}"
        )
    if (
        min_scans_with_pushdown is not None
        and stats.scans_with_pushdown < min_scans_with_pushdown
    ):
        _fail(
            f"only {stats.scans_with_pushdown} scans have pushed filters,"
            f" expected >= {min_scans_with_pushdown}"
        )
    if forbid_python and stats.python_stages:
        _fail(f"plan crosses into Python {stats.python_stages} time(s)")
    return stats
