"""Physical-plan introspection and scale-property assertions."""

from real_estate_bigdata_spark.plans.audit import (  # noqa: F401
    HOTSPOT_HUGE_METHOD_BYTES,
    PlanStats,
    assert_plan,
    executed_plan_str,
    max_method_bytes,
    plan_stats,
)
