from proglog_spark.plans.audit import (
    assert_no_shuffle,
    count_shuffles,
    executed_plan,
    optimized_plan,
    pushed_filters,
    read_schema,
)

__all__ = [
    "assert_no_shuffle",
    "count_shuffles",
    "executed_plan",
    "optimized_plan",
    "pushed_filters",
    "read_schema",
]
