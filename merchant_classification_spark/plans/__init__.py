from merchant_classification_spark.plans.explain import (
    assert_no_python_eval,
    count_exchanges,
    has_broadcast_join,
    pushed_filters,
)

__all__ = [
    "assert_no_python_eval",
    "count_exchanges",
    "has_broadcast_join",
    "pushed_filters",
]
