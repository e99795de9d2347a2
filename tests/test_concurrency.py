"""operators/concurrency.py: wave threads inherit the caller's session
tags, also when a wave is started from inside another wave's thread."""

from __future__ import annotations

import warnings


def test_nested_run_concurrent_inherits_session_tags(spark):
    from hubsit_health_analytics_etl_spark.operators.concurrency import (
        run_concurrent,
    )

    def inner() -> set[str]:
        return set(spark.getTags())

    def outer() -> list[set[str]]:
        return run_concurrent(inner, inner)

    spark.addTag("nested-wave")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            got = run_concurrent(outer, outer)
    finally:
        spark.removeTag("nested-wave")
    assert all("nested-wave" in tags for branch in got for tags in branch), got
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]
