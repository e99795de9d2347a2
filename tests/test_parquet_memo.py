"""sources/parquet.py plan memo — the immutability guard (VERDICT r17
#6): a memo hit must be served only while the path's file set is
byte-for-byte what it was at memo time; an overwritten path re-reads
instead of silently serving the stale pinned listing."""

from __future__ import annotations

from .conftest import SF_SMOKE


def test_memo_serves_same_plan_for_immutable_path(spark):
    from hubsit_health_analytics_etl_spark.sources.parquet import (
        read_parquet_immutable,
    )

    p = f"{SF_SMOKE}/nation.parquet"
    a = read_parquet_immutable(spark, p)
    b = read_parquet_immutable(spark, p)
    # memo hit: the identical DataFrame (plan) object, no re-inference
    assert a is b
    assert a.count() == b.count()


def test_overwritten_path_is_not_served_stale(spark, tmp_path):
    from hubsit_health_analytics_etl_spark.sources.parquet import (
        read_parquet_immutable,
    )

    path = str(tmp_path / "mutating")
    spark.range(0, 5).write.mode("overwrite").parquet(path)
    first = read_parquet_immutable(spark, path)
    assert first.count() == 5

    # violate the write-once contract: overwrite with different rows
    spark.range(0, 9).write.mode("overwrite").parquet(path)
    again = read_parquet_immutable(spark, path)
    # the guard must re-read — fresh rows, not the stale 5-row listing
    assert again.count() == 9
    # and the refreshed entry keeps serving consistently
    assert read_parquet_immutable(spark, path) is again


def test_memo_cap_evicts_foreign_sessions_first(spark):
    from hubsit_health_analytics_etl_spark.sources import parquet as pq

    app = spark.sparkContext.applicationId
    live_key = (app, f"{SF_SMOKE}/region.parquet")
    live = pq.read_parquet_immutable(spark, f"{SF_SMOKE}/region.parquet")
    try:
        # flood the memo with fake entries from a "stopped" session
        for i in range(pq._PLAN_MEMO_CAP + 1):
            pq._PLAN_MEMO[("dead-app", f"/nope/{i}")] = (None, None)
        again = pq.read_parquet_immutable(spark, f"{SF_SMOKE}/customer.parquet")
        assert again is not None
        # dead session evicted wholesale; the live entry survived
        assert not any(k[0] == "dead-app" for k in pq._PLAN_MEMO)
        assert pq._PLAN_MEMO[live_key][0] is live
    finally:
        for k in [k for k in pq._PLAN_MEMO if k[0] == "dead-app"]:
            del pq._PLAN_MEMO[k]


def test_memo_is_safe_under_concurrent_reads(spark):
    """Threads reading distinct tables while the memo is over its cap
    sweep it on every call, while another session keeps inserting. The
    lock must keep each lookup, eviction and insert whole: no
    'dictionary changed size during iteration', no double delete."""
    import sys
    import threading

    from hubsit_health_analytics_etl_spark.sources import parquet as pq
    from hubsit_health_analytics_etl_spark.sources.parquet import TABLES

    errors: list[Exception] = []
    done = threading.Event()
    for i in range(pq._PLAN_MEMO_CAP + 1):
        pq._PLAN_MEMO[("dead-app", f"/nope/{i}")] = (None, None)

    def other_session() -> None:
        # a second session's reads, inserting as fast as it can
        i = 0
        while not done.is_set():
            with pq._PLAN_MEMO_LOCK:
                for _ in range(64):
                    pq._PLAN_MEMO[("other-app", f"/other/{i}")] = (None, None)
                    i += 1

    def read(name: str) -> None:
        try:
            for _ in range(20):
                assert pq.read_parquet_immutable(spark, f"{SF_SMOKE}/{name}.parquet")
        except Exception as e:  # asserted after the join
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # hand the GIL over mid-sweep
    filler = threading.Thread(target=other_session)
    readers = [threading.Thread(target=read, args=(t,)) for t in TABLES]
    try:
        filler.start()
        for t in readers:
            t.start()
        for t in readers:
            t.join(timeout=120)
    finally:
        done.set()
        filler.join(timeout=10)
        sys.setswitchinterval(switch)
        with pq._PLAN_MEMO_LOCK:
            for k in [k for k in pq._PLAN_MEMO if k[0] in ("dead-app", "other-app")]:
                del pq._PLAN_MEMO[k]
    assert not any(t.is_alive() for t in [filler, *readers])
    assert not errors, errors[:3]
