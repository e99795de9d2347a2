"""sources/parquet.py reader: the schema comes from one Parquet footer
read on the driver, so a read launches no Spark job, yet it must equal
the schema Spark's own inference would produce, for the pandas-written
fixtures and for Spark-written directories alike."""

from __future__ import annotations

import uuid

from .conftest import SF_SMOKE


def _jobs_in_group(spark, fn) -> int:
    """Spark jobs that ``fn()`` launches on this thread, counted by job
    group."""
    sc = spark.sparkContext
    group = f"parquet-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_footer_schema_equals_inferred_for_every_fixture(spark):
    from hubsit_health_analytics_etl_spark.session import apply_runtime_confs
    from hubsit_health_analytics_etl_spark.sources.parquet import (
        TABLES,
        read_parquet,
    )

    apply_runtime_confs(spark)
    for name in TABLES:
        p = f"{SF_SMOKE}/{name}.parquet"
        assert read_parquet(spark, p).schema == spark.read.parquet(p).schema, name
    ts = read_parquet(spark, f"{SF_SMOKE}/events.parquet").schema["ts"]
    assert ts.dataType.simpleString() == "timestamp_ntz"


def test_spark_written_directory_keeps_its_exact_schema(spark, tmp_path):
    import datetime
    import decimal

    from pyspark.ml.linalg import Vectors
    from pyspark.sql import Row

    from hubsit_health_analytics_etl_spark.sources.parquet import read_parquet

    path = str(tmp_path / "nested")
    df = spark.sql(
        "SELECT id, array(id, id + 1) AS arr, map('k', id) AS m,"
        " named_struct('a', id, 'b', array(named_struct('c', cast(id AS string)))) AS st,"
        " cast(id AS decimal(18, 4)) AS dec,"
        " timestamp'2024-01-02 03:04:05' AS ts,"
        " timestamp_ntz'2024-01-02 03:04:05' AS ts_ntz"
        " FROM range(3)"
    )
    vec = spark.createDataFrame(
        [Row(id=i, v=Vectors.dense([float(i), 1.0])) for i in range(3)]
    )
    df.join(vec, "id").repartition(2).write.mode("overwrite").parquet(path)

    inferred = spark.read.parquet(path)
    got = read_parquet(spark, path)
    assert got.schema == inferred.schema
    assert sorted(got.collect()) == sorted(inferred.collect())
    row = got.filter("id = 2").first()
    assert row.dec == decimal.Decimal("2.0000")
    assert row.ts_ntz == datetime.datetime(2024, 1, 2, 3, 4, 5)
    assert row.v == Vectors.dense([2.0, 1.0])


def test_load_table_launches_no_spark_job(spark):
    from hubsit_health_analytics_etl_spark.sources.parquet import TABLES, load_table

    assert _jobs_in_group(
        spark, lambda: [load_table(spark, SF_SMOKE, t) for t in TABLES]
    ) == 0
    # the counter is live: schema inference on the same file does launch one
    assert _jobs_in_group(
        spark, lambda: spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    ) >= 1


def test_overwritten_path_is_not_served_stale(spark, tmp_path):
    from hubsit_health_analytics_etl_spark.sources.parquet import read_parquet

    path = str(tmp_path / "mutating")
    spark.range(0, 5).write.mode("overwrite").parquet(path)
    first = read_parquet(spark, path)
    assert first.count() == 5

    # overwrite with different rows: the next read sees them
    spark.range(0, 9).write.mode("overwrite").parquet(path)
    again = read_parquet(spark, path)
    assert again.count() == 9
