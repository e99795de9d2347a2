"""Parquet fixture loaders (TESTDATA.md tables).

Parquet is the engine's native storage (column pruning + predicate
pushdown + partition pruning for free); CSV only at the ingest/export
edges (see csv_tolerant.py / sinks.py), mirroring but upgrading the
reference's CSV-everywhere model (/root/reference/src/etl_pipeline.py:85-161).

Every read is stateless and schema-known: ``read_parquet`` takes the
schema from one Parquet footer, read on the driver with pyarrow, and
hands it to ``spark.read.schema(...)``, so no schema-inference job runs.
Spark-written files (the standing indexes) carry Spark's own schema JSON
in that footer; the pandas-written fixtures carry only the Arrow schema.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from ..session import apply_runtime_confs

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Spark stores its own schema JSON in the footer of every file it writes;
# it round-trips what the Arrow mapping cannot (timestamp_ntz, UDTs,
# nested nullability).
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from one footer,
    read on the driver with pyarrow, so no schema-inference job runs. The
    footer is the file itself, or for a directory its first non-hidden
    ``*.parquet`` file in sorted order. Spark-written files give Spark's
    schema JSON; other files give the Arrow schema, mapped with
    ``timestamp_ntz`` for tz-naive timestamps, as inference maps it."""
    footer = path
    if os.path.isdir(path):
        footer = os.path.join(
            path,
            min(
                n
                for n in os.listdir(path)
                if n.endswith(".parquet") and not n.startswith((".", "_"))
            ),
        )
    arrow = pq.read_schema(footer)
    spark_json = (arrow.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        schema = StructType.fromJson(json.loads(spark_json))
    else:
        schema = from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table; normalizes events.ts to timestamp_ntz
    truncated to microseconds exactly like DuckDB's ns→us cast.

    events.parquet stores TIMESTAMP(NANOS). Spark ≤4.0 under
    ``nanosAsLong`` surfaces it as ``bigint`` ns (converted here);
    Spark 4.1+ ignores that conf and reads ``timestamp_ntz`` natively
    (already µs-truncated), so the guard is a no-op there — both paths
    yield identical values."""
    apply_runtime_confs(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
