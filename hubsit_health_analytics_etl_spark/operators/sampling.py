"""Deterministic sampling / splitting for training-data pipelines.

``rand()``-based sampling changes row membership on every retry,
repartition, or speculative re-execution — poison for reproducible
training sets. Hash-based sampling decides membership from the ROW'S
OWN KEY (md5 → bucket in [0,100)), so it is stable across runs,
engines (same md5 trick as dedup.py — the DuckDB oracle reproduces it
exactly), partitions, and scales: a pure map-side filter, pushdown-
friendly, no shuffle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def hash_bucket(col: str, n_buckets: int = 100, salt: str = "") -> Column:
    """Stable bucket in [0, n_buckets) from md5 of the key (+salt);
    ``col`` is a column NAME (the expression is built as SQL text so it
    stays byte-identical to the DuckDB twin). Engine-portable:
    Spark conv(substr(md5,1,8),16,10) == DuckDB
    CAST('0x'||substr(md5,1,8) AS BIGINT)."""
    return F.expr(
        f"cast(conv(substr(md5(concat('{salt}', cast({col} as string))), 1, 8), 16, 10) "
        f"as bigint) % {n_buckets}"
    )


def sql_hash_bucket(col: str, n_buckets: int = 100, salt: str = "") -> str:
    """DuckDB twin of hash_bucket."""
    return (
        f"(CAST('0x' || substr(md5('{salt}' || CAST({col} AS VARCHAR)), 1, 8) AS BIGINT)"
        f" % {n_buckets})"
    )


def hash_sample(df: DataFrame, key: str, pct: int, salt: str = "") -> DataFrame:
    """Keep rows whose hash bucket < pct (a stable pct% sample)."""
    return df.filter(hash_bucket(key, 100, salt) < pct)


def train_test_split(
    df: DataFrame, key: str, test_pct: int = 10, salt: str = ""
) -> tuple[DataFrame, DataFrame]:
    """Disjoint, exhaustive, reproducible split on the key hash —
    membership never changes when the pipeline reruns or the data
    is re-partitioned."""
    b = hash_bucket(key, 100, salt)
    return df.filter(b >= test_pct), df.filter(b < test_pct)


def hash_frac(col: str, salt: str = "") -> Column:
    """Stable fraction in [0, 1) from md5 of the key (+salt) — the
    continuous version of hash_bucket, for per-stratum keep rates that
    aren't integer percents. Engine-portable like hash_bucket."""
    return F.expr(
        f"cast(conv(substr(md5(concat('{salt}', cast({col} as string))), 1, 8), 16, 10) "
        f"as double) / 4294967296.0"
    )


def sql_hash_frac(col: str, salt: str = "") -> str:
    """DuckDB twin of hash_frac."""
    return (
        f"(CAST('0x' || substr(md5('{salt}' || CAST({col} AS VARCHAR)), 1, 8) AS BIGINT)"
        f" / 4294967296.0)"
    )


def temperature_sample(
    df: DataFrame,
    strata_col: str,
    key: str,
    alpha: float = 0.5,
    budget: int = 300,
    salt: str = "",
) -> DataFrame:
    """Temperature-balanced corpus sampling (multilingual rebalancing à
    la mC4/XLM: per-stratum target ∝ N_s^alpha, so alpha < 1 upsamples
    low-resource strata relative to their natural share).

    Per stratum s: target t_s = min(N_s, floor(budget · share_s)) with
    share_s = round(w_s / Σ w, 6) and w_s = round(N_s^alpha, 9); a row
    is kept iff the stable hash fraction of its key < t_s / N_s. The
    weights are rounded to 9dp BEFORE summing so Spark and an oracle
    engine consume identical literals — a last-ulp pow()/unordered-sum
    divergence straddling the 6dp share boundary would otherwise flip
    floor(budget·share) by 1 and change sample membership; the 6dp
    share rounding then pins the float boundary before the floor.

    Scale shape: counts are a tiny aggregate (|strata| rows), the share
    normalization is a window over THAT tiny frame, and the keep
    decision joins the rates back (broadcast-size) as a pure map-side
    filter — no per-stratum global sort or rank, so a skewed stratum
    (one language = 80 % of a 100 TB corpus) costs nothing extra. The
    budget is hit in expectation (binomial around t_s); membership is
    exactly deterministic and replay-stable.

    Returns the kept rows of ``df`` plus ``rate`` (the stratum's keep
    probability, 6dp).
    """
    from pyspark.sql import Window

    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n_s"))
    w_all = Window.partitionBy()
    rates = (
        counts.withColumn("_w_s", F.round(F.pow("_n_s", F.lit(float(alpha))), 9))
        .withColumn("_share", F.round(F.col("_w_s") / F.sum("_w_s").over(w_all), 6))
        .withColumn(
            "_t_s",
            F.least(F.col("_n_s"), F.floor(F.lit(int(budget)) * F.col("_share"))),
        )
        .select(
            strata_col,
            F.round(F.col("_t_s") / F.col("_n_s"), 6).alias("rate"),
            (F.col("_t_s") / F.col("_n_s")).alias("_thresh"),
        )
    )
    out = df.join(F.broadcast(rates), strata_col).filter(
        hash_frac(key, salt) < F.col("_thresh")
    )
    return out.select(*df.columns, "rate")
