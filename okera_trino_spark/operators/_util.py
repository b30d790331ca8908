"""Shared helpers for query implementations."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from okera_trino_spark.sources.catalog import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a fixture table. Plain parquet scan; Catalyst owns pushdown."""
    return load_table(spark, sf_dir, name)


def r4(col: Column | str) -> Column:
    """Round a double aggregate to 4 decimals.

    Parallel floating-point aggregation is order-dependent in the last
    bits; both Spark and the DuckDB oracle round identically so the
    driver's value hash is stable. 4 decimals leaves ~10 guard digits at
    fixture magnitudes (sums ≤ 1e9).
    """
    return F.round(col if isinstance(col, Column) else F.col(col), 4)


def spread_if_narrow(df: DataFrame, spark: SparkSession,
                     factor: int = 2) -> DataFrame:
    """Round-robin repartition ``df`` ONLY when its scan yields fewer
    partitions than the cluster can use — the balancing move for
    compute-amplified map stages (e.g. winnowing's ~40 hashes per input
    byte), where Spark's byte-based split sizing under-parallelizes
    small or few-file inputs.

    The condition is the point: on a production layout (100 TB = ~10^5
    splits >> cores) this is a NO-OP — no shuffle is ever added to a
    well-partitioned input, because shuffling raw bytes purely to
    rebalance a map stage costs more than it saves once every core
    already has work. The narrow case (one small file, local fixtures,
    a coalesced upstream) is exactly where the shuffle is cheap (few
    bytes) and the win is large (idle cores).

    CONTRACT: call this on SCAN-stage DataFrames only (all current call
    sites). The ``df.rdd`` probe is free for a scan (partition count
    comes from file splits), but under AQE a plan that already contains
    exchanges would MATERIALIZE its upstream query stages here — an
    eager job at DataFrame-construction time. KNOWN LIMIT: the check is
    partition COUNT only; a layout that is many-split but byte-skewed
    (one unsplittable 10 GB gzip among small files) passes the check
    and keeps its skew — that case needs splittable codecs or a lower
    ``spark.sql.files.maxPartitionBytes`` at the scan, which no
    per-operator rebalance can substitute for.
    """
    target = spark.sparkContext.defaultParallelism * factor
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
