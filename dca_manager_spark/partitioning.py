"""Partition-width helpers shared by the CPU-heavy operators.

The guide's §2.5 "input skew" case in its smallest form: a corpus read
from FEW parquet files plans few scan partitions, and every narrow
projection above the scan inherits that width — so an expensive
per-row stage (shingle explode, quantized-cosine folds, codec
encode/decode in Python) runs on a handful of cores no matter how wide
the cluster is. At real scale the scan is already wider than the
cluster and :func:`spread` is a no-op; when the input is narrower, one
round-robin exchange of the RAW rows is strictly cheaper than
serializing the heavy stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure at least ``min_partitions`` (default: the session's
    defaultParallelism) partitions before a CPU-heavy per-row stage.

    No-op when the frame is already at least that wide (the 100 TB
    case), so callers can apply it unconditionally at operator entry.
    The repartition is round-robin: it balances rows regardless of how
    skewed the file layout is, and Spark's sort-before-repartition
    keeps the row-to-partition assignment deterministic under task
    retry (SPARK-23207), so downstream results are stable.
    """
    sc = df.sparkSession.sparkContext
    want = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df

