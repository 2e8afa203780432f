"""The one spread policy: how wide a CPU-dense stage runs.

At the test SFs every input table is ONE parquet file with ONE row group,
so a scan yields ONE task — and Spark fuses CPU-dense row-local work
(per-token md5 folds, shingle digests, vector expansions, grouped-map
kernels) into that scan stage, serializing seconds of compute on one core
while the rest idle. AQE's byte-based coalescing would likewise shrink a
small post-shuffle stage to one or two tasks.

``spread`` pins a stage at ``defaultParallelism`` partitions:

* a repartition with an explicit count is exempt from AQE coalescing —
  the count is honored verbatim at every scale;
* it is therefore an extra exchange at every scale, never a no-op;
* with keys it hash-partitions, so a retried task reproduces the same
  row-to-partition assignment (SPARK-38388); with no keys it is
  round-robin.

``spread_scan`` and ``is_tiny`` are the guarded form: spread only when
the input has fewer partitions than ``defaultParallelism``. At real scale
the scan already has ≥ that many splits and the input comes back
UNCHANGED — no exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def spread(df: DataFrame, *keys: str | Column) -> DataFrame:
    """``df.repartition(defaultParallelism, *keys)``."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


def is_tiny(df: DataFrame) -> bool:
    """True when ``df`` has fewer partitions than ``defaultParallelism``."""
    return df.rdd.getNumPartitions() < df.sparkSession.sparkContext.defaultParallelism


def spread_scan(df: DataFrame, key: str) -> DataFrame:
    """``spread(df, key)`` if ``df`` is tiny, else ``df`` unchanged."""
    return spread(df, key) if is_tiny(df) else df
