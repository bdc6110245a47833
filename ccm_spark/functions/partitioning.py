"""Partition-spreading helper for compute-bound narrow stages.

Small-by-bytes inputs (a single parquet file, a 5000-row corpus) arrive in
one partition, and AQE's partition coalescing will fold a plain
``repartition(col)`` right back to one partition because the byte size is
tiny — but the downstream work (interpreted higher-order functions, md5
per token, Python UDFs) is CPU-bound per ROW, not per byte. An explicit
partition count is exempt from AQE coalescing, which keeps such stages
spread across all cores. On a real cluster with many input splits this is
a near-no-op (hash exchange at the task count the session already targets).

Per-key Python kernels (a whole CCM sweep per pair in ``applyInPandas``) go
through :func:`apply_per_key` instead: one range partition per core, so each
call starts one Python task per core rather than one per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, *cols: str, factor: int = 1) -> DataFrame:
    """Hash-repartition on ``cols`` with an explicit partition count so AQE
    cannot coalesce the exchange away.

    ``factor`` multiplies the partition count past the core count, for
    row-level stages whose per-row cost is lumpy (the kNN-graph cosine
    scoring). Row-heavy evenly-costed stages should keep the default: the
    law of large row counts already balances them."""
    n = df.sparkSession.sparkContext.defaultParallelism * factor
    return df.repartition(n, *cols)


def apply_per_key(df: DataFrame, key: str, fn, schema) -> DataFrame:
    """``df.groupBy(key).applyInPandas(fn, schema)`` over one range
    partition per core.

    Each Python task costs about 0.2 s to start before it runs any code
    (local[4], Spark 4.1.2), against ~0.08 s for one pair's CCM sweep, so
    the partitions are as few as the cores and as even as the keys allow:
    range partitioning balances them by sampled row count, whatever the
    keys hash to. The explicit count is exempt from AQE coalescing, and
    ``RangePartitioning(key)`` meets the groupBy's distribution
    requirement, so the plan keeps exactly one exchange.

    The range bounds come from a sampling job that runs the input's lineage
    back to its last shuffle or cache once more before the exchange. That
    is free for a scan or a cached frame. For a Python or join upstream it
    is one more pass (local[4]: 0.66 s for ``generate_grid_df`` of 64x300,
    1.3 s for ``network.pair_series`` of 45 pairs), and both callers still
    ran faster than with 8 hash partitions per core. An input whose one
    pass costs more than the launches saved (~7 per core at ~0.2 s each)
    should be cached first."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(n, key).groupBy(key).applyInPandas(fn, schema=schema)
