"""Vectorised per-pair CCM fast path (SURVEY.md §7.1 step 6).

``ccm_apply_in_pandas`` shuffles the series once by ``pair_id`` and runs the
entire bootstrap sweep for each pair as vectorised numpy inside one task
(the :mod:`ccm_spark.oracle` kernel — the same code the unit tests trust).
Identical results to the pure-DataFrame plan (same seeded LCG sampling),
but the kNN inner loop becomes BLAS-backed matrix arithmetic instead of a
shuffle join, which wins by a wide margin when each series is small
(thousands of points) and pairs are many — the expected 100 TB regime is
millions of pairs scaling linearly across executors with ONE shuffle total.

Per direction the kernel builds the P x P distance matrix and each point's
neighbour order (its row of the matrix stable-argsorted) once, then runs
every lib size from them: a query's k nearest library points are the first
k library members met walking its order, within the first
ceil(2kP/L) + 16 positions. Queries the walk cannot settle there, and lib
sizes where that depth reaches L, take the full gather + stable argsort
over the L library distances. Both give the per-sample kernel's neighbours
bit for bit (see :func:`ccm_spark.oracle.cross_map_lib_batch`).

The pure-DataFrame plan (plans/cross_map.py) remains the default: it is
the oracle-matching reference path and the right choice when a single
series is too large for one task.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ccm_spark.config import CCMConfig
from ccm_spark import oracle

RESULT_SCHEMA = (
    "pair_id long, direction string, lib_size int, correlation double, "
    "slope double, convergent boolean"
)
RESULT_COLUMNS = [
    "pair_id", "direction", "lib_size", "correlation", "slope", "convergent"
]


def _pair_result(pair_id: int, pdf: pd.DataFrame, config: CCMConfig) -> pd.DataFrame:
    """One pair's (t, x, y) rows, in any order -> its RESULT_SCHEMA rows,
    both directions."""
    pdf = pdf.sort_values("t")
    x = pdf["x"].to_numpy(dtype=np.float64)
    y = pdf["y"].to_numpy(dtype=np.float64)
    rows = []
    for direction, _ in oracle.DIRECTIONS:
        res = oracle.cross_map(x, y, config, direction)
        slope, convergent = float(res["slope"]), bool(res["convergent"])
        rows.extend(
            (pair_id, direction, int(lib_size), float(corr), slope, convergent)
            for lib_size, corr in res["results"]
        )
    return pd.DataFrame(rows, columns=RESULT_COLUMNS)


def ccm_apply_in_pandas(series: DataFrame, config: CCMConfig) -> DataFrame:
    """(pair_id, t, x, y) -> (pair_id, direction, lib_size, correlation,
    slope, convergent). One shuffle: each core's task runs the sweeps of
    one balanced range of pairs (see
    :func:`ccm_spark.functions.partitioning.apply_per_key`)."""

    def run_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        return _pair_result(int(pdf["pair_id"].iloc[0]), pdf, config)

    # One partition per core, not per pair: a Python task costs ~0.2 s to
    # start, more than one pair's sweep, so finer tasks only add launches.
    from ccm_spark.functions.partitioning import apply_per_key

    return apply_per_key(series, "pair_id", run_pair, RESULT_SCHEMA)


def ccm_fast_iterated(
    series: DataFrame, config: CCMConfig, check_clustering: bool = True
) -> DataFrame:
    """mapInPandas variant for pre-partitioned input (series already
    clustered by pair_id within partitions — e.g. bucketed parquet): avoids
    even the groupBy shuffle.

    If a pair's rows span partition boundaries, each partition computes that
    pair from its partial series — silently wrong. ``check_clustering``
    (default on) guards the precondition with two invariants over the tiny
    RESULT relation: (a) no duplicate (pair_id, direction, lib_size) rows
    (fragments with the SAME resolved ladder collide), and (b) one distinct
    (slope, convergent) per (pair_id, direction) — an intact pair computes
    exactly one convergence verdict per direction, while fragments of
    different lengths resolve DIFFERENT auto-ladders (disjoint lib_size
    sets, so (a) alone would miss them) and almost surely different slopes.
    A false negative now needs fragments with disjoint ladders AND
    bit-equal slopes — not a plausible accident. The windows shuffle only
    the few result rows per pair; disable only for maximum-throughput runs
    on layouts already proven clustered (e.g. just written by
    sinks.write_series_bucketed)."""

    def run_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: dict[int, list[pd.DataFrame]] = {}
        for pdf in batches:
            for pid, grp in pdf.groupby("pair_id"):
                buf.setdefault(int(pid), []).append(grp)
        for pid, parts in buf.items():
            yield _pair_result(pid, pd.concat(parts), config)

    out = series.mapInPandas(run_partition, schema=RESULT_SCHEMA)
    if check_clustering:
        msg = F.lit(
            "ccm_fast_iterated: inconsistent per-pair results — input rows "
            "span partition boundaries; cluster by pair_id first "
            "(sinks.write_series_bucketed) or use ccm_apply_in_pandas"
        )
        w_row = Window.partitionBy("pair_id", "direction", "lib_size")
        w_dir = Window.partitionBy("pair_id", "direction")
        out = (
            out.withColumn("_n_dup", F.count("*").over(w_row))
            .withColumn(
                "_slope_spread",
                F.max("slope").over(w_dir) - F.min("slope").over(w_dir),
            )
            .withColumn(
                "_conv_mixed",
                F.max(F.col("convergent").cast("int")).over(w_dir)
                != F.min(F.col("convergent").cast("int")).over(w_dir),
            )
            .where(
                F.assert_true(
                    (F.col("_n_dup") == 1)
                    & (F.col("_slope_spread") == 0.0)
                    & ~F.col("_conv_mixed"),
                    msg,
                ).isNull()
            )
            .drop("_n_dup", "_slope_spread", "_conv_mixed")
        )
    return out
