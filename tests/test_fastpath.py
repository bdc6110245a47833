"""The applyInPandas fast path must agree with the pure-DataFrame plan —
same seeded sampling spec, so equal to aggregation-order noise (~1e-12)."""

from __future__ import annotations

import pytest

from ccm_spark.config import CCMConfig
from ccm_spark.fastpath import ccm_apply_in_pandas, ccm_fast_iterated
from ccm_spark.generators import coupled_series, pairs_to_pdf
from ccm_spark.plans.cross_map import ccm_plan


@pytest.fixture(scope="module")
def two_pairs(spark):
    pairs = []
    for pid, coupling in [(0, 0.4), (1, 0.0)]:
        x, y = coupled_series(length=70, coupling=coupling, noise_level=0.03, seed=50 + pid)
        pairs.append((pid, x, y))
    return spark.createDataFrame(pairs_to_pdf(pairs))


def _collect(df):
    return {
        (r.pair_id, r.direction, r.lib_size): (r.correlation, r.convergent)
        for r in df.collect()
    }


def test_fastpath_matches_dataframe_plan(spark, two_pairs):
    cfg = CCMConfig(num_samples=4, lib_sizes=[20, 35, 50], seed=13)
    slow = _collect(ccm_plan(two_pairs, cfg))
    fast = _collect(ccm_apply_in_pandas(two_pairs, cfg))
    assert set(slow) == set(fast)
    for k in slow:
        assert slow[k][0] == pytest.approx(fast[k][0], abs=1e-9), k
        assert slow[k][1] == fast[k][1], k


def test_mapinpandas_variant_matches(spark, two_pairs):
    cfg = CCMConfig(num_samples=3, lib_sizes=[20, 40], seed=21)
    a = _collect(ccm_apply_in_pandas(two_pairs, cfg))
    b = _collect(ccm_fast_iterated(two_pairs.repartition("pair_id"), cfg))
    assert a == b


def test_fast_iterated_rejects_unclustered_input(spark, two_pairs):
    """Rows of one pair spread across partitions -> partial-series results;
    the clustering guard must fail the job instead of returning them."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    cfg = CCMConfig(num_samples=2, lib_sizes=[20], seed=21)
    scattered = two_pairs.repartition(8)  # round-robin: pairs span partitions
    with pytest.raises(SparkRuntimeException, match="span partition boundaries"):
        ccm_fast_iterated(scattered, cfg).collect()


@pytest.fixture(scope="module")
def uneven_fleet(spark):
    """Six pairs of 40-90 points under sparse, signed, wide pair ids."""
    ids = [-5, 0, 7, 12, 10**9 + 3, 2**40 + 1]
    pairs = []
    for i, pid in enumerate(ids):
        x, y = coupled_series(
            length=40 + 10 * i, coupling=0.3 * (i % 2), noise_level=0.03, seed=70 + i
        )
        pairs.append((pid, x, y))
    return pairs, spark.createDataFrame(pairs_to_pdf(pairs))


def test_fastpath_fleet_is_oracle_exact_under_any_input_geometry(spark, uneven_fleet):
    """Unequal lengths (auto ladders differ per pair) and sparse ids: each
    pair's rows are exactly oracle.cross_map's, and how the input arrives
    partitioned (one partition, round-robin, hashed by pair) changes
    nothing."""
    from ccm_spark import oracle

    pairs, df = uneven_fleet
    cfg = CCMConfig(num_samples=3, seed=29)
    expected = sorted(
        (pid, direction, int(lib_size), float(corr), float(res["slope"]),
         bool(res["convergent"]))
        for pid, x, y in pairs
        for direction, _ in oracle.DIRECTIONS
        for res in [oracle.cross_map(x, y, cfg, direction)]
        for lib_size, corr in res["results"]
    )
    for geometry in (df.coalesce(1), df.repartition(7), df.repartition("pair_id")):
        got = sorted(tuple(r) for r in ccm_apply_in_pandas(geometry, cfg).collect())
        assert got == expected
