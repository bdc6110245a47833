"""Spark CCM plan vs the seeded numpy oracle (SURVEY.md §5 rebuild plan (a))."""

from __future__ import annotations

import numpy as np
import pytest

from ccm_spark import CCM, CCMConfig, generate_lib_sizes
from ccm_spark.generators import coupled_logistic_maps, coupled_series
from ccm_spark import oracle
from ccm_spark.plans.cross_map import skill_plan, convergence_plan


def make_series_df(spark, x, y, pair_id=0):
    rows = [(pair_id, t, float(a), float(b)) for t, (a, b) in enumerate(zip(x, y))]
    return spark.createDataFrame(rows, "pair_id long, t long, x double, y double")


def test_ladder_matches_reference_rule():
    # lib/ccm.ex:86-97: max<10 -> [max]; else range(max(max//10,5), max, max(2,max//20))
    assert generate_lib_sizes(5) == [5]
    assert generate_lib_sizes(9) == [9]
    assert generate_lib_sizes(10) == [5, 7, 9]
    assert generate_lib_sizes(299) == list(range(29, 300, 14))
    assert generate_lib_sizes(100) == list(range(10, 101, 5))


def test_embedding_matches_oracle(spark):
    x, y = coupled_logistic_maps(60, 0.15)
    df = make_series_df(spark, x, y)
    from ccm_spark.operators.embedding import embed_direction

    emb = (
        embed_direction(df, 3, 2, "y", "x", 0)
        .orderBy("p")
        .collect()
    )
    o_emb = oracle.time_delay_embedding(y, 3, 2)
    o_tgt = oracle.adjusted_target(x, 3, 2)
    assert len(emb) == o_emb.shape[0]
    for r in emb:
        np.testing.assert_allclose(
            [r.e0, r.e1, r.e2], o_emb[r.p], rtol=0, atol=0
        )
        assert r.tgt == o_tgt[r.p]


@pytest.mark.parametrize("direction", ["x_causes_y", "y_causes_x"])
def test_skill_matches_oracle_small(spark, direction):
    x, y = coupled_series(length=80, coupling=0.4, noise_level=0.02, seed=7)
    cfg = CCMConfig(embedding_dim=3, tau=1, num_samples=5, lib_sizes=[20, 40, 60], seed=11)
    df = make_series_df(spark, x, y)
    got = {
        r.lib_size: r.correlation
        for r in skill_plan(df, cfg).where(f"direction = '{direction}'").collect()
    }
    want = dict(oracle.cross_map(x, y, cfg, direction)["results"])
    assert set(got) == set(want)
    for ls in want:
        assert got[ls] == pytest.approx(want[ls], abs=1e-9), f"lib_size={ls}"


def test_convergence_matches_oracle(spark):
    x, y = coupled_series(length=120, coupling=0.4, noise_level=0.02, seed=3)
    cfg = CCMConfig(num_samples=8, seed=5)  # auto ladder
    df = make_series_df(spark, x, y)
    rows = convergence_plan(df, cfg).collect()
    assert len(rows) == 2
    for r in rows:
        o = oracle.cross_map(x, y, cfg, r.direction)
        assert r.slope == pytest.approx(o["slope"], abs=1e-9)
        assert bool(r.convergent) == o["convergent"]


def test_degenerate_lib_ge_points_gives_zero(spark):
    # L >= P -> every sample 0.0 -> correlation 0.0 (lib/ccm.ex:109-110)
    x, y = coupled_logistic_maps(30, 0.1)
    cfg = CCMConfig(num_samples=3, lib_sizes=[29, 40], seed=1)  # P = 29
    df = make_series_df(spark, x, y)
    got = {r.lib_size: r.correlation for r in skill_plan(df, cfg).collect()}
    assert got[29] == 0.0  # L == P: library swallows all points
    assert got[40] == 0.0  # L > P
    want = dict(oracle.cross_map(x, y, cfg, "x_causes_y")["results"])
    assert want[29] == 0.0 and want[40] == 0.0


def test_constant_series_zero_correlation(spark):
    # zero-variance Pearson -> 0.0 (lib/ccm.ex:212)
    x = np.ones(40)
    y = np.linspace(0, 1, 40)
    cfg = CCMConfig(num_samples=3, lib_sizes=[10], seed=2)
    df = make_series_df(spark, x, y)
    rows = skill_plan(df, cfg).collect()
    for r in rows:
        o = dict(oracle.cross_map(x, y, cfg, r.direction)["results"])
        assert r.correlation == pytest.approx(o[r.lib_size], abs=1e-9)
    # x_causes_y predicts x (constant) -> corr denominator 0 -> 0.0
    xy = [r for r in rows if r.direction == "x_causes_y"][0]
    assert xy.correlation == 0.0


def test_api_shim_shapes(spark):
    x, y = coupled_logistic_maps(50, 0.15)
    c = CCM(spark, x, y, num_samples=2, lib_sizes=[15, 25], seed=9)
    res = c.bidirectional_ccm()
    assert set(res) == {"x_causes_y", "y_causes_x"}
    for d, sub in res.items():
        assert sub["direction"] == d
        assert [ls for ls, _ in sub["results"]] == [15, 25]
        assert isinstance(sub["convergent"], bool)


def test_unequal_length_raises(spark):
    with pytest.raises(ValueError):
        CCM(spark, [1.0, 2.0, 3.0], [1.0, 2.0])


def test_unknown_direction_raises(spark):
    """A misspelled direction must raise (reference behavior), not silently
    return an empty non-convergent result — and a VALID direction must not
    (the validation once checked dict keys instead of values, breaking
    every legitimate call while the invalid-input test still passed)."""
    x, y = coupled_logistic_maps(30, 0.15)
    c = CCM(spark, x, y, num_samples=2, lib_sizes=[10], seed=9)
    with pytest.raises(ValueError, match="direction must be one of"):
        c.cross_map("x_cause_y")
    res = c.cross_map("x_causes_y")
    assert res["direction"] == "x_causes_y"
    assert [ls for ls, _ in res["results"]] == [10]


@pytest.mark.parametrize("direction", ["x_causes_y", "y_causes_x"])
def test_exclusion_radius_plan_matches_oracle(spark, direction):
    """Theiler window (r07 extension): with a nonzero exclusion_radius
    the DataFrame plan must still equal the numpy oracle cell-for-cell,
    and the radius must actually change results vs radius 0 (temporal
    neighbours really are excluded)."""
    x, y = coupled_series(length=80, coupling=0.4, noise_level=0.02, seed=7)
    df = make_series_df(spark, x, y)
    base = dict(
        oracle.cross_map(
            x, y,
            CCMConfig(embedding_dim=3, tau=1, num_samples=5,
                      lib_sizes=[20, 40, 60], seed=11),
            direction,
        )["results"]
    )
    cfg = CCMConfig(
        embedding_dim=3, tau=1, num_samples=5, lib_sizes=[20, 40, 60],
        seed=11, exclusion_radius=3,
    )
    got = {
        r.lib_size: r.correlation
        for r in skill_plan(df, cfg).where(f"direction = '{direction}'").collect()
    }
    want = dict(oracle.cross_map(x, y, cfg, direction)["results"])
    assert set(got) == set(want)
    for ls in want:
        assert got[ls] == pytest.approx(want[ls], abs=1e-9), f"lib_size={ls}"
    assert want != base  # the window changed the neighbour sets


def _theiler_case():
    x, y = coupled_series(length=70, coupling=0.3, noise_level=0.0)
    return np.asarray(y), np.asarray(x), [25, 40, 50], 6, (1, 5, 20)


def _theiler_fallback_case():
    # a random walk's nearest states are its temporal neighbours, so a
    # wide window leaves rows with too few admissible hits for the walk
    x, _ = coupled_series(length=120, coupling=0.3, noise_level=0.0)
    walk = np.cumsum(np.random.default_rng(4).normal(size=120))
    return walk, np.asarray(x), [25, 60, 90], 6, (1, 5, 20)


def _nan_case():
    x, y = coupled_series(length=120, coupling=0.4, noise_level=0.02, seed=3)
    source = np.asarray(y).copy()
    source[[10, 50, 51]] = np.nan
    return source, np.asarray(x), [12, 60, 110], 6, (0, 3)


def _auto_ladder_case():
    x, y = coupled_series(length=300, coupling=0.4, noise_level=0.02, seed=7)
    return np.asarray(y), np.asarray(x), generate_lib_sizes(298), 10, (0,)


def _ties_case():
    x, y = coupled_series(length=150, coupling=0.4, noise_level=0.02, seed=3)
    return np.round(np.asarray(y), 1), np.asarray(x), [15, 60, 120], 8, (0, 2)


def _constant_case():
    x, _ = coupled_series(length=120, coupling=0.4, noise_level=0.02, seed=3)
    return np.full(120, 0.5), np.asarray(x), [12, 60, 110], 8, (0, 3)


def _tiny_lib_case():
    x, y = coupled_series(length=70, coupling=0.3, noise_level=0.02, seed=5)
    return np.asarray(y), np.asarray(x), [1, 2, 3, 4], 6, (0, 1)


@pytest.mark.filterwarnings("ignore:invalid value:RuntimeWarning")
@pytest.mark.parametrize(
    "case",
    [
        _theiler_case, _theiler_fallback_case, _nan_case, _auto_ladder_case,
        _ties_case, _constant_case, _tiny_lib_case,
    ],
    ids=[
        "theiler", "theiler_fallback", "nan", "auto_ladder", "ties",
        "constant", "tiny_lib",
    ],
)
def test_exclusion_radius_batched_kernel_matches_per_sample(case):
    """The vectorised lib-batch kernel and the per-sample kernel must
    agree bit-for-bit: under Theiler masking (incl. the inf-row weight
    guard and the walk's fallback rows), with NaN input, on every
    auto-ladder lib size at N=300 (gather below the walk depth,
    neighbour-order walk above it), under distance ties and all-zero
    distances, and at L <= E+1."""
    source, target, lib_sizes, num_samples, radii = case()
    emb = oracle.time_delay_embedding(source, 3, 1)
    tgt = oracle.adjusted_target(target, 3, 1)
    dm = oracle._pairwise_distances(emb)
    for radius in radii:
        for lib_size in lib_sizes:
            batch = oracle.cross_map_lib_batch(
                emb, tgt, lib_size, num_samples, 0, 11, 3, dm,
                exclusion_radius=radius,
            )
            singles = [
                oracle.cross_map_sample(
                    emb, tgt, lib_size, s, 0, 11, 3, dist_matrix=dm,
                    exclusion_radius=radius,
                )
                for s in range(num_samples)
            ]
            np.testing.assert_array_equal(batch, np.array(singles))


def test_exclusion_radius_fastpath_and_api(spark):
    """The applyInPandas fast path carries the radius through its
    closure's config; the CCM API exposes it; negatives raise."""
    from ccm_spark.fastpath import ccm_apply_in_pandas

    x, y = coupled_series(length=80, coupling=0.4, noise_level=0.02, seed=7)
    df = make_series_df(spark, x, y)
    cfg = CCMConfig(
        embedding_dim=3, tau=1, num_samples=5, lib_sizes=[20, 40, 60],
        seed=11, exclusion_radius=3,
    )
    fast = {
        (r.direction, r.lib_size): r.correlation
        for r in ccm_apply_in_pandas(df, cfg).collect()
    }
    for direction in ("x_causes_y", "y_causes_x"):
        want = dict(oracle.cross_map(x, y, cfg, direction)["results"])
        for ls, corr in want.items():
            assert fast[(direction, ls)] == pytest.approx(corr, abs=1e-12)

    from ccm_spark import CCM

    api = CCM(
        spark, x, y, num_samples=5, lib_sizes=[20, 40, 60], seed=11,
        exclusion_radius=3,
    )
    assert api.config.exclusion_radius == 3
    with pytest.raises(ValueError, match="exclusion_radius"):
        CCMConfig(exclusion_radius=-1)
