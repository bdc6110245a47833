"""Surrogate-data significance testing for CCM skill.

The reference library reports cross-map skill and a convergence verdict
but no null model (SURVEY.md §2.1 — `lib/ccm.ex` has no significance
surface); standard CCM practice (Sugihara et al. 2012 SI; Tsonis et al.
2015 PNAS) compares the observed skill against skills obtained on
SURROGATE series that preserve each series' own dynamics while
destroying the cross-coupling under test.

Null model here: circular-shift surrogates of the TARGET series — the
putative cause (direction ``x_causes_y`` embeds Y and predicts X, so X
is shifted and the manifold M_y is reused unchanged). A circular shift
preserves the marginal distribution and (up to wraparound) the full
autocorrelation structure, so the null is "M_y carries no information
about x beyond what any equally-structured, temporally-decoupled series
would yield". Offsets are deterministic LCG draws bounded away from 0
and N (small shifts retain alignment), so the whole test is exactly
reproducible — same seed, same p-value, any cluster size.

Scale shape: one tiny grid relation (one row per surrogate), spread
with an explicit partition count (each row costs a full CCM kernel —
AQE would coalesce the byte-small exchange to one task), the series
shipped once per executor via ``SparkContext.broadcast``, and one
vectorised :mod:`ccm_spark.oracle` kernel per surrogate inside
``mapInPandas``. n_surrogates=999 parallelises across the fleet like
any other pair sweep; only (K+1) scalar skills return to the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ccm_spark.config import CCMConfig


def surrogate_offsets(
    n_points: int, n_surrogates: int, seed: int, min_shift: int | None = None
) -> list[int]:
    """Deterministic circular-shift offsets in [min_shift, n - min_shift]:
    splitmix64-mixed draws keyed on (seed, k), bounded away from 0/n so a
    surrogate never nearly re-aligns with the original. Default min_shift
    is n//10 (at least 1). The (seed, k) key is avalanche-mixed BEFORE the
    span reduction — consecutive raw LCG draws are affine in k, so
    reducing them mod span yields an arithmetic progression whose lattice
    can collide or cluster for unlucky (n, seed); the finalizer
    decorrelates the draws (64-bit draws also make the mod-span bias
    negligible, < 2**-40 for any realistic series length)."""
    if n_points < 4:
        raise ValueError("surrogate_offsets: series too short")
    if min_shift is None:
        min_shift = max(1, n_points // 10)
    span = n_points - 2 * min_shift + 1
    if span < 1:
        raise ValueError(
            f"surrogate_offsets: min_shift={min_shift} leaves no valid "
            f"offsets for n={n_points}"
        )
    from ccm_spark.functions.hashing import splitmix64

    out = []
    for k in range(n_surrogates):
        draw = splitmix64(((seed + 1) << 32) ^ k)
        out.append(min_shift + int(draw % span))
    return out


def holdout_lib_size(cfg: CCMConfig, n_points: int, min_holdout: int = 20) -> int:
    """The library size the hypothesis-testing operators evaluate at: the
    LARGEST ladder entry that still leaves ``min_holdout`` embedding
    points outside the library. At the ladder maximum the prediction
    complement (S2) shrinks to a couple of points and Pearson over it
    degenerates to ±1 — a quantized, noise-dominated statistic no test
    should stand on. Falls back to the ladder maximum when no entry
    leaves the holdout (short series)."""
    ladder = cfg.resolved_lib_sizes(n_points)
    n_emb = n_points - (cfg.embedding_dim - 1) * cfg.tau
    ok = [lib for lib in ladder if n_emb - lib >= min_holdout]
    return int(ok[-1] if ok else ladder[-1])


def ccm_significance(
    spark,
    x,
    y,
    config: CCMConfig | None = None,
    direction: str = "x_causes_y",
    n_surrogates: int = 19,
    surrogate_seed: int = 97,
    alpha: float = 0.05,
) -> dict:
    """Permutation-style significance of the cross-map skill at the
    largest library size.

    Runs the actual (x, y) pair plus ``n_surrogates`` target-shifted
    surrogates as one distributed sweep and returns the one-sided
    p-value ``(1 + #{surrogate skill >= actual}) / (n_surrogates + 1)``
    — the standard rank statistic, exact under the null, minimum
    1/(K+1) (19 surrogates bottom out at p=0.05; pass 99 or 999 for
    finer resolution).
    """
    if direction not in ("x_causes_y", "y_causes_x"):
        raise ValueError(f"ccm_significance: unknown direction {direction!r}")
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    cfg = config if config is not None else CCMConfig()
    cfg.validate_series(len(x), len(y))
    lib_size = holdout_lib_size(cfg, len(x))
    run_cfg = CCMConfig(
        embedding_dim=cfg.embedding_dim,
        tau=cfg.tau,
        num_samples=cfg.num_samples,
        lib_sizes=[lib_size],
        seed=cfg.seed,
        exclusion_radius=cfg.exclusion_radius,
    )
    offsets = surrogate_offsets(len(x), n_surrogates, surrogate_seed)
    # surrogate 0 = the actual pair (offset 0 is excluded from draws)
    grid = [(0, 0)] + [(k + 1, off) for k, off in enumerate(offsets)]

    sc = spark.sparkContext
    bc = sc.broadcast((x, y))
    emb_dim, tau, num_samples, seed, radius = (
        run_cfg.embedding_dim,
        run_cfg.tau,
        run_cfg.num_samples,
        run_cfg.seed,
        run_cfg.exclusion_radius,
    )

    def run(batches):
        from ccm_spark import oracle
        from ccm_spark.config import CCMConfig as _Cfg

        bx, by = bc.value
        kcfg = _Cfg(
            embedding_dim=emb_dim,
            tau=tau,
            num_samples=num_samples,
            lib_sizes=[lib_size],
            seed=seed,
            exclusion_radius=radius,
        )
        for pdf in batches:
            rows = []
            for sid, off in zip(pdf["surrogate_id"], pdf["offset"]):
                # shift the TARGET series (the putative cause); the
                # library manifold is the unshifted source series
                if direction == "x_causes_y":
                    res = oracle.cross_map(np.roll(bx, int(off)), by, kcfg, direction)
                else:
                    res = oracle.cross_map(bx, np.roll(by, int(off)), kcfg, direction)
                rows.append((int(sid), int(off), float(res["results"][0][1])))
            yield pd.DataFrame(
                rows, columns=["surrogate_id", "offset", "skill"]
            )

    from ccm_spark.functions.partitioning import spread

    grid_df = spread(
        spark.createDataFrame(grid, "surrogate_id long, offset long"),
        "surrogate_id",
    )
    rows = grid_df.mapInPandas(
        run, "surrogate_id long, offset long, skill double"
    ).collect()
    skills = {r.surrogate_id: r.skill for r in rows}
    actual = skills[0]
    surr = np.array(
        [skills[i] for i in range(1, n_surrogates + 1)], dtype=np.float64
    )
    p_value = (1 + int(np.sum(surr >= actual))) / (n_surrogates + 1)
    return {
        "direction": direction,
        "lib_size": lib_size,
        "num_samples": run_cfg.num_samples,
        "actual_skill": float(actual),
        "n_surrogates": n_surrogates,
        "p_value": float(p_value),
        "surrogate_mean": float(surr.mean()),
        "surrogate_std": float(surr.std()),
        "surrogate_max": float(surr.max()),
        "significant": bool(p_value <= alpha),
    }


def lag_aligned(x: np.ndarray, y: np.ndarray, lag: int, direction: str):
    """Align (x, y) so the cross-map TARGET leads by ``lag`` steps: for
    ``x_causes_y`` the target is x, so element t of the returned x is
    x[t+lag] against y[t]; for ``y_causes_x`` symmetric. Truncation, not
    wraparound — lagged CCM compares true temporal alignments."""
    n = len(x)
    if abs(lag) >= n:
        raise ValueError(f"lag {lag} >= series length {n}")
    if direction == "x_causes_y":
        return (x[lag:], y[: n - lag]) if lag >= 0 else (x[: n + lag], y[-lag:])
    return (x[: n - lag], y[lag:]) if lag >= 0 else (x[-lag:], y[: n + lag])


def ccm_lag_scan(
    spark,
    x,
    y,
    config: CCMConfig | None = None,
    direction: str = "x_causes_y",
    max_lag: int = 8,
) -> dict:
    """Time-lagged CCM (Ye et al. 2015, "Distinguishing time-delayed
    causal interactions using convergent cross mapping"): cross-map skill
    as a function of the prediction lag. True causality peaks at a
    NEGATIVE lag (the cause precedes the effect, so the manifold best
    recovers the cause's past); a peak at positive lags flags the
    "generalized synchrony" false-positive pattern.

    Every lag uses the SAME library size (resolved on the shortest
    truncated length) so skills are comparable across the scan. Scale
    shape: identical to :func:`ccm_significance` — a (2*max_lag+1)-row
    grid spread across executors, series broadcast once, one vectorised
    kernel per lag, scalars back to the driver.
    """
    if direction not in ("x_causes_y", "y_causes_x"):
        raise ValueError(f"ccm_lag_scan: unknown direction {direction!r}")
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    cfg = config if config is not None else CCMConfig()
    cfg.validate_series(len(x), len(y))
    if max_lag < 1 or max_lag >= len(x) // 2:
        raise ValueError(f"ccm_lag_scan: max_lag {max_lag} out of range")
    lib_size = holdout_lib_size(cfg, len(x) - max_lag)
    emb_dim, tau, num_samples, seed, radius = (
        cfg.embedding_dim,
        cfg.tau,
        cfg.num_samples,
        cfg.seed,
        cfg.exclusion_radius,
    )
    sc = spark.sparkContext
    bc = sc.broadcast((x, y))

    def run(batches):
        from ccm_spark import oracle
        from ccm_spark.config import CCMConfig as _Cfg

        bx, by = bc.value
        kcfg = _Cfg(
            embedding_dim=emb_dim,
            tau=tau,
            num_samples=num_samples,
            lib_sizes=[lib_size],
            seed=seed,
            exclusion_radius=radius,
        )
        for pdf in batches:
            rows = []
            for lag in pdf["lag"]:
                xl, yl = lag_aligned(bx, by, int(lag), direction)
                res = oracle.cross_map(xl, yl, kcfg, direction)
                rows.append((int(lag), float(res["results"][0][1])))
            yield pd.DataFrame(rows, columns=["lag", "skill"])

    from ccm_spark.functions.partitioning import spread

    lags = [(lag,) for lag in range(-max_lag, max_lag + 1)]
    grid_df = spread(spark.createDataFrame(lags, "lag long"), "lag")
    rows = grid_df.mapInPandas(run, "lag long, skill double").collect()
    skills = sorted((r.lag, r.skill) for r in rows)
    best_lag, best_skill = max(skills, key=lambda p: (p[1], -abs(p[0])))
    return {
        "direction": direction,
        "lib_size": lib_size,
        "skills": skills,
        "best_lag": int(best_lag),
        "best_skill": float(best_skill),
        "causal_delay_consistent": bool(best_lag <= 0),
    }


SIGNIFICANCE_FLEET_SCHEMA = (
    "pair_id long, direction string, lib_size int, actual_skill double, "
    "n_surrogates int, p_value double, surrogate_mean double, "
    "surrogate_max double, significant boolean"
)


def ccm_significance_fleet(
    series: DataFrame,
    config: CCMConfig | None = None,
    direction: str = "x_causes_y",
    n_surrogates: int = 19,
    surrogate_seed: int = 97,
    alpha: float = 0.05,
) -> DataFrame:
    """Fleet-mode surrogate testing: one significance verdict per pair of
    a ``(pair_id, t, x, y)`` relation — the many-series regime where
    millions of pairs each get a p-value.

    Same null model and rank statistic as :func:`ccm_significance`; the
    K+1 kernels for a pair run INSIDE that pair's ``applyInPandas`` task
    (the surrogate sweep multiplies per-task compute by K+1, not shuffle
    volume — the one exchange is still the pair repartition, fastpath
    style). Offsets are keyed on (surrogate_seed, pair_id, k), so every
    pair draws an independent, reproducible surrogate set, and pair
    verdicts are identical to running :func:`ccm_significance` per pair
    with that pair's derived seed. Pairs run through ``apply_per_key``:
    one range partition per core. Range bounds already balance the
    partitions by row count, so splitting finer only adds Python task
    launches.
    """
    if direction not in ("x_causes_y", "y_causes_x"):
        raise ValueError(
            f"ccm_significance_fleet: unknown direction {direction!r}"
        )
    cfg = config if config is not None else CCMConfig()
    emb_dim, tau, num_samples, seed, radius = (
        cfg.embedding_dim,
        cfg.tau,
        cfg.num_samples,
        cfg.seed,
        cfg.exclusion_radius,
    )
    lib_sizes = cfg.lib_sizes

    def run_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        from ccm_spark import oracle
        from ccm_spark.config import CCMConfig as _Cfg

        pdf = pdf.sort_values("t")
        x = pdf["x"].to_numpy(dtype=np.float64)
        y = pdf["y"].to_numpy(dtype=np.float64)
        pair_id = int(pdf["pair_id"].iloc[0])
        base = _Cfg(
            embedding_dim=emb_dim,
            tau=tau,
            num_samples=num_samples,
            lib_sizes=list(lib_sizes) if lib_sizes is not None else None,
            seed=seed,
        )
        lib_size = holdout_lib_size(base, len(x))
        kcfg = _Cfg(
            embedding_dim=emb_dim,
            tau=tau,
            num_samples=num_samples,
            lib_sizes=[lib_size],
            seed=seed,
            exclusion_radius=radius,
        )
        offsets = surrogate_offsets(
            len(x), n_surrogates, surrogate_seed + 104729 * pair_id
        )
        if direction == "x_causes_y":
            actual = oracle.cross_map(x, y, kcfg, direction)["results"][0][1]
            surr = np.array(
                [
                    oracle.cross_map(np.roll(x, off), y, kcfg, direction)[
                        "results"
                    ][0][1]
                    for off in offsets
                ]
            )
        else:
            actual = oracle.cross_map(x, y, kcfg, direction)["results"][0][1]
            surr = np.array(
                [
                    oracle.cross_map(x, np.roll(y, off), kcfg, direction)[
                        "results"
                    ][0][1]
                    for off in offsets
                ]
            )
        p_value = (1 + int(np.sum(surr >= actual))) / (n_surrogates + 1)
        return pd.DataFrame(
            [
                (
                    pair_id,
                    direction,
                    lib_size,
                    float(actual),
                    n_surrogates,
                    float(p_value),
                    float(surr.mean()),
                    float(surr.max()),
                    bool(p_value <= alpha),
                )
            ],
            columns=[
                "pair_id",
                "direction",
                "lib_size",
                "actual_skill",
                "n_surrogates",
                "p_value",
                "surrogate_mean",
                "surrogate_max",
                "significant",
            ],
        )

    from ccm_spark.functions.partitioning import apply_per_key

    return apply_per_key(series, "pair_id", run_pair, SIGNIFICANCE_FLEET_SCHEMA)


def embedding_scan(
    spark,
    x,
    e_values: list[int] | None = None,
    tau_values: list[int] | None = None,
    num_samples: int = 20,
    seed: int = 42,
) -> dict:
    """Embedding-parameter selection by simplex self-prediction — the
    standard EDM workflow step before any CCM run (Sugihara & May 1990;
    rEDM's EmbedDimension/PredictInterval): for each (E, tau) candidate,
    embed the series on ITS OWN manifold and measure one-step-ahead
    forecast skill; the E where skill saturates is the attractor's
    operating dimension, and running CCM at a wrong E is the most common
    user error the reference API silently allows.

    Self-prediction reuses the cross-map kernel verbatim: predicting
    x(t+1) from M_x is ``cross_map`` with the manifold series x[:-1] and
    the target aligned one step ahead (x[1:]) — no new numerics, so every
    cell of the scan inherits the kernel's test pins. Library size per
    cell comes from :func:`holdout_lib_size` on the truncated length.
    Scale shape: the (E, tau) grid fans out like the surrogate sweep —
    spread grid, series broadcast once, scalars back.
    """
    x = np.asarray(x, dtype=np.float64)
    e_values = list(e_values) if e_values is not None else [2, 3, 4, 5, 6, 7, 8]
    tau_values = list(tau_values) if tau_values is not None else [1]
    if len(x) < 30:
        raise ValueError("embedding_scan: series too short")
    for e in e_values:
        if e < 2:
            raise ValueError(f"embedding_scan: E must be >= 2, got {e}")
    for tau in tau_values:
        if tau < 1:
            raise ValueError(f"embedding_scan: tau must be >= 1, got {tau}")

    sc = spark.sparkContext
    bc = sc.broadcast(x)

    def run(batches):
        from ccm_spark import oracle
        from ccm_spark.config import CCMConfig as _Cfg

        bx = bc.value
        for pdf in batches:
            rows = []
            for e, tau in zip(pdf["e"], pdf["tau"]):
                e, tau = int(e), int(tau)
                # one-step self-prediction: manifold on x[:-1], target x[1:]
                src, tgt = bx[:-1], bx[1:]
                probe = _Cfg(embedding_dim=e, tau=tau, num_samples=num_samples, seed=seed)
                lib = holdout_lib_size(probe, len(src))
                kcfg = _Cfg(
                    embedding_dim=e,
                    tau=tau,
                    num_samples=num_samples,
                    lib_sizes=[lib],
                    seed=seed,
                )
                res = oracle.cross_map(tgt, src, kcfg, "x_causes_y")
                rows.append((e, tau, lib, float(res["results"][0][1])))
            yield pd.DataFrame(rows, columns=["e", "tau", "lib_size", "skill"])

    from ccm_spark.functions.partitioning import spread

    grid = [(e, tau) for e in e_values for tau in tau_values]
    grid_df = spread(spark.createDataFrame(grid, "e long, tau long"), "e", "tau")
    rows = grid_df.mapInPandas(
        run, "e long, tau long, lib_size long, skill double"
    ).collect()
    cells = sorted((r.e, r.tau, r.lib_size, r.skill) for r in rows)
    best_e, best_tau, _, best_skill = max(
        cells, key=lambda c: (c[3], -c[0], -c[1])
    )
    return {
        "cells": cells,
        "best_e": int(best_e),
        "best_tau": int(best_tau),
        "best_skill": float(best_skill),
    }


DEFAULT_THETAS = [0.0, 0.1, 0.3, 0.5, 0.75, 1.0, 1.5, 2.0, 3.0, 4.0, 6.0, 8.0]


def smap_theta_scan(
    spark,
    x,
    thetas: list[float] | None = None,
    embedding_dim: int = 3,
    tau: int = 1,
) -> dict:
    """Nonlinearity test via the S-map theta scan (Sugihara 1994; the
    rEDM ``PredictNonlinear`` surface): one-step S-map forecast skill at
    each localisation theta. theta=0 is the best GLOBAL linear
    (autoregressive) model; skill rising for theta > 0 means the dynamics
    are state-dependent — the standard check that CCM's nonlinear
    machinery is even applicable to a series, which the reference never
    asks. Deterministic (no sampling anywhere in the S-map).

    Scale shape: the theta grid fans out exactly like
    :func:`embedding_scan` — spread grid, series broadcast once, one
    :func:`ccm_spark.oracle.smap_forecast_skill` kernel per cell.
    Returns the per-theta skills, the best theta, and
    ``nonlinear = skill(best theta) > skill(0)``.
    """
    x = np.asarray(x, dtype=np.float64)
    thetas = list(DEFAULT_THETAS) if thetas is None else [float(t) for t in thetas]
    if 0.0 not in thetas:
        raise ValueError(
            "smap_theta_scan: thetas must include 0.0 — the linear "
            "baseline the verdict compares against"
        )
    sc = spark.sparkContext
    bc = sc.broadcast(x)

    def run(batches):
        from ccm_spark import oracle

        bx = bc.value
        for pdf in batches:
            rows = [
                (
                    float(theta),
                    float(
                        oracle.smap_forecast_skill(bx, float(theta), embedding_dim, tau)
                    ),
                )
                for theta in pdf["theta"]
            ]
            yield pd.DataFrame(rows, columns=["theta", "skill"])

    from ccm_spark.functions.partitioning import spread

    grid_df = spread(
        spark.createDataFrame([(t,) for t in thetas], "theta double"), "theta"
    )
    rows = grid_df.mapInPandas(run, "theta double, skill double").collect()
    skills = sorted((r.theta, r.skill) for r in rows)
    best_theta, best_skill = max(skills, key=lambda p: (p[1], -p[0]))
    linear_skill = dict(skills)[0.0]
    return {
        "embedding_dim": embedding_dim,
        "tau": tau,
        "skills": skills,
        "best_theta": float(best_theta),
        "best_skill": float(best_skill),
        "linear_skill": float(linear_skill),
        "nonlinear": bool(best_theta > 0 and best_skill > linear_skill),
    }


def forecast_horizon_scan(
    spark,
    x,
    horizons: list[int] | None = None,
    embedding_dim: int = 3,
    tau: int = 1,
    num_samples: int = 20,
    seed: int = 42,
) -> dict:
    """Prediction-decay scan (Sugihara & May 1990's second diagnostic;
    rEDM's PredictInterval): simplex self-forecast skill as a function of
    the forecast horizon h. Chaotic dynamics are the signature case —
    skill high at h=1 and DECAYING with horizon (error grows with the
    Lyapunov exponent), while uncorrelated noise is uniformly
    unpredictable and periodic/linear signals hold their skill. Same
    spread-grid fan-out as the sibling scans; library size per cell from
    :func:`holdout_lib_size` on the truncated length.
    """
    x = np.asarray(x, dtype=np.float64)
    horizons = list(horizons) if horizons is not None else [1, 2, 3, 4, 6, 8, 12]
    for h in horizons:
        if h < 1 or h >= len(x) // 2:
            raise ValueError(f"forecast_horizon_scan: horizon {h} out of range")
    sc = spark.sparkContext
    bc = sc.broadcast(x)

    def run(batches):
        from ccm_spark import oracle
        from ccm_spark.config import CCMConfig as _Cfg

        bx = bc.value
        for pdf in batches:
            rows = []
            for h in pdf["h"]:
                h = int(h)
                src, tgt = bx[:-h], bx[h:]
                probe = _Cfg(
                    embedding_dim=embedding_dim, tau=tau,
                    num_samples=num_samples, seed=seed,
                )
                lib = holdout_lib_size(probe, len(src))
                kcfg = _Cfg(
                    embedding_dim=embedding_dim, tau=tau,
                    num_samples=num_samples, lib_sizes=[lib], seed=seed,
                )
                res = oracle.cross_map(tgt, src, kcfg, "x_causes_y")
                rows.append((h, float(res["results"][0][1])))
            yield pd.DataFrame(rows, columns=["h", "skill"])

    from ccm_spark.functions.partitioning import spread

    grid_df = spread(
        spark.createDataFrame([(int(h),) for h in horizons], "h long"), "h"
    )
    rows = grid_df.mapInPandas(run, "h long, skill double").collect()
    skills = sorted((r.h, r.skill) for r in rows)
    return {
        "embedding_dim": embedding_dim,
        "tau": tau,
        "skills": skills,
        "skill_h1": float(dict(skills).get(1, float("nan"))),
        "decaying": bool(
            len(skills) >= 2 and skills[0][1] > skills[-1][1]
        ),
    }


EMBEDDING_FLEET_SCHEMA = (
    "series_id long, best_e int, best_tau int, lib_size int, best_skill double"
)


def embedding_scan_fleet(
    series: DataFrame,
    e_values: list[int] | None = None,
    tau_values: list[int] | None = None,
    num_samples: int = 20,
    seed: int = 42,
    value_col: str = "value",
    min_points: int = 30,
) -> DataFrame:
    """Fleet-mode (E, tau) selection: one embedding verdict per series of
    a ``(series_id, t, value)`` relation — step 1 of the corpus screening
    workflow (README "EDM workflow") in the million-series regime, where
    the single-series :func:`embedding_scan` driver API cannot go.

    Same cell semantics as :func:`embedding_scan` (simplex one-step
    self-prediction per (E, tau), library from :func:`holdout_lib_size`,
    identical best-cell tie-break), so each fleet row bit-matches the
    single-series scan on that series' values (test-pinned). The whole
    grid runs INSIDE each series' ``applyInPandas`` task — fastpath
    shape: one shuffle on series_id into one balanced range partition per
    core (``apply_per_key``), numpy kernels in-task, one verdict row back
    per series.
    Series shorter than ``min_points`` are dropped (a corpus screen must
    not abort on one degenerate member; filter/inspect them separately).
    """
    evs = list(e_values) if e_values is not None else [2, 3, 4, 5, 6, 7, 8]
    tvs = list(tau_values) if tau_values is not None else [1]
    for e in evs:
        if e < 2:
            raise ValueError(f"embedding_scan_fleet: E must be >= 2, got {e}")
    for tau in tvs:
        if tau < 1:
            raise ValueError(f"embedding_scan_fleet: tau must be >= 1, got {tau}")

    cols = ["series_id", "best_e", "best_tau", "lib_size", "best_skill"]

    def run_series(pdf: pd.DataFrame) -> pd.DataFrame:
        from ccm_spark import oracle
        from ccm_spark.config import CCMConfig as _Cfg

        pdf = pdf.sort_values("t")
        x = pdf[value_col].to_numpy(dtype=np.float64)
        if len(x) < min_points:
            return pd.DataFrame({c: pd.Series(dtype="float64") for c in cols})
        sid = int(pdf["series_id"].iloc[0])
        src, tgt = x[:-1], x[1:]
        cells = []
        for e in evs:
            for tau in tvs:
                probe = _Cfg(
                    embedding_dim=e, tau=tau, num_samples=num_samples, seed=seed
                )
                lib = holdout_lib_size(probe, len(src))
                kcfg = _Cfg(
                    embedding_dim=e, tau=tau, num_samples=num_samples,
                    lib_sizes=[lib], seed=seed,
                )
                res = oracle.cross_map(tgt, src, kcfg, "x_causes_y")
                cells.append((e, tau, lib, float(res["results"][0][1])))
        best_e, best_tau, lib, best_skill = max(
            cells, key=lambda c: (c[3], -c[0], -c[1])
        )
        return pd.DataFrame(
            [(sid, int(best_e), int(best_tau), int(lib), float(best_skill))],
            columns=cols,
        )

    from ccm_spark.functions.partitioning import apply_per_key

    return apply_per_key(series, "series_id", run_series, EMBEDDING_FLEET_SCHEMA)


LAG_FLEET_SCHEMA = (
    "pair_id long, direction string, lib_size int, best_lag int, "
    "best_skill double, causal_delay_consistent boolean"
)


def ccm_lag_scan_fleet(
    series: DataFrame,
    config: CCMConfig | None = None,
    direction: str = "x_causes_y",
    max_lag: int = 8,
    min_points: int = 30,
) -> DataFrame:
    """Fleet-mode lagged CCM: one best-lag verdict per pair of a
    ``(pair_id, t, x, y)`` relation — Ye et al. 2015's delayed-causality
    diagnostic at corpus scale. Same per-lag semantics, shared library
    size, and best-lag tie-break as :func:`ccm_lag_scan` (fleet rows
    bit-match the single-series scan per pair, test-pinned); the whole
    (2*max_lag+1)-lag sweep runs inside each pair's task. Pairs shorter
    than ``min_points`` (or <= 2*max_lag) are dropped, not fatal.
    """
    if direction not in ("x_causes_y", "y_causes_x"):
        raise ValueError(f"ccm_lag_scan_fleet: unknown direction {direction!r}")
    if max_lag < 1:
        raise ValueError(f"ccm_lag_scan_fleet: max_lag {max_lag} out of range")
    cfg = config if config is not None else CCMConfig()
    emb_dim, tau, num_samples, seed, radius = (
        cfg.embedding_dim, cfg.tau, cfg.num_samples, cfg.seed,
        cfg.exclusion_radius,
    )
    lib_sizes = cfg.lib_sizes
    cols = [
        "pair_id", "direction", "lib_size", "best_lag", "best_skill",
        "causal_delay_consistent",
    ]

    def run_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        from ccm_spark import oracle
        from ccm_spark.config import CCMConfig as _Cfg

        pdf = pdf.sort_values("t")
        x = pdf["x"].to_numpy(dtype=np.float64)
        y = pdf["y"].to_numpy(dtype=np.float64)
        if len(x) < min_points or max_lag >= len(x) // 2:
            return pd.DataFrame({c: pd.Series(dtype="float64") for c in cols})
        pair_id = int(pdf["pair_id"].iloc[0])
        base = _Cfg(
            embedding_dim=emb_dim, tau=tau, num_samples=num_samples,
            lib_sizes=list(lib_sizes) if lib_sizes is not None else None,
            seed=seed,
        )
        lib_size = holdout_lib_size(base, len(x) - max_lag)
        kcfg = _Cfg(
            embedding_dim=emb_dim, tau=tau, num_samples=num_samples,
            lib_sizes=[lib_size], seed=seed, exclusion_radius=radius,
        )
        skills = []
        for lag in range(-max_lag, max_lag + 1):
            xl, yl = lag_aligned(x, y, lag, direction)
            res = oracle.cross_map(xl, yl, kcfg, direction)
            skills.append((lag, float(res["results"][0][1])))
        best_lag, best_skill = max(skills, key=lambda p: (p[1], -abs(p[0])))
        return pd.DataFrame(
            [
                (
                    pair_id, direction, lib_size, int(best_lag),
                    float(best_skill), bool(best_lag <= 0),
                )
            ],
            columns=cols,
        )

    from ccm_spark.functions.partitioning import apply_per_key

    return apply_per_key(series, "pair_id", run_pair, LAG_FLEET_SCHEMA)


HORIZON_FLEET_SCHEMA = (
    "series_id long, skill_h1 double, last_skill double, decaying boolean"
)


def forecast_horizon_scan_fleet(
    series: DataFrame,
    horizons: list[int] | None = None,
    embedding_dim: int = 3,
    tau: int = 1,
    num_samples: int = 20,
    seed: int = 42,
    value_col: str = "value",
    min_points: int = 30,
) -> DataFrame:
    """Fleet-mode prediction-decay screening: one horizon-decay verdict
    per series of a ``(series_id, t, value)`` relation — the chaos-vs-
    noise-vs-periodic triage of :func:`forecast_horizon_scan` at corpus
    scale. Same per-horizon kernel and the same ``decaying`` verdict
    (first-horizon skill > last-horizon skill); horizons that do not fit
    a series (h >= len/2) are skipped for that series, and series with
    fewer than ``min_points`` points (or < 2 usable horizons) are
    dropped, not fatal.
    """
    hs = list(horizons) if horizons is not None else [1, 2, 3, 4, 6, 8, 12]
    for h in hs:
        if h < 1:
            raise ValueError(f"forecast_horizon_scan_fleet: horizon {h} < 1")
    cols = ["series_id", "skill_h1", "last_skill", "decaying"]

    def run_series(pdf: pd.DataFrame) -> pd.DataFrame:
        from ccm_spark import oracle
        from ccm_spark.config import CCMConfig as _Cfg

        pdf = pdf.sort_values("t")
        x = pdf[value_col].to_numpy(dtype=np.float64)
        usable = [h for h in hs if h < len(x) // 2]
        if len(x) < min_points or len(usable) < 2:
            return pd.DataFrame({c: pd.Series(dtype="float64") for c in cols})
        sid = int(pdf["series_id"].iloc[0])
        skills = []
        for h in usable:
            src, tgt = x[:-h], x[h:]
            probe = _Cfg(
                embedding_dim=embedding_dim, tau=tau,
                num_samples=num_samples, seed=seed,
            )
            lib = holdout_lib_size(probe, len(src))
            kcfg = _Cfg(
                embedding_dim=embedding_dim, tau=tau,
                num_samples=num_samples, lib_sizes=[lib], seed=seed,
            )
            res = oracle.cross_map(tgt, src, kcfg, "x_causes_y")
            skills.append((h, float(res["results"][0][1])))
        skills.sort()
        h1 = dict(skills).get(1, float("nan"))
        return pd.DataFrame(
            [
                (
                    sid, float(h1), float(skills[-1][1]),
                    bool(skills[0][1] > skills[-1][1]),
                )
            ],
            columns=cols,
        )

    from ccm_spark.functions.partitioning import apply_per_key

    return apply_per_key(series, "series_id", run_series, HORIZON_FLEET_SCHEMA)


def simplex_forecast(
    x,
    horizons: list[int] | None = None,
    embedding_dim: int = 3,
    tau: int = 1,
) -> dict:
    """Out-of-sample simplex forecasts of a series' FUTURE values — the
    prediction the EDM workflow's diagnostics (embedding_scan,
    forecast_horizon_scan) exist to justify. For each horizon h the
    library holds every (state, h-steps-later outcome) pair the series
    contains, the query is the LAST observed state, and the forecast is
    the W1/P1 simplex projection — direct multi-horizon forecasting
    (one library per h, the rEDM ``tp`` convention), not iterated
    feedback, so long-horizon forecasts degrade gracefully instead of
    compounding. Deterministic: no sampling anywhere.

    Driver-side (one series is trivial compute); the corpus form is
    :func:`simplex_forecast_fleet`. Returns
    ``{"forecasts": [(h, value), ...], "embedding_dim": E, "tau": tau}``.
    """
    x = np.asarray(x, dtype=np.float64)
    hs = list(horizons) if horizons is not None else [1, 2, 3]
    from ccm_spark import oracle

    emb = oracle.time_delay_embedding(x, embedding_dim, tau)
    p = emb.shape[0]
    shift = (embedding_dim - 1) * tau
    if p < 2:
        raise ValueError("simplex_forecast: series too short to embed")
    out = []
    query = emb[-1:, :]
    for h in hs:
        if h < 1:
            raise ValueError(f"simplex_forecast: horizon {h} < 1")
        lib_rows = p - h  # rows whose outcome x[i + shift + h] exists
        if lib_rows < embedding_dim + 1:
            raise ValueError(
                f"simplex_forecast: horizon {h} leaves {lib_rows} library "
                f"rows (< E+1={embedding_dim + 1})"
            )
        pred = oracle.simplex_point_predictions(
            emb[:lib_rows], x[shift + h : shift + h + lib_rows], query
        )
        out.append((int(h), float(pred[0])))
    return {"forecasts": out, "embedding_dim": embedding_dim, "tau": tau}


FORECAST_FLEET_SCHEMA = "series_id long, h int, prediction double"


def simplex_forecast_fleet(
    series: DataFrame,
    horizons: list[int] | None = None,
    embedding_dim: int = 3,
    tau: int = 1,
    value_col: str = "value",
    min_points: int = 30,
) -> DataFrame:
    """Fleet-mode :func:`simplex_forecast`: one forecast row per
    (series_id, horizon) over a long-form corpus — the "predict every
    sensor's next values" op, kernels in-task like every fleet scan.
    Rows bit-match the single-series function (test-pinned); series too
    short for a horizon skip that horizon, series shorter than
    ``min_points`` are dropped entirely."""
    hs = list(horizons) if horizons is not None else [1, 2, 3]
    for h in hs:
        if h < 1:
            raise ValueError(f"simplex_forecast_fleet: horizon {h} < 1")
    cols = ["series_id", "h", "prediction"]

    def run_series(pdf: pd.DataFrame) -> pd.DataFrame:
        from ccm_spark import oracle

        pdf = pdf.sort_values("t")
        x = pdf[value_col].to_numpy(dtype=np.float64)
        if len(x) < min_points:
            return pd.DataFrame({c: pd.Series(dtype="float64") for c in cols})
        sid = int(pdf["series_id"].iloc[0])
        emb = oracle.time_delay_embedding(x, embedding_dim, tau)
        p = emb.shape[0]
        shift = (embedding_dim - 1) * tau
        query = emb[-1:, :]
        rows = []
        for h in hs:
            lib_rows = p - h
            if lib_rows < embedding_dim + 1:
                continue
            pred = oracle.simplex_point_predictions(
                emb[:lib_rows], x[shift + h : shift + h + lib_rows], query
            )
            rows.append((sid, int(h), float(pred[0])))
        return pd.DataFrame(rows, columns=cols)

    from ccm_spark.functions.partitioning import apply_per_key

    return apply_per_key(series, "series_id", run_series, FORECAST_FLEET_SCHEMA)


NONLINEARITY_FLEET_SCHEMA = (
    "series_id long, best_theta double, best_skill double, "
    "linear_skill double, nonlinear boolean"
)


def smap_nonlinearity_fleet(
    series: DataFrame,
    thetas: list[float] | None = None,
    embedding_dim: int = 3,
    tau: int = 1,
    value_col: str = "value",
) -> DataFrame:
    """Fleet-mode nonlinearity screening: one S-map theta-scan verdict
    per series of a ``(series_id, t, value)`` relation — the pre-filter a
    million-series corpus runs BEFORE paying for CCM pairs (state-
    dependence is a prerequisite for cross mapping to mean anything).

    The whole theta grid runs INSIDE each series' ``applyInPandas`` task
    (fastpath shape: one shuffle on series_id into one balanced range
    partition per core, numpy kernels in-task); emits one verdict row per
    series.
    """
    th = list(DEFAULT_THETAS) if thetas is None else [float(t) for t in thetas]
    if 0.0 not in th:
        raise ValueError("smap_nonlinearity_fleet: thetas must include 0.0")

    def run_series(pdf: pd.DataFrame) -> pd.DataFrame:
        from ccm_spark import oracle

        pdf = pdf.sort_values("t")
        x = pdf[value_col].to_numpy(dtype=np.float64)
        sid = int(pdf["series_id"].iloc[0])
        skills = [
            (t, oracle.smap_forecast_skill(x, t, embedding_dim, tau)) for t in th
        ]
        best_theta, best_skill = max(skills, key=lambda p: (p[1], -p[0]))
        linear = dict(skills)[0.0]
        return pd.DataFrame(
            [
                (
                    sid,
                    float(best_theta),
                    float(best_skill),
                    float(linear),
                    bool(best_theta > 0 and best_skill > linear),
                )
            ],
            columns=[
                "series_id",
                "best_theta",
                "best_skill",
                "linear_skill",
                "nonlinear",
            ],
        )

    from ccm_spark.functions.partitioning import apply_per_key

    return apply_per_key(series, "series_id", run_series, NONLINEARITY_FLEET_SCHEMA)


def benjamini_hochberg(
    pvals: DataFrame,
    alpha: float = 0.05,
    p_col: str = "p_value",
    group_cols: "list[str] | None" = None,
    tiebreak_cols: "list[str] | None" = None,
) -> DataFrame:
    """Benjamini-Hochberg FDR control over a fleet of p-values — the
    multiple-testing step a screening workflow MUST run before
    thresholding: :func:`ccm_significance_fleet` over thousands of pairs
    emits thousands of raw p-values, and keeping every ``p <= alpha``
    would admit ~``alpha * n_pairs`` false causal links by construction
    (the r6 verdict's missing statistical step).

    Emits every input row plus ``bh_rank`` (ascending p), ``q_value``
    (the BH step-up adjusted p: ``min_{j>=i} p_(j) * m / j``, clamped to
    1), and ``keep_fdr`` (``q_value <= alpha`` — identical to the
    classic "largest i with p_(i) <= i*alpha/m" rejection set). Tied
    p-values share one q_value, so the verdict never depends on the
    tiebreak order; pass ``tiebreak_cols`` to also make ``bh_rank``
    deterministic for hash-stable output.

    ``group_cols`` applies the correction WITHIN each group (e.g. per
    ``direction``, treating each sweep as its own family).

    Scale: two window passes (rank ascending, running-min descending)
    over the P-VALUE relation — one row per screened pair, already the
    reduced output of the fleet kernels, millions of rows where the
    points relation is TBs. Ungrouped, the global window is a single
    sorted task over those rows; if a fleet ever screens enough pairs
    for that to matter, group by a natural family key (direction, study,
    shard) — the statistically correct unit anyway.
    """
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    group = list(group_cols) if group_cols else []
    ties = [F.col(c).asc() for c in (tiebreak_cols or [])]
    order = [F.col(p_col).asc(), *ties]
    w_rank = Window.partitionBy(*group).orderBy(*order)
    w_all = Window.partitionBy(*group)
    # running min of p*m/rank from the WORST p downward = the step-up min
    w_back = (
        Window.partitionBy(*group)
        .orderBy(F.col("bh_rank").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = pvals.withColumn("bh_rank", F.row_number().over(w_rank)).withColumn(
        "_m", F.count("*").over(w_all)
    )
    return (
        ranked.withColumn(
            "_raw_q", F.col(p_col) * F.col("_m") / F.col("bh_rank")
        )
        .withColumn("q_value", F.least(F.min("_raw_q").over(w_back), F.lit(1.0)))
        .withColumn("keep_fdr", F.col("q_value") <= F.lit(alpha))
        .drop("_m", "_raw_q")
    )
