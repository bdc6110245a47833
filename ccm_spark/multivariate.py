"""Multivariate (block) cross mapping — generalized embeddings from
several observables.

The reference is strictly univariate (one series embeds, the other is
predicted — lib/ccm.ex:48-74); real systems often expose SEVERAL
observables, and Deyle & Sugihara 2011's generalized embedding theorems
license manifolds built from mixed lags of any of them (rEDM's
``block_lnlp`` surface). This module is that extension: embed
``embedding_dim`` lags of EACH chosen observable (stacked block), then
run the untouched cross-map kernel chain — sampling, kNN, simplex
weights, guarded Pearson, convergence slope — against any target
observable. With a single embed column the block reduces BIT-FOR-BIT to
the univariate path (test-pinned), so every univariate pin transfers.

Scale shape: the library-size ladder fans out like the surrogate sweep
(`significance.py`) — a spread grid of lib_size cells, the block
broadcast once per executor, one vectorised kernel per cell, scalars
back to the driver; the distance matrix is computed once per TASK, so
grouping several cells per task (the spread default) amortises it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ccm_spark.config import CCMConfig
from ccm_spark import oracle


def block_cross_map(
    spark,
    block: dict,
    target_col: str,
    embed_cols: list[str],
    config: CCMConfig | None = None,
) -> dict:
    """Cross-map skill of predicting ``target_col`` from the generalized
    embedding of ``embed_cols``, over the full library-size ladder, with
    the R3 convergence verdict — the multivariate twin of
    ``CCM.cross_map``.

    ``block`` maps column name -> equal-length series. The effective
    embedding dimension is ``embedding_dim * len(embed_cols)`` (used for
    the k = dim+1 simplex neighborhood); the ladder, bootstrap sampling,
    and statistics are the univariate machinery unchanged.
    """
    cfg = config if config is not None else CCMConfig()
    if target_col not in block:
        raise ValueError(f"block_cross_map: unknown target {target_col!r}")
    for c in embed_cols:
        if c not in block:
            raise ValueError(f"block_cross_map: unknown embed column {c!r}")
    if not embed_cols:
        raise ValueError("block_cross_map: embed_cols must be non-empty")
    series = {k: np.asarray(v, dtype=np.float64) for k, v in block.items()}
    lengths = {len(v) for v in series.values()}
    if len(lengths) != 1:
        raise ValueError(f"block_cross_map: unequal column lengths {lengths}")
    n = lengths.pop()

    emb = oracle.block_embedding(
        [series[c] for c in embed_cols], cfg.embedding_dim, cfg.tau
    )
    tgt = oracle.adjusted_target(series[target_col], cfg.embedding_dim, cfg.tau)
    eff_dim = cfg.embedding_dim * len(embed_cols)
    lib_sizes = cfg.resolved_lib_sizes(n)
    num_samples, seed = cfg.num_samples, cfg.seed
    radius = cfg.exclusion_radius

    sc = spark.sparkContext
    bc = sc.broadcast((emb, tgt))

    def run(batches):
        from ccm_spark import oracle as _o

        bemb, btgt = bc.value
        libs = [int(lib) for pdf in batches for lib in pdf["lib_size"]]
        if not libs:
            return
        yield pd.DataFrame(
            _o.cross_map_ladder(
                bemb, btgt, libs, num_samples, 0, seed, eff_dim, radius
            ),
            columns=["lib_size", "skill"],
        )

    from ccm_spark.functions.partitioning import spread

    grid = [(int(lib),) for lib in lib_sizes]
    grid_df = spread(spark.createDataFrame(grid, "lib_size long"), "lib_size")
    rows = grid_df.mapInPandas(run, "lib_size long, skill double").collect()
    results = sorted((r.lib_size, r.skill) for r in rows)
    ls = np.array([r[0] for r in results], dtype=np.float64)
    cs = np.array([r[1] for r in results], dtype=np.float64)
    slope, convergent = oracle.ols_slope(ls, cs)
    return {
        "target": target_col,
        "embed_cols": list(embed_cols),
        "effective_dim": eff_dim,
        "results": [(int(a), float(b)) for a, b in results],
        "slope": float(slope),
        "convergent": bool(convergent),
    }


def multispatial_ccm(
    spark,
    series: DataFrame,
    config: CCMConfig | None = None,
    direction: str = "x_causes_y",
    max_points: int = 100_000,
) -> dict:
    """Multispatial CCM (Clark et al. 2015, Ecology: "Spatial
    convergent cross mapping to detect causal relationships from short
    time series"): one causal verdict from MANY SHORT replicates of the
    same system — field plots, patients, sensors — none long enough for
    CCM alone. Each replicate embeds SEPARATELY (no embedding vector
    spans a replicate boundary), the (state, target) pairs pool into one
    library universe, and the untouched kernel chain — seeded bootstrap
    library draws over POOLED rows, kNN, simplex, guarded Pearson, R3
    slope — runs over the ladder resolved on the pooled size. With a
    single replicate this reduces BIT-FOR-BIT to ``oracle.cross_map`` on
    that series (test-pinned), so every univariate pin transfers.

    Input: a long-form ``(replicate_id, t, x, y)`` relation. Replicates
    too short to embed (< (E-1)*tau + 2 points) are dropped and counted
    in the result.

    Scale shape (r08: NO pooled driver collect anywhere): each replicate
    embeds in a grouped Arrow kernel (``applyInPandas`` by
    replicate_id); global pooled row indices come from replicate-level
    offsets (a cumulative sum over the one-row-per-REPLICATE count
    relation — the only thing the driver ever holds); and each ladder
    step is one ``applyInPandas`` group that receives the pooled rows
    through a shuffle and runs the untouched numpy kernel. ``max_points``
    now guards the PER-TASK pool materialisation (each lib_size task
    holds one copy of the pooled block — executor memory, not driver
    memory), so it can sit orders of magnitude above the old
    driver-collect bound; beyond PRECOMPUTE_DIST_MAX_P pooled rows the
    per-sample distance fallback applies inside each task.

    CAVEAT on the ``convergent`` flag: R3's threshold is an ABSOLUTE
    slope per library-size unit (reference parity, > 0.001), calibrated
    for single-series ladders of tens-to-hundreds of points. A pooled
    ladder spans the whole pool, so the same skill GAIN spreads over a
    longer lib axis and the slope dilutes — judge pooled convergence on
    the skill curve (``results``) or restrict ``lib_sizes`` to the span
    a single replicate's ladder would cover.
    """
    import pyspark.sql.functions as F

    from ccm_spark.functions.partitioning import spread

    if direction not in ("x_causes_y", "y_causes_x"):
        raise ValueError(f"multispatial_ccm: unknown direction {direction!r}")
    cfg = config if config is not None else CCMConfig()
    min_len = (cfg.embedding_dim - 1) * cfg.tau + 2
    emb_dim, tau = cfg.embedding_dim, cfg.tau
    e_cols = [f"e{j}" for j in range(emb_dim)]
    emb_schema = (
        "replicate_id long, p long, "
        + ", ".join(f"{c} double" for c in e_cols)
        + ", tgt double"
    )

    def embed_rep(pdf):
        # (t, x, y), not t alone: sort_values is unstable, so duplicate
        # timestamps would embed in shuffle-dependent order — the old
        # driver-side sorted() ordered full tuples; keep that contract
        pdf = pdf.sort_values(["t", "x", "y"])
        x = pdf["x"].to_numpy(dtype=np.float64)
        y = pdf["y"].to_numpy(dtype=np.float64)
        if len(x) < min_len:
            return pd.DataFrame(
                {"replicate_id": [], "p": [], **{c: [] for c in e_cols}, "tgt": []}
            )
        source, target = (y, x) if direction == "x_causes_y" else (x, y)
        emb = oracle.time_delay_embedding(source, emb_dim, tau)
        tgt = oracle.adjusted_target(target, emb_dim, tau)
        out = {"replicate_id": pdf["replicate_id"].iloc[0], "p": np.arange(len(tgt))}
        for j, c in enumerate(e_cols):
            out[c] = emb[:, j]
        out["tgt"] = tgt
        return pd.DataFrame(out)

    emb_rel = (
        spread(series.select("replicate_id", "t", "x", "y"), "replicate_id")
        .groupBy("replicate_id")
        .applyInPandas(embed_rep, emb_schema)
        .persist()
    )
    # the ONLY driver-side relation: one row per REPLICATE (never per
    # point) — cumulative offsets turn per-replicate positions into the
    # global pooled index the seeded sampling is defined over
    counts = sorted(
        (r.replicate_id, r.c)
        for r in emb_rel.groupBy("replicate_id").agg(F.count("*").alias("c")).collect()
    )
    n_embedded = len(counts)
    if n_embedded == 0:
        emb_rel.unpersist()
        raise ValueError("multispatial_ccm: no replicate long enough to embed")
    n_input_reps = series.select("replicate_id").distinct().count()
    n_dropped = n_input_reps - n_embedded
    total = int(sum(c for _, c in counts))
    if total > max_points:
        emb_rel.unpersist()
        raise ValueError(
            f"multispatial_ccm: {total} pooled points exceeds "
            f"max_points={max_points} — each ladder task materialises one "
            "copy of the pooled block (executor memory); raise the cap to "
            "your executor budget, or use the per-pair fleet "
            "(fastpath/network) when replicates are long enough alone"
        )
    offsets, acc = {}, 0
    for rep, c in counts:
        offsets[rep] = acc
        acc += int(c)
    off_df = spark.createDataFrame(
        [(int(r), int(o)) for r, o in offsets.items()], "replicate_id long, off long"
    )
    pooled = emb_rel.join(F.broadcast(off_df), "replicate_id").select(
        (F.col("off") + F.col("p")).alias("idx"), *e_cols, "tgt"
    )

    # resolve the ladder on the pooled "virtual series" length so a
    # single replicate reduces exactly to cross_map on that series
    pooled_n = total + (emb_dim - 1) * tau
    lib_sizes = cfg.resolved_lib_sizes(pooled_n)
    dir_id = dict(oracle.DIRECTIONS)[direction]
    # exclusion_radius deliberately NOT threaded here: pooled-replicate
    # row indices are not temporal distances across replicate
    # boundaries, so a Theiler window on them would exclude the wrong
    # neighbours; apply the window per replicate upstream if needed
    num_samples, seed = cfg.num_samples, cfg.seed

    def run_lib(key, pdf):
        from ccm_spark import oracle as _o

        lib = int(key[0])
        pdf = pdf.sort_values("idx")
        bemb = pdf[e_cols].to_numpy(dtype=np.float64)
        btgt = pdf["tgt"].to_numpy(dtype=np.float64)
        return pd.DataFrame(
            _o.cross_map_ladder(bemb, btgt, [lib], num_samples, dir_id, seed, emb_dim),
            columns=["lib_size", "skill"],
        )

    grid = spark.createDataFrame([(int(l),) for l in lib_sizes], "lib_size long")
    fanout = spread(pooled.crossJoin(F.broadcast(grid)), "lib_size")
    res = (
        fanout.groupBy("lib_size")
        .applyInPandas(run_lib, "lib_size long, skill double")
        .collect()
    )
    emb_rel.unpersist()
    results = sorted((r.lib_size, r.skill) for r in res)
    ls = np.array([r[0] for r in results], dtype=np.float64)
    cs = np.array([r[1] for r in results], dtype=np.float64)
    slope, convergent = oracle.ols_slope(ls, cs)
    return {
        "direction": direction,
        "n_replicates": n_embedded,
        "n_dropped": n_dropped,
        "pooled_points": total,
        "results": [(int(a), float(b)) for a, b in results],
        "slope": float(slope),
        "convergent": bool(convergent),
    }


def smap_interactions(
    spark,
    block: dict,
    target_col: str,
    embed_cols: list[str],
    theta: float = 2.0,
    chunk: int = 64,
) -> DataFrame:
    """Time-varying interaction strengths via S-map coefficients (Deyle
    et al. 2016): predict ``target_col``(t+1) from the lag-0 state
    vector of ``embed_cols``; the locally-weighted regression around
    each time point yields per-time coefficients c_j(t) ≈ the partial
    derivative ∂target(t+1)/∂x_j(t) — the interaction of x_j on the
    target AT that state, the quantity ecosystem/market EDM papers
    track through time. theta localises the map (theta=0 collapses to
    one global linear fit whose coefficients are constant).

    Emits the long-form relation (t, term, coefficient) with term ∈
    {"intercept"} ∪ embed_cols, t indexing the state time (the
    prediction is of t+1). Distributed by CHUNKS of time points: the
    (state, outcome) arrays broadcast once per executor, each task
    computes only its chunk-to-library distance block (chunk x P, never
    P x P) and ``chunk`` weighted lstsq solves — the fan-out shape of
    every scan in :mod:`ccm_spark.significance`. Rows bit-match the
    driver kernel :func:`ccm_spark.oracle.smap_coefficients`
    (test-pinned)."""
    if not embed_cols:
        raise ValueError("smap_interactions: embed_cols must be non-empty")
    for c in list(embed_cols) + [target_col]:
        if c not in block:
            raise ValueError(f"smap_interactions: unknown column {c!r}")
    series = {k: np.asarray(v, dtype=np.float64) for k, v in block.items()}
    lengths = {len(v) for v in series.values()}
    if len(lengths) != 1:
        raise ValueError(f"smap_interactions: unequal column lengths {lengths}")
    n = lengths.pop()
    if n < len(embed_cols) + 3:
        raise ValueError("smap_interactions: series too short")
    emb = np.column_stack([series[c][:-1] for c in embed_cols])
    tgt = series[target_col][1:]
    p = emb.shape[0]
    terms = ["intercept", *embed_cols]

    sc = spark.sparkContext
    bc = sc.broadcast((emb, tgt))

    def run(batches):
        from ccm_spark import oracle as _o

        bemb, btgt = bc.value
        for pdf in batches:
            rows = []
            for start in pdf["start"]:
                start = int(start)
                idx = np.arange(start, min(start + chunk, p))
                coefs = _o.smap_coefficients(bemb, btgt, theta, idx)
                for row, i in enumerate(idx):
                    for j, term in enumerate(terms):
                        rows.append((int(i), term, float(coefs[row, j])))
            yield pd.DataFrame(rows, columns=["t", "term", "coefficient"])

    from ccm_spark.functions.partitioning import spread

    starts = [(s,) for s in range(0, p, chunk)]
    grid = spread(spark.createDataFrame(starts, "start long"), "start")
    return grid.mapInPandas(run, "t long, term string, coefficient double")


INTERACTIONS_FLEET_SCHEMA = (
    "pair_id long, t long, term string, coefficient double"
)


def smap_interactions_fleet(
    series: DataFrame,
    theta: float = 2.0,
    min_points: int = 30,
) -> DataFrame:
    """Fleet-mode :func:`smap_interactions` over a ``(pair_id, t, x, y)``
    corpus: per pair, the time-varying S-map coefficients of predicting
    y(t+1) from the (x, y)(t) state — (pair_id, t, term, coefficient)
    with term in {intercept, x, y}. The whole per-pair coefficient track
    runs INSIDE that pair's ``applyInPandas`` task (fastpath shape, one
    shuffle on pair_id); rows bit-match the single-pair operator per
    member (test-pinned); pairs shorter than ``min_points`` are dropped,
    not fatal. The monitoring companion to :func:`ccm_spark.network.
    ccm_network`: the network says WHICH edges exist, this tracks HOW
    HARD each drives through time."""
    cols = ["pair_id", "t", "term", "coefficient"]

    def run_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        from ccm_spark import oracle as _o

        pdf = pdf.sort_values("t")
        x = pdf["x"].to_numpy(dtype=np.float64)
        y = pdf["y"].to_numpy(dtype=np.float64)
        if len(x) < min_points:
            return pd.DataFrame({c: pd.Series(dtype="float64") for c in cols})
        pair_id = int(pdf["pair_id"].iloc[0])
        emb = np.column_stack([x[:-1], y[:-1]])
        coefs = _o.smap_coefficients(emb, y[1:], theta)
        rows = []
        for t in range(coefs.shape[0]):
            for j, term in enumerate(("intercept", "x", "y")):
                rows.append((pair_id, t, term, float(coefs[t, j])))
        return pd.DataFrame(rows, columns=cols)

    from ccm_spark.functions.partitioning import spread

    return (
        spread(series, "pair_id", factor=8)
        .groupBy("pair_id")
        .applyInPandas(run_pair, schema=INTERACTIONS_FLEET_SCHEMA)
    )


def multiview_forecast(
    spark,
    block: dict,
    target_col: str,
    embed_cols: list[str] | None = None,
    view_dim: int = 3,
    max_lag: int = 3,
    tau: int = 1,
    top_k: int | None = None,
    max_views: int = 500,
) -> dict:
    """Multiview embedding forecast (Ye & Sugihara 2016, "Information
    leverage in interconnected ecosystems"): enumerate every
    ``view_dim``-sized combination of lagged coordinates from the
    observable pool (each view must contain at least one lag-0
    coordinate), rank views by leave-one-out simplex skill ON THE LIBRARY
    HALF, and forecast the held-out half with the TOP sqrt(n_views)
    views' averaged predictions — the ensemble beats single-view
    embeddings on short noisy series by trading variance for the modest
    bias of averaging.

    Deterministic throughout: fixed first-half/second-half library split,
    stable ranking ties by view id. Scale shape: one spread grid row per
    view, coordinate arrays broadcast once, one numpy kernel per view;
    only (rank_skill, predictions) come back. ``max_views`` guards the
    combinatorial pool (C(cols*max_lag, view_dim) grows fast — cap and
    choose coordinates deliberately past it).
    """
    import itertools
    import math

    # default pool = ALL observables including the target's own lags
    # (standard multiview practice: the target's history is a legitimate
    # coordinate for forecasting it)
    cfg_cols = list(block) if embed_cols is None else list(embed_cols)
    for c in cfg_cols + [target_col]:
        if c not in block:
            raise ValueError(f"multiview_forecast: unknown column {c!r}")
    series = {k: np.asarray(v, dtype=np.float64) for k, v in block.items()}
    lengths = {len(v) for v in series.values()}
    if len(lengths) != 1:
        raise ValueError(f"multiview_forecast: unequal column lengths {lengths}")
    n = lengths.pop()

    pool = [(c, lag) for c in cfg_cols for lag in range(max_lag)]
    views = [
        v
        for v in itertools.combinations(pool, view_dim)
        if any(lag == 0 for _, lag in v)
    ]
    if not views:
        raise ValueError("multiview_forecast: empty view pool")
    if len(views) > max_views:
        raise ValueError(
            f"multiview_forecast: {len(views)} candidate views exceeds "
            f"max_views={max_views}; restrict embed_cols/max_lag/view_dim"
        )
    shift = (max_lag - 1) * tau
    p = n - shift - 1
    if p < 20:
        raise ValueError("multiview_forecast: series too short for the pool")
    lib_rows = p // 2
    # aligned coordinate matrix per (col, lag): row i = series[col][i + shift - lag*tau]
    coords = {
        (c, lag): series[c][shift - lag * tau : shift - lag * tau + p]
        for c, lag in pool
    }
    target = series[target_col][shift + 1 : shift + 1 + p]

    sc = spark.sparkContext
    bc = sc.broadcast((coords, target, views))

    def run(batches):
        from ccm_spark import oracle

        bcoords, btarget, bviews = bc.value
        tgt_lib = btarget[:lib_rows]
        for pdf in batches:
            rows = []
            for vid in pdf["view_id"]:
                vid = int(vid)
                emb = np.column_stack([bcoords[key] for key in bviews[vid]])
                emb_lib, emb_pred = emb[:lib_rows], emb[lib_rows:]
                loo = oracle.simplex_point_predictions(
                    emb_lib, tgt_lib, emb_lib, exclude_self=True
                )
                rank_skill = oracle.pearson(btarget[:lib_rows], loo)
                preds = oracle.simplex_point_predictions(emb_lib, tgt_lib, emb_pred)
                rows.append((vid, float(rank_skill), [float(v) for v in preds]))
            yield pd.DataFrame(
                rows, columns=["view_id", "rank_skill", "predictions"]
            )

    from ccm_spark.functions.partitioning import spread

    grid_df = spread(
        spark.createDataFrame([(i,) for i in range(len(views))], "view_id long"),
        "view_id",
    )
    rows = grid_df.mapInPandas(
        run, "view_id long, rank_skill double, predictions array<double>"
    ).collect()
    by_view = {r.view_id: r for r in rows}
    ranked = sorted(
        range(len(views)), key=lambda i: (-by_view[i].rank_skill, i)
    )
    k = top_k if top_k is not None else max(1, math.isqrt(len(views)))
    chosen = ranked[:k]
    ens = np.mean(
        [np.asarray(by_view[i].predictions) for i in chosen], axis=0
    )
    actual = target[lib_rows:]
    from ccm_spark import oracle as _o

    ensemble_skill = _o.pearson(actual, ens)
    best_single = by_view[ranked[0]]
    single_pred_skill = _o.pearson(
        actual, np.asarray(best_single.predictions)
    )
    return {
        "target": target_col,
        "n_views": len(views),
        "top_k": k,
        "views": [list(views[i]) for i in chosen],
        "rank_skills": [float(by_view[i].rank_skill) for i in chosen],
        "ensemble_skill": float(ensemble_skill),
        "best_single_view_skill": float(single_pred_skill),
    }
