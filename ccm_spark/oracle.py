"""Seeded numpy oracle for CCM — the unit-test ground truth.

This module re-states the reference's semantics (sragli/ccm, lib/ccm.ex) as
vectorised numpy, with the rebuild's deterministic sampling spec. It is the
single source of truth the Spark plan is tested against (tests compare to
~1e-9; bit equality is not expected because aggregation order differs).

Semantics covered (SURVEY.md §2 operator ids, reference file:line):
  E1 time-delay embedding          lib/ccm.ex:99-107  (forward lags)
  A1 target alignment              lib/ccm.ex:119
  S1 bootstrap library sampling    lib/ccm.ex:109-117 (guard L>=P -> 0.0)
  S2 prediction-set complement     lib/ccm.ex:121-124 (guard |pred|<2 -> 0.0)
  J1/D1 brute-force euclidean kNN  lib/ccm.ex:151-155,179-185
  K1 top-k, k=min(E+1,L)           lib/ccm.ex:146-160
  W1 simplex weights               lib/ccm.ex:246-262 (1.0 if d<1e-12, else
                                    exp(-d/(min_d+1e-8)))
  P1 weighted prediction           lib/ccm.ex:142-177 (sum w==0 -> 0.0)
  R1 Pearson correlation           lib/ccm.ex:187-213 (n<2 or den==0 -> 0.0)
  R2 bootstrap mean                lib/ccm.ex:59-67   (sum/num_samples)
  R3 OLS-slope convergence         lib/ccm.ex:215-244 (n<3 or den==0 -> False,
                                    convergent iff slope > 0.001)
  O1 direction dispatch            lib/ccm.ex:48-53   (x_causes_y embeds Y,
                                    predicts X)

Deliberate deviation from the reference: sampling is the deterministic LCG
rank of :mod:`ccm_spark.rng` (the reference uses an unseeded RNG,
lib/ccm.ex:117, which cannot be replayed); kNN distance ties break by
ascending embedding index (the reference keeps unseeded sample order).
"""

from __future__ import annotations

import numpy as np

from ccm_spark.config import CCMConfig
from ccm_spark.rng import lcg_rank_key

DIRECTIONS = (("x_causes_y", 0), ("y_causes_x", 1))


def time_delay_embedding(series: np.ndarray, embedding_dim: int, tau: int) -> np.ndarray:
    """E1: row i = [s[i + j*tau] for j in 0..E-1], i in 0..P-1, P = N-(E-1)*tau."""
    n = len(series)
    p = n - (embedding_dim - 1) * tau
    if p <= 0:
        return np.empty((0, embedding_dim))
    idx = np.arange(p)[:, None] + tau * np.arange(embedding_dim)[None, :]
    return series[idx]


def adjusted_target(target: np.ndarray, embedding_dim: int, tau: int) -> np.ndarray:
    """A1: target[i + (E-1)*tau] pairs with embedding row i."""
    return target[(embedding_dim - 1) * tau :]


#: relative tolerance for the zero-variance guard. The reference checks the
#: denominator for exact zero (lib/ccm.ex:212) in Elixir's arithmetic; in a
#: distributed engine the sum order is nondeterministic, so an exactly-zero
#: variance leaves a +-1e-10-ish cancellation residue that differs by engine.
#: Treating variance below eps * max(sum_sq, 1) as zero makes the guard
#: decision identical across numpy / Spark / DuckDB.
VAR_EPS = 1e-9


def pearson(a: np.ndarray, b: np.ndarray) -> float:
    """R1 with the reference's guards: <2 pairs -> 0.0, zero variance -> 0.0."""
    n = len(a)
    if n < 2:
        return 0.0
    sa, sb = a.sum(), b.sum()
    saa, sbb, sab = (a * a).sum(), (b * b).sum(), (a * b).sum()
    va = n * saa - sa * sa
    vb = n * sbb - sb * sb
    if va <= VAR_EPS * max(saa, 1.0) or vb <= VAR_EPS * max(sbb, 1.0):
        return 0.0
    return float((n * sab - sa * sb) / (np.sqrt(va) * np.sqrt(vb)))


def ols_slope(x: np.ndarray, y: np.ndarray) -> tuple[float, bool]:
    """R3: (slope, convergent). <3 points or zero denominator -> (0.0, False)."""
    n = len(x)
    if n < 3:
        return 0.0, False
    sx, sy = x.sum(), y.sum()
    sxx, sxy = (x * x).sum(), (x * y).sum()
    den = n * sxx - sx * sx
    if den == 0:
        return 0.0, False
    slope = float((n * sxy - sx * sy) / den)
    return slope, slope > 0.001


def library_split(
    p: int, lib_size: int, sample_id: int, dir_id: int, seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """S1/S2 deterministic split of point indices 0..P-1 into (library, preds).

    Order key = LCG rank (ties by index); the first ``lib_size`` ranked
    indices form the library, the complement is the prediction set.
    """
    idx = np.arange(p)
    key = lcg_rank_key(idx, sample_id, lib_size, dir_id, seed)
    order = np.lexsort((idx, key))  # sort by (key, idx)
    return np.sort(order[:lib_size]), np.sort(order[lib_size:])


#: precompute the full P x P distance matrix once per direction when the
#: series is at most this long (memory: MAX^2 * 8 bytes = 128 MB at 4000,
#: plus 64 MB for the int32 neighbour order). Bootstrap samples then reduce
#: to submatrix selection — the distance arithmetic runs once instead of
#: once per (lib_size, sample). Longer series fall back to per-sample
#: distances.
PRECOMPUTE_DIST_MAX_P = 4000


def _pairwise_distances(emb: np.ndarray) -> np.ndarray:
    diff = emb[:, None, :] - emb[None, :, :]
    return np.sqrt((diff * diff).sum(axis=2))


def cross_map_sample(
    emb: np.ndarray,
    tgt: np.ndarray,
    lib_size: int,
    sample_id: int,
    dir_id: int,
    seed: int,
    embedding_dim: int,
    dist_matrix: np.ndarray | None = None,
    exclusion_radius: int = 0,
) -> float:
    """One bootstrap sample -> Pearson skill (0.0 on any degenerate guard).

    ``exclusion_radius`` (the Theiler window — an rEDM-style extension,
    no reference analogue): library points within that many time steps of
    the query are masked to +inf distance, so they can never enter the
    bounding simplex; an all-masked query gets weight 0 everywhere and
    predicts 0.0 (P1's existing zero-weight-sum guard)."""
    p = emb.shape[0]
    if lib_size >= p:
        return 0.0
    lib_idx, pred_idx = library_split(p, lib_size, sample_id, dir_id, seed)
    if len(pred_idx) < 2:
        return 0.0
    if dist_matrix is not None:
        d = dist_matrix[np.ix_(pred_idx, lib_idx)]
    else:
        lib = emb[lib_idx]  # (L, E)
        queries = emb[pred_idx]  # (Q, E)
        # J1/D1: all-pairs euclidean distances (Q, L)
        d = np.sqrt(((queries[:, None, :] - lib[None, :, :]) ** 2).sum(axis=2))
    if exclusion_radius > 0:
        d = np.where(
            np.abs(pred_idx[:, None] - lib_idx[None, :]) <= exclusion_radius,
            np.inf,
            d,
        )
    k = min(embedding_dim + 1, lib_size)
    # K1: k smallest per query, ties by ascending library position
    nn = np.argsort(d, axis=1, kind="stable")[:, :k]  # (Q, k)
    nd = np.take_along_axis(d, nn, axis=1)
    # W1
    min_d = nd.min(axis=1, keepdims=True)
    w = np.where(nd < 1e-12, 1.0, np.exp(-nd / (min_d + 1e-8)))
    if exclusion_radius > 0:
        # masked neighbours contribute nothing; an all-inf row would
        # otherwise produce exp(-inf/inf) = nan
        w = np.where(np.isinf(nd), 0.0, w)
    # P1
    neighbor_targets = tgt[lib_idx[nn]]
    wsum = w.sum(axis=1)
    predicted = np.where(wsum == 0, 0.0, (w * neighbor_targets).sum(axis=1) / np.where(wsum == 0, 1.0, wsum))
    actual = tgt[pred_idx]
    return pearson(actual, predicted)


def neighbor_order(dist_matrix: np.ndarray) -> np.ndarray:
    """Every point's neighbour order: row i lists all point indices by
    ascending (distance to i, index) — the stable argsort of each row of
    the distance matrix, as int32."""
    return np.argsort(dist_matrix, axis=1, kind="stable").astype(np.int32)


def _gather_knn(
    dist_matrix: np.ndarray,
    pred: np.ndarray,
    lib: np.ndarray,
    k: int,
    exclusion_radius: int,
) -> tuple[np.ndarray, np.ndarray]:
    """K1 by gather + stable argsort, as in :func:`cross_map_sample`:
    queries ``pred`` (..., 1) against sorted libraries ``lib`` (..., L) ->
    the k nearest (distances, point indices) per query, ties by ascending
    library position, Theiler-masked points at +inf."""
    d = dist_matrix[pred, lib]
    if exclusion_radius > 0:
        d = np.where(np.abs(pred - lib) <= exclusion_radius, np.inf, d)
    nn = np.argsort(d, axis=-1, kind="stable")[..., :k]
    return (
        np.take_along_axis(d, nn, axis=-1),
        np.take_along_axis(np.broadcast_to(lib, d.shape), nn, axis=-1),
    )


def _walk_knn(
    dist_matrix: np.ndarray,
    nbr_order: np.ndarray,
    pred_idx: np.ndarray,
    lib_idx: np.ndarray,
    k: int,
    exclusion_radius: int,
    depth: int,
) -> tuple[np.ndarray, np.ndarray]:
    """K1 by walking each query's neighbour order: its k nearest library
    points are the first k admissible library members met in its row of
    ``nbr_order``. The walk covers the first ``depth`` positions; a row
    with fewer than k admissible finite-distance hits there falls back to
    :func:`_gather_knn`. Returns (S, Q, k) distances and point indices."""
    s_n, q_n = pred_idx.shape
    in_lib = np.zeros((s_n, dist_matrix.shape[0]), dtype=bool)
    in_lib[np.arange(s_n)[:, None], lib_idx] = True
    cand = nbr_order[:, :depth][pred_idx]  # (S, Q, T)
    hit = in_lib[np.arange(s_n)[:, None, None], cand]
    if exclusion_radius > 0:
        hit &= np.abs(cand - pred_idx[:, :, None]) > exclusion_radius
    seen = np.cumsum(hit, axis=2, dtype=np.int32)
    ok = (seen[:, :, -1] >= k).ravel()
    rows = np.flatnonzero(ok)
    nn_ok = cand[hit & (seen <= k) & ok.reshape(s_n, q_n, 1)].reshape(-1, k)
    nd_ok = dist_matrix[pred_idx.ravel()[rows, None], nn_ok]
    # a non-finite hit means the row has fewer than k finite candidates;
    # the gather ranks those after the finite ones together with the
    # Theiler-masked (+inf) points, which the walk skips: gather the row
    finite = np.isfinite(nd_ok).all(axis=1)
    ok[rows[~finite]] = False
    nd = np.empty((s_n * q_n, k))
    nn = np.empty((s_n * q_n, k), dtype=np.intp)
    nd[rows[finite]], nn[rows[finite]] = nd_ok[finite], nn_ok[finite]
    miss = np.flatnonzero(~ok)
    if len(miss):
        s_m, q_m = np.divmod(miss, q_n)
        nd[miss], nn[miss] = _gather_knn(
            dist_matrix, pred_idx[s_m, q_m][:, None], lib_idx[s_m], k,
            exclusion_radius,
        )
    return nd.reshape(s_n, q_n, k), nn.reshape(s_n, q_n, k)


def cross_map_lib_batch(
    emb: np.ndarray,
    tgt: np.ndarray,
    lib_size: int,
    num_samples: int,
    dir_id: int,
    seed: int,
    embedding_dim: int,
    dist_matrix: np.ndarray,
    exclusion_radius: int = 0,
    nbr_order: np.ndarray | None = None,
) -> np.ndarray:
    """All bootstrap samples of one lib_size in a single vectorised pass.

    Bit-identical to stacking :func:`cross_map_sample` over the samples
    (same distances, same tie rule, same Theiler-window masking, same W1 /
    P1 / R1 expressions) — this removes the per-sample Python loop that
    dominated the fleet path. Requires the precomputed distance matrix
    (all samples share it; the P > PRECOMPUTE_DIST_MAX_P regime keeps the
    per-sample loop).

    K1 walks the neighbour order (:func:`neighbor_order`, computed here
    unless passed in) instead of sorting all L library distances per
    query: a list sorted by (distance, point index) keeps that order when
    restricted to one sample's library, and since the library is sorted
    by index that order is exactly the per-sample tie rule, so a query's
    k nearest are the first k admissible library points met in its row.
    The k-th hit is expected near position kP/L, so the walk covers the
    first T = min(P, ceil(2kP/L) + 16) positions; rows with fewer than k
    admissible finite-distance hits there (Theiler window, NaN input, an
    unlucky draw), and every row of a lib size with T >= L, take the
    gather + stable argsort of :func:`cross_map_sample`.
    Returns the (num_samples,) skill vector, 0.0 on degenerate guards.
    """
    p = emb.shape[0]
    if lib_size >= p or (p - lib_size) < 2:
        return np.zeros(num_samples)
    idx = np.arange(p)
    samples = np.arange(num_samples)
    key = lcg_rank_key(idx[None, :], samples[:, None], lib_size, dir_id, seed)
    # (key, idx) lexsort == stable argsort of key*P + idx (key < 2^31, so
    # the combined value stays far below 2^63)
    order = np.argsort(key * p + idx[None, :], axis=1, kind="stable")
    lib_idx = np.sort(order[:, :lib_size], axis=1)  # (S, L)
    pred_idx = np.sort(order[:, lib_size:], axis=1)  # (S, Q)
    q_n = pred_idx.shape[1]
    k = min(embedding_dim + 1, lib_size)
    depth = min(p, -(-2 * k * p // lib_size) + 16)
    if depth < lib_size:  # K1
        if nbr_order is None:
            nbr_order = neighbor_order(dist_matrix)
        nd, global_nn = _walk_knn(
            dist_matrix, nbr_order, pred_idx, lib_idx, k, exclusion_radius, depth
        )
    else:
        nd, global_nn = _gather_knn(
            dist_matrix, pred_idx[:, :, None], lib_idx[:, None, :], k,
            exclusion_radius,
        )
    min_d = nd.min(axis=2, keepdims=True)
    w = np.where(nd < 1e-12, 1.0, np.exp(-nd / (min_d + 1e-8)))  # W1
    if exclusion_radius > 0:
        w = np.where(np.isinf(nd), 0.0, w)
    neighbor_targets = tgt[global_nn]  # (S, Q, k)
    wsum = w.sum(axis=2)
    predicted = np.where(  # P1
        wsum == 0,
        0.0,
        (w * neighbor_targets).sum(axis=2) / np.where(wsum == 0, 1.0, wsum),
    )
    actual = tgt[pred_idx]  # (S, Q)
    # R1 batched (same raw-sums form and guards as pearson())
    sa, sb = actual.sum(axis=1), predicted.sum(axis=1)
    saa = (actual * actual).sum(axis=1)
    sbb = (predicted * predicted).sum(axis=1)
    sab = (actual * predicted).sum(axis=1)
    va = q_n * saa - sa * sa
    vb = q_n * sbb - sb * sb
    degen = (va <= VAR_EPS * np.maximum(saa, 1.0)) | (
        vb <= VAR_EPS * np.maximum(sbb, 1.0)
    )
    den = np.sqrt(np.where(degen, 1.0, va)) * np.sqrt(np.where(degen, 1.0, vb))
    return np.where(degen, 0.0, (q_n * sab - sa * sb) / den)


def cross_map_ladder(
    emb: np.ndarray,
    tgt: np.ndarray,
    lib_sizes: list[int],
    num_samples: int,
    dir_id: int,
    seed: int,
    embedding_dim: int,
    exclusion_radius: int = 0,
) -> list[tuple[int, float]]:
    """R2 over a lib-size ladder for one embedding: [(lib_size, mean skill)].

    Up to PRECOMPUTE_DIST_MAX_P points, the distance matrix and the
    neighbour order are built once and every lib size runs
    :func:`cross_map_lib_batch` on them; longer embeddings loop over
    :func:`cross_map_sample` with per-sample distances."""
    if 0 < emb.shape[0] <= PRECOMPUTE_DIST_MAX_P:
        dist_matrix = _pairwise_distances(emb)
        nbr_order = neighbor_order(dist_matrix)

        def skills(lib_size):
            return cross_map_lib_batch(
                emb, tgt, lib_size, num_samples, dir_id, seed, embedding_dim,
                dist_matrix, exclusion_radius, nbr_order,
            )
    else:

        def skills(lib_size):
            return [
                cross_map_sample(
                    emb, tgt, lib_size, s, dir_id, seed, embedding_dim,
                    exclusion_radius=exclusion_radius,
                )
                for s in range(num_samples)
            ]

    # R2: the reference divides by num_samples (lib/ccm.ex:59-67)
    return [(ls, float(np.sum(skills(ls)) / num_samples)) for ls in lib_sizes]


def cross_map(
    x: np.ndarray, y: np.ndarray, config: CCMConfig, direction: str
) -> dict:
    """O1 + the full sweep for one direction. x_causes_y: embed Y, predict X."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    config.validate_series(len(x), len(y))
    dir_id = dict(DIRECTIONS)[direction]
    source, target = (y, x) if direction == "x_causes_y" else (x, y)
    emb = time_delay_embedding(source, config.embedding_dim, config.tau)
    tgt = adjusted_target(target, config.embedding_dim, config.tau)
    results = cross_map_ladder(
        emb, tgt, config.resolved_lib_sizes(len(x)), config.num_samples,
        dir_id, config.seed, config.embedding_dim, config.exclusion_radius,
    )
    ls = np.array([r[0] for r in results], dtype=np.float64)
    cs = np.array([r[1] for r in results], dtype=np.float64)
    slope, convergent = ols_slope(ls, cs)
    return {
        "direction": direction,
        "results": results,
        "slope": slope,
        "convergent": convergent,
    }


def bidirectional_ccm(x: np.ndarray, y: np.ndarray, config: CCMConfig) -> dict:
    """O2 (lib/ccm.ex:79-84)."""
    return {
        "x_causes_y": cross_map(x, y, config, "x_causes_y"),
        "y_causes_x": cross_map(x, y, config, "y_causes_x"),
    }


def block_embedding(
    columns: list[np.ndarray], embedding_dim: int, tau: int
) -> np.ndarray:
    """Generalized (multivariate) state-space embedding: ``embedding_dim``
    lags of EACH observable, horizontally stacked — row i is
    [c1[i..i+(E-1)tau], c2[i..], ...], total dimension E * len(columns).
    Deyle & Sugihara 2011 (generalized embedding theorems): mixed-lag
    coordinate maps are generically valid reconstructions, so cross-map
    machinery (kNN, simplex weights, Pearson) applies unchanged on the
    stacked block — :func:`cross_map_lib_batch` takes any (emb, tgt)."""
    if not columns:
        raise ValueError("block_embedding: need at least one column")
    parts = [
        time_delay_embedding(np.asarray(c, dtype=np.float64), embedding_dim, tau)
        for c in columns
    ]
    return np.hstack(parts)


def smap_forecast_skill(
    series: np.ndarray, theta: float, embedding_dim: int, tau: int
) -> float:
    """S-map (Sugihara 1994, "Nonlinear forecasting for the
    classification of natural time series"): one-step self-forecast skill
    using sequentially locally-weighted global linear maps. For each
    embedding point, every OTHER point is weighted by
    exp(-theta * d / d_mean) and a weighted least-squares linear map
    predicts the next value; theta=0 is the global autoregressive
    (linear) model, larger theta localises the map — skill RISING with
    theta is the operational signature of state-dependent (nonlinear)
    dynamics. Deterministic (no sampling)."""
    series = np.asarray(series, dtype=np.float64)
    src, tgt_series = series[:-1], series[1:]
    emb = time_delay_embedding(src, embedding_dim, tau)
    tgt = adjusted_target(tgt_series, embedding_dim, tau)
    p = emb.shape[0]
    if p < embedding_dim + 2:
        raise ValueError("smap_forecast_skill: series too short")
    d = _pairwise_distances(emb)
    preds = np.empty(p)
    design = np.hstack([np.ones((p, 1)), emb])
    for i in range(p):
        di = np.delete(d[i], i)
        rows = np.delete(design, i, axis=0)
        ys = np.delete(tgt, i)
        dbar = di.mean()
        w = np.exp(-theta * di / dbar) if dbar > 0 else np.ones_like(di)
        sw = np.sqrt(w)
        coef, *_ = np.linalg.lstsq(rows * sw[:, None], ys * sw, rcond=None)
        preds[i] = design[i] @ coef
    return pearson(preds, tgt)


def smap_coefficients(
    emb: np.ndarray,
    tgt: np.ndarray,
    theta: float,
    query_idx: np.ndarray | None = None,
) -> np.ndarray:
    """Per-point S-map regression COEFFICIENTS (Deyle et al. 2016,
    "Tracking and forecasting ecosystem interactions in real time"): for
    each query row i the locally-weighted least-squares linear map
    fitted around state i, returned as (len(query_idx), 1 + E) rows of
    ``[intercept, c_1..c_E]`` — c_j approximates the partial derivative
    of the target w.r.t. embedding coordinate j AT that state, i.e. the
    time-varying interaction strength. Same weighting and
    leave-self-out convention as :func:`smap_forecast_skill`
    (exp(-theta * d / d_mean), lstsq on sqrt-weighted rows);
    deterministic. Distances are computed only from the query rows to
    the library (len(idx) x P, never P x P), so a chunk of queries
    costs a chunk-sized matrix — the property the distributed form
    partitions on."""
    p = emb.shape[0]
    if p < emb.shape[1] + 2:
        raise ValueError("smap_coefficients: series too short")
    idx = np.arange(p) if query_idx is None else np.asarray(query_idx)
    design = np.hstack([np.ones((p, 1)), emb])
    diff = emb[idx][:, None, :] - emb[None, :, :]
    d = np.sqrt((diff * diff).sum(axis=2))  # (len(idx), P)
    out = np.empty((len(idx), design.shape[1]))
    for row, i in enumerate(idx):
        di = np.delete(d[row], i)
        rows = np.delete(design, i, axis=0)
        ys = np.delete(tgt, i)
        dbar = di.mean()
        w = np.exp(-theta * di / dbar) if dbar > 0 else np.ones_like(di)
        sw = np.sqrt(w)
        coef, *_ = np.linalg.lstsq(rows * sw[:, None], ys * sw, rcond=None)
        out[row] = coef
    return out


def simplex_point_predictions(
    emb_lib: np.ndarray,
    tgt_lib: np.ndarray,
    emb_pred: np.ndarray,
    exclude_self: bool = False,
) -> np.ndarray:
    """Pointwise simplex predictions of a target over a FIXED library —
    the deterministic forecasting core shared by the multiview ensemble:
    k = dim+1 nearest library points per query, the W1 weight rule
    (exp(-d/d_min), the same guards as :func:`cross_map_sample`), P1
    weighted mean. ``exclude_self=True`` is the leave-one-out ranking
    mode (emb_pred is emb_lib row-for-row; the self-match is masked).
    Returns one prediction per row of ``emb_pred``."""
    dim = emb_lib.shape[1]
    d = np.sqrt(
        ((emb_pred[:, None, :] - emb_lib[None, :, :]) ** 2).sum(axis=2)
    )
    if exclude_self:
        # leave-one-out ranking mode: emb_pred IS emb_lib row-for-row;
        # mask the self-match (distance 0 would copy the own target)
        np.fill_diagonal(d, np.inf)
    k = min(dim + 1, emb_lib.shape[0] - (1 if exclude_self else 0))
    if k < 1:
        raise ValueError("simplex_point_predictions: library too small")
    nn = np.argsort(d, axis=1, kind="stable")[:, :k]
    nd = np.take_along_axis(d, nn, axis=1)
    min_d = nd.min(axis=1, keepdims=True)
    w = np.where(nd < 1e-12, 1.0, np.exp(-nd / (min_d + 1e-8)))
    neighbor_targets = tgt_lib[nn]
    wsum = w.sum(axis=1)
    return np.where(
        wsum == 0,
        0.0,
        (w * neighbor_targets).sum(axis=1) / np.where(wsum == 0, 1.0, wsum),
    )
