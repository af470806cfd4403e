"""Pruned subsequence nearest-neighbor search (the reference "query engine").

Reproduces reference src/dtwnn.jl semantics:

- 3-stage cascade per sliding window: O(1) endpoint lower bound
  (src/dtwnn.jl:99-119) → LB_Keogh envelope bound filling the per-step
  cumulative bound (src/dtwnn.jl:121-143) → exact banded ``dtw_cost``
  against the best-so-far (src/dtw.jl:227-229).
- ``loc`` is the **1-based** start index of the best window
  (src/dtwnn.jl:183,234; README.md:119-120 uses ``res.loc-1`` as 0-based).
- Ties keep the earliest location, as the reference's ascending scan with
  strict improvement (``newdist < best_so_far``) does.
- ``saveall`` disables pruning and records the dense profile
  (src/dtwnn.jl:159); pruned positions otherwise hold +inf.
- Envelope pruning only applies to 1-D data (src/dtwnn.jl:125,187-188).

The cascade runs one of two ways. SqEuclidean 1-D float64 searches go to
the one C search entry, ``native.nn_search``, which scans the windows in
order; it takes a whole list of (query, series) pairs, so ``dtwnn`` sends
one pair, ``dtwnn_scan`` (the task loop of ``dtwnn_search``) one call per
batch of series, and ``knn_kbest`` the pairs of each step of its loop.
Every other search (another metric, multichannel or float32 input,
``saveall``, a transport cost, a list of avoided locations, or no
compiler) runs the one NumPy exact stage: both lower bounds vectorized
over the windows, then the surviving windows verified in bound order by
one batched DP (``dtw._band_costs``), in chunks that stop at the first
bound above the best-so-far.
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass, field
from typing import Optional

import numpy as np

from .distances import BUILTIN_NAMES, get_dist, local_costs
from .dtw import _band_costs, dtw_cost
from .normalizers import znorm, sliding_znorm_stats, lower_upper_envs

__all__ = ["DTWSearchResult", "dtwnn", "dtwnn_scan", "sparse_distmat",
           "knn_kbest", "distance_profile", "matrix_profile"]

_INF = np.inf
_EPS = np.finfo(np.float64).eps
_ZNORM_ALIASES = ("znorm", "z", "ZNormalizer")


@dataclass
class DTWSearchResult:
    """Mirror of reference src/dtwnn.jl:28-34."""
    cost: float
    loc: int  # 1-based best window start
    prune_end: int
    prune_env: int
    dists: Optional[np.ndarray] = field(default=None, repr=False)


def _lb_endpoints_all(dist_name: str, q: np.ndarray, y: np.ndarray, m: int,
                      mu: Optional[np.ndarray], sd: Optional[np.ndarray],
                      channels: bool = False) -> np.ndarray:
    """Vectorized endpoint lower bound for every window start.

    Full (non-early-out) sum of the reference's refinement terms
    (src/dtwnn.jl:99-119); the early-outs there only shortcut already-pruned
    windows, so the prune decision is identical. Short-m soundness fix as
    in ``lb_endpoints``: m == 1 uses the single exact term, refinements
    only for m >= 4 (the reference's formula overshoots at m == 1 and
    m == 3, which made the LB prune true nearest neighbors).

    Every term is the local cost of a cell that each warping path visits,
    so the bound holds for any built-in metric, 1-D or multichannel
    (``channels``: ``q`` is (c, m) and ``y`` is (c, n)). Without
    ``channels``, leading axes broadcast (``mu``/``sd`` None): a (k, m)
    stack of queries against one series, or one query against a (k, n)
    stack of series, gives (k, n - m + 1) bounds.
    """
    n = y.shape[-1]
    nw = n - m + 1

    def norm_at(off):
        v = y[..., off:off + nw]  # contiguous view — fancy-indexing would copy
        if mu is None:
            return v
        return (v - mu) / sd

    def dist(x, j):
        return local_costs(dist_name, x, q[..., j, None], channels)

    x1 = norm_at(0)
    if m == 1:
        return dist(x1, 0)
    y1 = norm_at(m - 1)
    lb = dist(x1, 0) + dist(y1, m - 1)
    if m > 3:
        x2 = norm_at(1)
        lb += np.minimum(np.minimum(dist(x2, 0), dist(x1, 1)), dist(x2, 1))
        y2 = norm_at(m - 2)
        lb += np.minimum(np.minimum(dist(y2, m - 1), dist(y1, m - 2)),
                         dist(y2, m - 2))
    return lb


def _lb_env_subset(dist_name: str, y: np.ndarray, m: int, l: np.ndarray,
                   u: np.ndarray, mu: Optional[np.ndarray],
                   sd: Optional[np.ndarray],
                   cand: np.ndarray) -> np.ndarray:
    """LB_Keogh totals for the window starts ``cand`` (the reference's
    per-window ``lb_env!``, src/dtwnn.jl:203-213). The per-step excess is
    ``e = max(x - u, 0) + max(l - x, 0)`` (at most one term non-zero), so
    the bound is Σe² (SqEuclidean) or Σe. With z-normalization the
    comparison runs in raw space against per-window scaled envelopes
    (x_norm > u ⟺ x > u·sd + mu), then rescales. Streamed per window in C
    when available (float64); the NumPy form, which keeps a float32
    input's dtype, works on chunks of about 2²⁰ values. ``cand`` is
    ascending."""
    if (y.ndim == 1 and y.dtype != np.float32
            and dist_name in ("sqeuclidean", "euclidean", "cityblock")):
        from . import native
        if native.available():
            return native.lb_env_subset(y, m, l, u, mu, sd,
                                        dist_name == "sqeuclidean", cand)
    out = np.empty(len(cand), dtype=np.result_type(y, u))
    windows = np.lib.stride_tricks.sliding_window_view(y, m)
    B = max(1, (1 << 20) // m)
    for s in range(0, len(cand), B):
        c = cand[s:s + B]
        # a run of consecutive starts is a view, anything else a gather
        X = windows[c[0]:c[-1] + 1] if c[-1] - c[0] < len(c) else windows[c]
        # at most one of x - u and l - x is positive, so the excess is
        # max(x - u, l - x, 0): the sum of the two clipped terms, exactly
        if mu is not None:
            scale = sd[c, None]
            off = mu[c, None]
            e = np.subtract(X, u * scale + off)
            np.maximum(e, (l * scale + off) - X, out=e)
            np.maximum(e, 0.0, out=e)
            e /= scale
        else:
            e = np.subtract(X, u)
            np.maximum(e, np.subtract(l, X), out=e)
            np.maximum(e, 0.0, out=e)
        if dist_name == "sqeuclidean":
            e *= e
        out[s:s + B] = e.sum(axis=1)
    return out


def _avoid_mask(avoid, nw: int) -> Optional[np.ndarray]:
    """1-based avoided locations → boolean mask over window starts."""
    if avoid is None:
        return None
    mask = np.zeros(nw, dtype=bool)
    if isinstance(avoid, tuple) and len(avoid) == 2:
        lo, hi = avoid
        lo = max(1, int(lo))
        hi = min(nw, int(hi))
        if lo <= hi:
            mask[lo - 1:hi] = True
    else:
        for a in avoid:
            if 1 <= int(a) <= nw:
                mask[int(a) - 1] = True
    return mask


def _search_mode(rad: int, normalizer) -> bool:
    """Check a search's radius and normalizer; True for z-normalization."""
    if int(rad) < 0:
        # checked before ANY path: the C cascade would otherwise read an
        # empty band's scratch out of bounds where the NumPy path raises
        raise ValueError(f"radius must be >= 0, got {rad}")
    if normalizer is not None and normalizer not in _ZNORM_ALIASES:
        raise ValueError(f"unsupported normalizer {normalizer!r}")
    return normalizer is not None


def _znorm_stats(y: np.ndarray, m: int):
    """Means and sds of ``y``'s length-``m`` windows for a z-normalized
    search, a zero sd read as 1 (such a window normalizes to zeros)."""
    mu, sd = sliding_znorm_stats(y, m)
    sd[sd == 0.0] = 1.0
    return mu, sd


def _native_search(qs: list, ys: list, pairs: np.ndarray, rad: int,
                   use_znorm: bool, seeds, **opts):
    """The C cascade, ``native.nn_search``, of query ``qs[i]`` in series
    ``ys[s]`` for each row (i, s, 0) of the int64 ``pairs`` (1-D float64
    SqEuclidean, no query longer than its series), its inputs made as
    ``dtwnn``'s NumPy stage makes them: under ``use_znorm`` the queries
    z-normalized and ``_znorm_stats`` taken once per series and query
    length. ``opts`` pass on to ``nn_search``. Returns its ``(cost,
    rec)``; None without the native library or on a C-side allocation
    failure."""
    from . import native
    if not native.available():
        return None
    qn = [znorm(q) for q in qs] if use_znorm else qs
    mu = sd = None
    if use_znorm:
        # stats once per (series, query length); a pair's start where
        # pairs[:, 2] says
        at, stats, start, end = {}, [], [], 0
        for i, y in pairs[:, :2].tolist():
            key = (y, len(qs[i]))
            if key not in at:
                at[key] = end
                stats.append(_znorm_stats(ys[y], key[1]))
                end += len(stats[-1][0])
            start.append(at[key])
        pairs[:, 2] = start
        mu, sd = map(np.concatenate, zip(*stats))
    # the envelopes are unused by C without use_env
    envs = [lower_upper_envs(x, rad) if opts.get("use_env", True) else (x, x)
            for x in qn]
    return native.nn_search(native.Block(*_pack(qn, envs)),
                            native.Block(*_pack(ys)), pairs, seeds, rad,
                            mu, sd, **opts)


def dtwnn(q, y, dist=None, rad: int = 5, normalizer: Optional[str] = None, *,
          prune_endpoints: bool = True, prune_envelope: bool = True,
          saveall: bool = False, bsf_multiplier: float = 1.0,
          transportcost: float = 1.0, avoid=None,
          initial_bsf: float = _INF, dtype=np.float64) -> DTWSearchResult:
    """Nearest neighbor to ``q`` among all length-|q| windows of ``y``
    (reference src/dtwnn.jl:162-238).

    ``initial_bsf`` seeds the best-so-far threshold (default Inf = the
    reference's cold start). Callers searching *many* series for one query
    thread the running global minimum through it, so later series prune
    against a real bound; if every window's LB exceeds the seed, the
    result cost is Inf (no window computed — caller keeps its prior best).

    Two paths. A 1-D float64 SqEuclidean search without ``saveall``, with
    unit transport cost and no or a ``(lo, hi)`` ``avoid`` runs the whole
    cascade in one C call (``native.nn_search`` with one pair) when the
    native library is available. Everything else runs the NumPy exact
    stage: the endpoint bound for every window (1-D or multichannel),
    LB_Keogh (1-D only) for the windows it leaves within
    ``bsf_multiplier * initial_bsf``, then exact costs in ascending bound
    order, one batched DP per chunk of windows (64 at first, doubling up
    to 512; 512 from the start when no bound is on, as under
    ``saveall``), until the next bound exceeds the threshold. Both paths
    return the same cost and loc; the prune counters count windows left
    uncomputed whose bound exceeds the final threshold, so their values
    may differ between the paths.
    """
    if bsf_multiplier < 1:
        raise ValueError("bsf_multiplier must be >= 1")
    use_znorm = _search_mode(rad, normalizer)
    d = get_dist(dist)
    if d.name not in BUILTIN_NAMES:
        # the LB cascade's local_costs and envelope bounds assume the
        # built-in scalar family — a custom metric would silently get
        # |x-y| bounds that may over-prune; reject loudly (the reference
        # carries the matching validity caveat at src/dtwnn.jl:125).
        # Custom metrics are supported in dtw/dtw_cost_matrix/dtw_cost/
        # soft_dtw_cost/dtw_pairs (see distances.CustomDist).
        raise ValueError(
            f"dtwnn supports built-in metrics only, got {d.name!r}")
    # dtype=np.float32 runs the whole cascade in reduced precision, in
    # NumPy (reference README.md:148); default float64
    q = np.asarray(q, dtype=dtype)
    y = np.asarray(y, dtype=dtype)
    onedim = q.ndim == 1
    m = q.shape[-1]
    n = y.shape[-1]
    if n < m:
        raise ValueError("q must be shorter than y, swap inputs")
    nw = n - m + 1
    if use_znorm and not onedim:
        raise ValueError("znorm search supports 1-D series only")

    # ---- whole-cascade C fast path ----
    # One C call runs endpoint LB + LB_Keogh + full band DP for the whole
    # series: cost/loc are identical to the NumPy stage below (every
    # window tying the final minimum survives any sound LB filter and the
    # DP is band_cost, the body of dtw_cost_batch — see nn_cascade in
    # _native.c); prune counters keep the final-threshold rule but may
    # differ in value from the bound-ordered chunks (metrics, not
    # goldens). saveall needs the dense profile and multichannel input or
    # other metrics the generic DP, so those fall through.
    if (onedim and not saveall and d.name == "sqeuclidean"
            and transportcost == 1.0 and y.dtype == np.float64
            and (avoid is None or (isinstance(avoid, tuple)
                                   and len(avoid) == 2))):
        a_lo = a_hi = 0
        if avoid is not None:
            a_lo = max(1, int(avoid[0]))
            a_hi = min(nw, int(avoid[1]))
            if a_lo > a_hi:
                a_lo = a_hi = 0
        got = _native_search(
            [q], [y], np.zeros((1, 3), dtype=np.int64), rad, use_znorm,
            (initial_bsf,),
            use_end=prune_endpoints, use_env=prune_envelope,
            bsf_mult=bsf_multiplier, avoid=(a_lo, a_hi))
        if got is not None:
            cost, rec = got
            return DTWSearchResult(float(cost[0]), *rec[0].tolist(), None)

    qn = znorm(q).astype(dtype) if use_znorm else q
    mu = sd = None
    if use_znorm:
        mu, sd = (x.astype(dtype) for x in _znorm_stats(y, m))

    # ---- the NumPy exact stage ----
    # 1. endpoint bound over every window (1-D or channels); 2. LB_Keogh
    # (1-D only) for the windows the endpoint bound leaves within the
    # incoming threshold; 3. verification in bound order, one batched DP
    # per chunk, stopping at the first bound above bsf_multiplier *
    # best-so-far. Chunks start at 64 windows while a bound can prune and
    # double up to 512 (a small first chunk finds a good best-so-far
    # before the bulk is verified); with no bound, as under saveall, every
    # chunk is 512. Every window tying the final minimum survives any
    # sound bound, so cost and loc equal the reference's ascending scan.
    mask = _avoid_mask(avoid, nw)
    cand = np.arange(nw) if mask is None else np.flatnonzero(~mask)
    best_so_far = _INF if saveall else float(initial_bsf)
    lbe = np.zeros(nw)
    lbv = np.zeros(nw)
    if prune_endpoints and not saveall:
        lbe = _lb_endpoints_all(d.name, qn, y, m, mu, sd,
                                channels=not onedim)
        cand = cand[lbe[cand] <= bsf_multiplier * best_so_far]
    use_env = prune_envelope and not saveall and onedim
    if use_env and len(cand):
        l_env, u_env = lower_upper_envs(qn, rad)
        lbv[cand] = _lb_env_subset(d.name, y, m, l_env, u_env, mu, sd, cand)
    lb = np.maximum(lbe, lbv)
    order = cand[np.argsort(lb[cand], kind="stable")]
    windows = np.lib.stride_tricks.sliding_window_view(y, m, axis=-1)
    if not onedim:
        windows = np.moveaxis(windows, -2, 0)  # (nw, c, m)
    dists = np.full(nw, _INF)
    size = 64 if (prune_endpoints or use_env) and not saveall else 512
    pos = 0
    while pos < len(order):
        chunk = order[pos:pos + size]
        pos += size
        size = min(2 * size, 512)
        chunk = chunk[lb[chunk] <= bsf_multiplier * best_so_far]
        if not len(chunk):
            break
        W = windows[chunk]
        if use_znorm:
            W = (W - mu[chunk, None]) / sd[chunk, None]
        costs = _band_costs(d, qn, W, rad, transportcost)
        dists[chunk] = costs
        best_so_far = min(best_so_far, costs.min())

    # ---- 4. prune counters against the final threshold ----
    # Same role as the reference's counters (src/dtwnn.jl:191-193), but
    # deterministic instead of scan-order-dependent.
    computed = np.isfinite(dists)
    if computed.any():
        best = dists[computed].min()
        best_loc = int(np.flatnonzero(dists == best)[0]) + 1
    else:
        best, best_loc = _INF, 1
    thresh = bsf_multiplier * best
    pruned = ~computed if mask is None else ~computed & ~mask
    over_end = pruned & (lbe > thresh)
    prune_env = int((pruned & ~over_end & (lbv > thresh)).sum())
    return DTWSearchResult(float(best), best_loc, int(over_end.sum()),
                           prune_env, dists)


def dtwnn_scan(queries, series, dist=None, rad: int = 5,
               normalizer: Optional[str] = None, bsf=None) -> list:
    """``dtwnn`` of each query in each series at least as long, series by
    series, each query's best-so-far threaded across them (the reference's
    sequential scan, src/dtwnn.jl:231-234): the task loop of
    ``operators.dtw_ops.dtwnn_search``. ``bsf`` (float64, one per query,
    default Inf) seeds it and is lowered in place.

    Returns ``(series index, query index, cost, loc, prune_end,
    prune_env)``, series-major, for each pair with a finite cost: the
    record ``dtwnn`` gives that pair. As in ``dtwnn``, 1-D SqEuclidean
    searches run in C, here all in one ``native.nn_search`` call; any
    other search is one ``dtwnn`` call per pair."""
    use_znorm = _search_mode(rad, normalizer)
    d = get_dist(dist)
    qs = [np.asarray(q, dtype=np.float64) for q in queries]
    ys = [np.asarray(y, dtype=np.float64) for y in series]
    bsf = np.full(len(qs), _INF) if bsf is None else bsf
    if d.name == "sqeuclidean" and all(x.ndim == 1 for x in qs + ys):
        qlen = np.array([len(q) for q in qs], dtype=np.int64)
        si, qi = np.nonzero(np.array([len(y) for y in ys])[:, None] >= qlen)
        got = _native_search(
            qs, ys, np.stack((qi, si, np.zeros_like(si)), axis=1), rad,
            use_znorm, bsf[qi], thread=True) if len(si) else None
        if got is not None:
            keep = np.flatnonzero(np.isfinite(got[0]))
            np.minimum.at(bsf, qi[keep], got[0][keep])
            return list(zip(si[keep].tolist(), qi[keep].tolist(),
                            got[0][keep].tolist(), *got[1][keep].T.tolist()))
    out = []
    for s, y in enumerate(ys):
        for i, q in enumerate(qs):
            if y.shape[-1] >= q.shape[-1]:
                r = dtwnn(q, y, d, rad, normalizer, initial_bsf=bsf[i])
                if np.isfinite(r.cost):
                    bsf[i] = min(bsf[i], r.cost)
                    out.append((s, i, r.cost, r.loc, r.prune_end,
                                r.prune_env))
    return out


def lb_endpoints(dist, q, buf, best_so_far: float = _INF) -> float:
    """Scalar endpoint lower bound between two equal-length series
    (reference src/dtwnn.jl:99-119), with the reference's early-outs.

    KNOWN DEVIATION (soundness fix): the reference's formula is NOT a
    lower bound for m == 1 (first and last cell are the same cell, so its
    two-term sum double-counts it) or m == 3 (the two refinement terms
    both bound the single interior cell of the pure-diagonal path, so
    their sum overshoots it). Here m == 1 returns the single exact term
    and refinements only apply for m >= 4, where the start-adjacent and
    end-adjacent cell sets are provably disjoint. Pinned by
    tests/test_kernels_dtwnn.py::TestShortQuerySoundness."""
    d = get_dist(dist)
    q = np.asarray(q, dtype=np.float64)
    buf = np.asarray(buf, dtype=np.float64)
    m = q.shape[-1]
    q1, qm = q[..., 0], q[..., m - 1]
    x1, y1 = buf[..., 0], buf[..., m - 1]
    if m == 1:
        return float(d(q1, x1))
    lb = d(q1, x1) + d(qm, y1)
    if lb >= best_so_far or m <= 3:
        return float(lb)
    x2 = buf[..., 1]
    lb += min(d(x2, q1), d(x1, q[..., 1]), d(x2, q[..., 1]))
    if lb >= best_so_far:
        return float(lb)
    y2 = buf[..., m - 2]
    lb += min(d(y2, qm), d(y1, q[..., m - 2]), d(y2, q[..., m - 2]))
    return float(lb)


def sparse_distmat(series, k: int, dist=None, rad: int = 5,
                   transportcost: float = 1.0):
    """k nearest neighbors among N series: per-row max-heap frontier with
    endpoint-LB prescreen and early-abandoned dtw_cost
    (reference src/dtwnn.jl:261-297). Returns (DISTS, INDS) with 1-based
    neighbor indices, each row ascending by distance."""
    import heapq

    d = get_dist(dist)
    if d.name not in BUILTIN_NAMES:
        # same soundness boundary as dtwnn: lb_endpoints and the
        # best-so-far early abandon are lower bounds only for the
        # nonnegative built-in scalar family — a custom metric would
        # silently over-prune the heap frontier
        raise ValueError(
            f"sparse_distmat supports built-in metrics only, got {d.name!r}")
    ys = [np.asarray(s, dtype=np.float64) for s in series]
    N = len(ys)
    DISTS = np.zeros((N, k))
    INDS = np.zeros((N, k), dtype=np.int64)
    for i in range(N):
        bsf = _INF
        heap = []  # max-heap via negated dist: (-d, -j) so ties pop larger j first
        for j in range(N):
            if j == i:
                continue
            dd = lb_endpoints(d, ys[i], ys[j], bsf)
            if dd < bsf:
                dd = dtw_cost(ys[i], ys[j], d, rad, best_so_far=bsf,
                              transportcost=transportcost)
            heapq.heappush(heap, (-dd, -(j + 1)))
            if len(heap) > k:
                bsf = -heapq.heappop(heap)[0]
        for pos in range(k - 1, -1, -1):
            nd, nj = heapq.heappop(heap)
            DISTS[i, pos] = -nd
            INDS[i, pos] = -nj
    return DISTS, INDS


_KBEST_BATCH = 32  # candidates verified per step of the k-best loop


def _kbest_bounds(d, a: np.ndarray, groups: dict, rad: int,
                  windows: Optional[dict] = None) -> list:
    """Lower bounds of the DTW pair cost of ``a`` against each length
    group ``{L: (candidate positions, stacked (c, L) block)}``, one
    vectorized call per group: LB_Keogh against ``a``'s envelopes for
    equal lengths (``_lb_env_subset``, streamed in C when available);
    for different lengths, the minimum over windows of the endpoint bound
    of the shorter side inside the longer (a single term when the shorter
    side has one point). Given a dict ``windows``, each different-length
    group's (rows, windows) bounds are kept there under its length.

    Each bound is shaved by a relative 2·max(L, m)·eps: the DP adds its
    terms in path order and NumPy sums in its own, so an exactly tight
    bound could otherwise come out an ulp above the DP's cost and prune
    a tie."""
    m = len(a)
    out = []
    for L, (pos, B) in groups.items():
        shave = 1.0 - 2.0 * max(L, m) * _EPS
        if L == m:
            # each row of the block is one window of its flattened form
            lo, hi = lower_upper_envs(a, rad)
            lb = _lb_env_subset(d.name, B.ravel(), m, lo, hi, None, None,
                                np.arange(len(pos), dtype=np.int64) * m)
            out.append((pos, lb * shave))
            continue
        win = (_lb_endpoints_all(d.name, a, B, m, None, None) if L > m else
               _lb_endpoints_all(d.name, B, a, L, None, None)) * shave
        if windows is not None:
            windows[L] = win
        out.append((pos, win.min(axis=-1)))
    return out


def _pack(rows, envs=None):
    """``rows`` end to end on the time axis, with (n, 2) int64 rows of
    (offset, length) and, given ``envs`` ((lower, upper) per row), the
    envelopes packed alike: the arrays of a ``native.Block``."""
    if len(rows) == 1:  # nothing to copy
        return (rows[0], np.array([[0, rows[0].shape[-1]]]),
                *(envs[0] if envs else (None, None)))
    ix = np.zeros((len(rows), 2), dtype=np.int64)
    ix[:, 1] = [r.shape[-1] for r in rows]
    np.cumsum(ix[:-1, 1], out=ix[1:, 0])
    env = (None, None) if envs is None else map(np.concatenate, zip(*envs))
    return (np.concatenate(rows, axis=-1), ix, *env)


def _cross_costs(d, a: np.ndarray, ys: list, rad: int, seed: float,
                 bounds=None) -> np.ndarray:
    """``knn_kbest``'s pair costs of ``a`` against each series of ``ys``,
    all of other lengths than ``a``'s, in NumPy: the least banded cost of
    the shorter series of a pair over the windows of the longer. With
    ``bounds`` (per series, a lower bound per window) only the windows
    bounded by ``seed`` are verified, so a pair costing at most ``seed``
    comes out exact, any other above it (Inf when no window is
    verified). The windows, of any length, run in chunks of about 2²⁰
    values, one ``_band_costs`` call per chunk on pairwise rows padded on
    the right to the longest."""
    m = a.shape[-1]
    flat, ix = _pack([a] + ys)[:2]  # row 0 is a, row p + 1 is ys[p]
    L = ix[1:, 1]
    s = np.minimum(L, m)
    qoff = np.where(L > m, 0, ix[1:, 0])  # the shorter side's offset
    yoff = np.where(L > m, ix[1:, 0], 0)
    if bounds is None:
        bounds = [np.full(abs(n - m) + 1, -np.inf) for n in L]
    start = [np.flatnonzero(b <= seed) for b in bounds]
    pair = np.repeat(np.arange(len(ys)), [len(t) for t in start])
    start = np.concatenate(start)
    out = np.full(len(ys), _INF)
    cols = np.arange(int(s.max()))
    step = max(1, (1 << 20) // flat[..., :len(cols)].size)
    for lo in range(0, len(pair), step):
        p, t = pair[lo:lo + step], start[lo:lo + step]
        col = np.minimum(cols, s[p, None] - 1)  # a pad repeats the last value
        Q = flat[..., qoff[p, None] + col]
        W = flat[..., yoff[p, None] + t[:, None] + col]
        if flat.ndim == 2:  # (channels, k, width) -> (k, channels, width)
            Q, W = np.moveaxis(Q, 0, 1), np.moveaxis(W, 0, 1)
        np.minimum.at(out, p, _band_costs(d, Q, W, rad, lens=s[p]))
    return out


def knn_kbest(queries, candidates, k: int, rad: int = 5, dist=None):
    """k nearest candidates of each query by the k-NN pair cost, with a
    k-best frontier per query — the per-task form of ``sparse_distmat``
    (src/dtwnn.jl:261-297), its reference.

    ``queries`` and ``candidates`` are ``(id, series)`` iterables; a
    candidate with the query's id is skipped. The pair cost is banded
    DTW for equal lengths and, for different lengths, the subsequence
    NN cost of the shorter series inside the longer (``dtwnn``).

    Per query, one vectorized lower bound per candidate length group
    (``_kbest_bounds``), then verification in bound order: the 32 (at
    least k) smallest bounds fill the frontier, and the candidates whose
    bound is within its k-th best follow in batches of 32. A batch's
    equal lengths run in one batched DP (``dtw._band_costs``, any
    metric), its different lengths seeded with nextafter(k-th best), so
    a pair that can only tie the k-th best is still computed exactly: 1-D
    SqEuclidean in ``native.nn_search`` over one block of every series,
    made once per call, and the rest in one batched NumPy pass
    (``_cross_costs``). The loop stops at the first bound strictly above
    the k-th best, so exact ties and the ``(cost, id)`` tie-break match
    brute force. A metric outside the built-in family, or multichannel
    input, has no sound bound here: every candidate and window is
    verified.

    Returns ``(rows, verified, pruned)``: ``rows`` holds up to k
    ``(query id, candidate id, cost)`` per query, ascending by
    ``(cost, candidate id)``; the counters split the (query, candidate)
    pairs, self-pairs excluded, into verified and pruned.
    """
    d = get_dist(dist)
    cids, cands = [], []
    for cid, y in candidates:
        cids.append(cid)
        cands.append(np.asarray(y, dtype=np.float64))
    qs = [(qid, np.asarray(a, dtype=np.float64)) for qid, a in queries]
    if k < 1 or not cands:
        return [], 0, 0
    nc = len(cands)
    lens = np.array([c.shape[-1] for c in cands], dtype=np.int64)
    bounded = (d.name in BUILTIN_NAMES
               and all(c.ndim == 1 for c in cands)
               and all(a.ndim == 1 for _, a in qs))
    groups = {}
    row = np.zeros(nc, dtype=np.int64)  # candidate -> group row
    for L in np.unique(lens):
        pos = np.flatnonzero(lens == L)
        groups[int(L)] = (pos, np.stack([cands[j] for j in pos]))
        row[pos] = np.arange(len(pos))
    block = None
    if bounded and d.name == "sqeuclidean":
        from . import native
        if native.available():
            # every series, candidates then queries: either side of a
            # pair can be its query
            every = cands + [a for _, a in qs]
            block = native.Block(*_pack(every, [lower_upper_envs(x, rad)
                                               for x in every]))
    at = {}
    for j, cid in enumerate(cids):
        at.setdefault(cid, []).append(j)

    def cross_costs(qi, cross, seed, win):
        """Costs of query ``qi`` against candidates ``cross`` of other
        lengths, exact where at most ``seed`` (``win``: the query's
        window bounds per candidate length)."""
        a = qs[qi][1]
        m, L = a.shape[-1], lens[cross]
        if block is not None:
            # the shorter series is the query; one of one point skips
            # the endpoint bound
            pairs = np.stack((np.where(L < m, cross, nc + qi),
                              np.where(L < m, nc + qi, cross),
                              np.zeros_like(cross)), axis=1)
            ends = np.minimum(L, m) >= 2
            out = np.empty(len(cross))
            for e in (True, False):
                sel = ends == e
                if not sel.any():
                    continue
                got = native.nn_search(block, block, pairs[sel],
                                       np.full(len(out), seed)[sel], rad,
                                       use_end=e)
                if got is None:  # C could not allocate: NumPy below
                    break
                out[sel] = got[0]
            else:
                return out
        return _cross_costs(d, a, [cands[j] for j in cross], rad, seed,
                            [win[lens[j]][row[j]] for j in cross]
                            if bounded else None)

    def verify(qi, win, batch, kth, best):
        """Exact costs of query ``qi`` against ``batch``, merged into
        ``best``."""
        a = qs[qi][1]
        m = a.shape[-1]
        eq = batch[lens[batch] == m]
        cross = batch[lens[batch] != m]
        costs = np.empty(len(batch))
        if len(eq):
            costs[:len(eq)] = _band_costs(d, a, groups[m][1][row[eq]], rad)
        if len(cross):
            costs[len(eq):] = cross_costs(qi, cross,
                                          np.nextafter(kth, np.inf), win)
        idx = np.concatenate((eq, cross))
        for i in np.flatnonzero(costs <= kth):  # only these can enter
            c, cid = float(costs[i]), cids[idx[i]]
            if len(best) < k or (c, cid) < best[-1]:
                bisect.insort(best, (c, cid))
                del best[k:]

    live = np.ones(nc, dtype=bool)
    rows, verified, pruned = [], 0, 0
    for qi, (qid, a) in enumerate(qs):
        lb = np.full(nc, -np.inf)
        win = {}  # candidate length -> the window bounds of its group
        for pos, g in (_kbest_bounds(d, a, groups, rad, win) if bounded
                       else ()):
            lb[pos] = g
        live[at.get(qid, [])] = False  # no self-pairs
        n_cand = int(live.sum())
        # the smallest bounds, at least k, fill the frontier; only the
        # bounds up to its k-th best then need sorting
        first = np.flatnonzero(live)
        head = max(k, _KBEST_BATCH)
        if len(first) > head:
            first = first[np.argpartition(lb[first], head - 1)[:head]]
        best = []  # ascending (cost, cid), at most k
        verify(qi, win, first, np.inf, best)
        live[first] = False
        kth = best[-1][0] if len(best) == k else np.inf
        rest = np.flatnonzero(live & (lb <= kth))
        rest = rest[np.argsort(lb[rest], kind="stable")]
        done = len(first)
        for lo in range(0, len(rest), _KBEST_BATCH):
            kth = best[-1][0] if len(best) == k else np.inf
            batch = rest[lo:lo + _KBEST_BATCH]
            batch = batch[lb[batch] <= kth]
            if not len(batch):
                break
            verify(qi, win, batch, kth, best)
            done += len(batch)
        live[:] = True
        verified += done
        pruned += n_cand - done
        rows.extend((qid, cid, c) for c, cid in best)
    return rows, verified, pruned


def distance_profile(q, T, dist=None, rad: int = 5, **kw) -> np.ndarray:
    """Dense profile of DTW distances of q vs every window of T
    (reference src/distance_interface.jl:103-110: dtwnn with saveall)."""
    return dtwnn(q, T, dist, rad, saveall=True, **kw).dists


def matrix_profile(T, m: int, rad: int = 5, dist=None,
                   transportcost: float = 1.0):
    """DTW matrix profile: per window, NN distance/index to any other window
    excluding the trivial band i-r:i+r (reference src/matrix_profile.jl:2-19).
    Returns (P, I) with 1-based I."""
    T = np.asarray(T, dtype=np.float64)
    n = T.shape[-1]
    l = n - m + 1
    P = np.empty(l)
    I = np.empty(l, dtype=np.int64)
    for i in range(l):
        res = dtwnn(T[i:i + m], T, dist, rad,
                    transportcost=transportcost,
                    avoid=(i + 1 - rad, i + 1 + rad))
        P[i] = res.cost
        I[i] = res.loc
    return P, I
