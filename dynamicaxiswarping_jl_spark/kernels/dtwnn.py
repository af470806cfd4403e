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

The cascade runs one of two ways. SqEuclidean 1-D searches go to one C
call, ``native.nn_search``, which scans the windows in order. Every other
search (another metric, multichannel input, ``saveall``, a transport
cost, a list of avoided locations, or no compiler) runs the one NumPy
exact stage: both lower bounds vectorized over the windows, then the
surviving windows verified in bound order by one batched DP
(``dtw._band_costs``), in chunks that stop at the first bound above the
best-so-far.
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass, field
from typing import Optional

import numpy as np

from .distances import BUILTIN_NAMES, get_dist, local_costs
from .dtw import _band_costs, dtw_cost
from .normalizers import znorm, sliding_znorm_stats, lower_upper_envs

__all__ = ["DTWSearchResult", "dtwnn", "query_envelopes", "sparse_distmat",
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
    when available; the NumPy form works on chunks of about 2²⁰ values.
    ``cand`` is ascending."""
    if y.ndim == 1 and dist_name in ("sqeuclidean", "euclidean",
                                     "cityblock"):
        from . import native
        if native.available():
            return native.lb_env_subset(y, m, l, u, mu, sd,
                                        dist_name == "sqeuclidean", cand)
    out = np.empty(len(cand))
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


def query_envelopes(q, rad: int, normalizer: Optional[str] = None,
                    dtype=np.float64):
    """Sakoe-Chiba envelopes of a query, normalized exactly as ``dtwnn``
    normalizes it: cast to ``dtype`` first, then znorm when
    ``normalizer`` asks for it. An envelope of a differently-rounded
    query could over-prune, so every caller that precomputes ``envs``
    uses this one definition."""
    qd = np.asarray(q, dtype=dtype)
    qn = znorm(qd).astype(dtype) if normalizer in _ZNORM_ALIASES else qd
    return lower_upper_envs(qn, rad)


def dtwnn(q, y, dist=None, rad: int = 5, normalizer: Optional[str] = None, *,
          prune_endpoints: bool = True, prune_envelope: bool = True,
          saveall: bool = False, bsf_multiplier: float = 1.0,
          transportcost: float = 1.0, avoid=None,
          initial_bsf: float = _INF, dtype=np.float64,
          envs=None) -> DTWSearchResult:
    """Nearest neighbor to ``q`` among all length-|q| windows of ``y``
    (reference src/dtwnn.jl:162-238).

    ``initial_bsf`` seeds the best-so-far threshold (default Inf = the
    reference's cold start). Callers searching *many* series for one query
    thread the running global minimum through it, so later series prune
    against a real bound; if every window's LB exceeds the seed, the
    result cost is Inf (no window computed — caller keeps its prior best).

    ``envs``: precomputed ``query_envelopes(q, rad, normalizer, dtype)``
    — the envelopes depend only on the (normalized) query, so callers
    searching MANY series with one query pass them once instead of
    recomputing per series (result-identical; the short-query/many-series
    workload is dispatch-bound).

    Two paths. A 1-D SqEuclidean search without ``saveall``, with unit
    transport cost and no or a ``(lo, hi)`` ``avoid`` runs the whole
    cascade in one C call (``native.nn_search``) when the native library
    is available. Everything else runs the NumPy exact stage: the
    endpoint bound for every window (1-D or multichannel), LB_Keogh (1-D
    only) for the windows it leaves within ``bsf_multiplier *
    initial_bsf``, then exact costs in ascending bound order, one batched
    DP per chunk of windows (64 at first, doubling up to 512; 512 from the
    start when no bound is on, as under ``saveall``), until the next bound
    exceeds the threshold. Both paths return the same cost and loc; the
    prune counters count windows left uncomputed whose bound exceeds the
    final threshold, so their values may differ between the paths.
    """
    if bsf_multiplier < 1:
        raise ValueError("bsf_multiplier must be >= 1")
    if int(rad) < 0:
        # validated before ANY path: the C cascade would otherwise read an
        # empty band's scratch out of bounds where the NumPy path raises
        raise ValueError(f"radius must be >= 0, got {rad}")
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
    # dtype=np.float32 runs the whole cascade in reduced precision
    # (reference README.md:148: "up to twice as fast"); default float64
    q = np.asarray(q, dtype=dtype)
    y = np.asarray(y, dtype=dtype)
    onedim = q.ndim == 1
    m = q.shape[-1]
    n = y.shape[-1]
    if n < m:
        raise ValueError("q must be shorter than y, swap inputs")
    nw = n - m + 1

    use_znorm = normalizer in _ZNORM_ALIASES
    if normalizer is not None and not use_znorm:
        raise ValueError(f"unsupported normalizer {normalizer!r}")
    if use_znorm and not onedim:
        raise ValueError("znorm search supports 1-D series only")

    qn = znorm(q).astype(dtype) if use_znorm else q
    mu = sd = None
    if use_znorm:
        mu, sd = sliding_znorm_stats(y, m)
        sd = np.where(sd == 0.0, 1.0, sd)
        mu = mu.astype(dtype)
        sd = sd.astype(dtype)

    # ---- whole-cascade C fast path ----
    # One C call runs endpoint LB + LB_Keogh + full band DP for the whole
    # series: cost/loc are identical to the NumPy stage below (every
    # window tying the final minimum survives any sound LB filter and the
    # DP is band_cost, the body of dtw_cost_batch — see nn_search_sq in
    # _native.c); prune counters keep the final-threshold rule but may
    # differ in value from the bound-ordered chunks (metrics, not
    # goldens). saveall needs the dense profile and multichannel input or
    # other metrics the generic DP, so those fall through.
    if (onedim and not saveall and d.name == "sqeuclidean"
            and transportcost == 1.0
            and (avoid is None or (isinstance(avoid, tuple)
                                   and len(avoid) == 2))):
        from . import native
        if native.available():
            if prune_envelope:
                l_env, u_env = (envs if envs is not None else
                                query_envelopes(q, rad, normalizer, dtype))
            else:
                l_env = u_env = qn  # unused by C when use_env == 0
            a_lo = a_hi = 0
            if avoid is not None:
                a_lo = max(1, int(avoid[0]))
                a_hi = min(nw, int(avoid[1]))
                if a_lo > a_hi:
                    a_lo = a_hi = 0
            got = native.nn_search(qn, y, int(rad), l_env, u_env, mu, sd,
                                   float(initial_bsf), float(bsf_multiplier),
                                   a_lo, a_hi, prune_endpoints,
                                   prune_envelope)
            if got is not None:
                cost, loc, pe, pv = got
                return DTWSearchResult(cost, loc, pe, pv, None)

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
        l_env, u_env = (envs if envs is not None else
                        query_envelopes(q, rad, normalizer, dtype))
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


def _kbest_bounds(d, a: np.ndarray, groups: dict, rad: int) -> list:
    """Lower bounds of the DTW pair cost of ``a`` against each length
    group ``{L: (candidate positions, stacked (c, L) block)}``, one
    vectorized call per group: LB_Keogh against ``a``'s envelopes for
    equal lengths (``_lb_env_subset``, streamed in C when available);
    for different lengths, the minimum over windows of the endpoint bound
    of the shorter side inside the longer (a single term when the shorter
    side has one point).

    Each bound is shaved by a relative 2·max(L, m)·eps: the DP adds its
    terms in path order and NumPy sums in its own, so an exactly tight
    bound could otherwise come out an ulp above the DP's cost and prune
    a tie."""
    m = len(a)
    out = []
    for L, (pos, B) in groups.items():
        if L == m:
            # each row of the block is one window of its flattened form
            lo, hi = query_envelopes(a, rad)
            lb = _lb_env_subset(d.name, B.ravel(), m, lo, hi, None, None,
                                np.arange(len(pos), dtype=np.int64) * m)
        elif L > m:
            lb = _lb_endpoints_all(d.name, a, B, m, None, None).min(axis=-1)
        else:
            lb = _lb_endpoints_all(d.name, B, a, L, None, None).min(axis=-1)
        out.append((pos, lb * (1.0 - 2.0 * max(L, m) * _EPS)))
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
    bound is within its k-th best follow in batches of 32 — equal lengths
    in one batched DP (``dtw._band_costs``, any metric), different
    lengths in one ``native.nn_search_pairs`` call seeded with
    nextafter(k-th best), so a pair that can only tie the k-th best is
    still computed exactly.
    The loop stops at the first bound strictly above the k-th best, so
    exact ties and the ``(cost, id)`` tie-break match brute force. A
    metric outside the built-in family, or multichannel input, has no
    sound bound here: every candidate is verified (a custom metric's
    cross-length pairs raise, as ``dtwnn`` does).

    Returns ``(rows, verified, pruned)``: ``rows`` holds up to k
    ``(query id, candidate id, cost)`` per query, ascending by
    ``(cost, candidate id)``; the counters split the (query, candidate)
    pairs, self-pairs excluded, into verified and pruned.
    """
    from . import native

    d = get_dist(dist)
    cids, cands = [], []
    for cid, y in candidates:
        cids.append(cid)
        cands.append(np.asarray(y, dtype=np.float64))
    qs = [(qid, np.asarray(a, dtype=np.float64)) for qid, a in queries]
    if k < 1 or not cands:
        return [], 0, 0
    lens = np.array([c.shape[-1] for c in cands], dtype=np.int64)
    bounded = (d.name in BUILTIN_NAMES
               and all(c.ndim == 1 for c in cands)
               and all(a.ndim == 1 for _, a in qs))
    fast = bounded and d.name == "sqeuclidean"
    groups = {}
    row = np.zeros(len(cands), dtype=np.int64)  # candidate -> group row
    for L in np.unique(lens):
        pos = np.flatnonzero(lens == L)
        groups[int(L)] = (pos, np.stack([cands[j] for j in pos]))
        row[pos] = np.arange(len(pos))
    if fast and native.available():
        flat = np.concatenate(cands)
        offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    else:
        flat = None
    at = {}
    for j, cid in enumerate(cids):
        at.setdefault(cid, []).append(j)

    def verify(a, batch, kth, best):
        """Exact costs of ``a`` against ``batch``, merged into ``best``."""
        m = a.shape[-1]
        eq = batch[lens[batch] == m]
        cross = batch[lens[batch] != m]
        costs = np.empty(len(batch))
        if len(eq):
            costs[:len(eq)] = _band_costs(d, a, groups[m][1][row[eq]], rad)
        seed = np.nextafter(kth, np.inf)
        got = None
        if len(cross) and flat is not None:
            got = native.nn_search_pairs(a, flat, offs, lens, cross, rad,
                                         np.full(len(cross), seed))
        if got is not None:
            costs[len(eq):] = got
        else:
            for i, j in enumerate(cross, len(eq)):
                s, l = sorted((a, cands[j]), key=lambda x: x.shape[-1])
                costs[i] = dtwnn(s, l, d, rad,
                                 prune_endpoints=s.shape[-1] >= 2,
                                 initial_bsf=seed).cost
        idx = np.concatenate((eq, cross))
        for i in np.flatnonzero(costs <= kth):  # only these can enter
            c, cid = float(costs[i]), cids[idx[i]]
            if len(best) < k or (c, cid) < best[-1]:
                bisect.insort(best, (c, cid))
                del best[k:]

    live = np.ones(len(cands), dtype=bool)
    rows, verified, pruned = [], 0, 0
    for qid, a in qs:
        lb = np.full(len(cands), -np.inf)
        for pos, g in _kbest_bounds(d, a, groups, rad) if bounded else ():
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
        verify(a, first, np.inf, best)
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
            verify(a, batch, kth, best)
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
