"""Pruned subsequence nearest-neighbor search (the reference "query engine").

Reproduces reference src/dtwnn.jl semantics:

- 3-stage cascade per sliding window: O(1) endpoint lower bound
  (src/dtwnn.jl:99-119) → LB_Keogh envelope bound filling the per-step
  cumulative bound (src/dtwnn.jl:121-143) → exact banded ``dtw_cost`` with
  early abandon vs best-so-far (src/dtw.jl:227-229).
- ``loc`` is the **1-based** start index of the best window
  (src/dtwnn.jl:183,234; README.md:119-120 uses ``res.loc-1`` as 0-based).
- Windows are processed in ascending position with strict improvement
  (``newdist < best_so_far``), so ties keep the earliest location.
- ``saveall`` disables pruning and records the dense profile
  (src/dtwnn.jl:159); pruned positions otherwise hold +inf.
- Envelope pruning only applies to 1-D data (src/dtwnn.jl:125,187-188).

Vectorization strategy (Spark-first, per input_hint "no per-row Python"):
both lower bounds are precomputed for *all* windows at once with sliding
cumulative sums / sliding_window_view (chunked to bound memory), then a
sequential pass mirrors the reference's best-so-far threading exactly —
only surviving windows pay the exact DP kernel.
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass, field
from typing import Optional

import numpy as np

from .distances import BUILTIN_NAMES, get_dist
from .dtw import dtw_cost
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


def _elem_dist(dist_name: str, x, y):
    d = np.subtract(x, y)
    if dist_name == "sqeuclidean":
        return d * d
    return np.abs(d)  # euclidean == cityblock == chebyshev for scalars


def _lb_endpoints_all(dist_name: str, q: np.ndarray, y: np.ndarray, m: int,
                      mu: Optional[np.ndarray], sd: Optional[np.ndarray]) -> np.ndarray:
    """Vectorized endpoint lower bound for every window start (1-D series).

    Full (non-early-out) sum of the reference's refinement terms
    (src/dtwnn.jl:99-119); the early-outs there only shortcut already-pruned
    windows, so the prune decision is identical. Short-m soundness fix as
    in ``lb_endpoints``: m == 1 uses the single exact term, refinements
    only for m >= 4 (the reference's formula overshoots at m == 1 and
    m == 3, which made the LB prune true nearest neighbors).

    Leading axes broadcast (``mu``/``sd`` None): a (c, m) stack of
    queries against one series, or one query against a (c, n) stack of
    series, gives (c, n - m + 1) bounds.
    """
    n = y.shape[-1]
    nw = n - m + 1

    def norm_at(off):
        v = y[..., off:off + nw]  # contiguous view — fancy-indexing would copy
        if mu is None:
            return v
        return (v - mu) / sd

    def qa(j):
        return q[..., j, None]

    x1 = norm_at(0)
    if m == 1:
        return _elem_dist(dist_name, qa(0), x1)
    y1 = norm_at(m - 1)
    lb = _elem_dist(dist_name, qa(0), x1) + _elem_dist(dist_name, qa(m - 1), y1)
    if m > 3:
        x2 = norm_at(1)
        lb += np.minimum(np.minimum(
            _elem_dist(dist_name, x2, qa(0)),
            _elem_dist(dist_name, x1, qa(1))),
            _elem_dist(dist_name, x2, qa(1)))
        y2 = norm_at(m - 2)
        lb += np.minimum(np.minimum(
            _elem_dist(dist_name, y2, qa(m - 1)),
            _elem_dist(dist_name, y1, qa(m - 2))),
            _elem_dist(dist_name, y2, qa(m - 2)))
    return lb


def _lb_env_all(dist_name: str, y: np.ndarray, m: int, l: np.ndarray,
                u: np.ndarray, mu: Optional[np.ndarray],
                sd: Optional[np.ndarray]) -> np.ndarray:
    """LB_Keogh totals for all windows, chunked sliding-window vectorization.

    The per-step excess is ``e = max(x-u, 0) + max(l-x, 0)`` (at most one
    term non-zero), so the bound is Σe² (sqeuclidean) or Σe — two clips and
    a reduction instead of masks+where. With z-normalization the comparison
    is done in RAW space against per-window scaled envelopes
    (x_norm > u ⟺ x > u·sd + mu), then rescaled — avoids materializing the
    normalized window block.
    """
    n = len(y)
    nw = n - m + 1
    out = np.zeros(nw)
    # Sum per query-offset j over the CONTIGUOUS slice y[j : j+nw] instead
    # of materializing the (nw, m) strided window matrix — same flops,
    # cache-friendly streams, m vector passes total.
    t1 = np.empty(nw)
    t2 = np.empty(nw)
    inv_sd = None if sd is None else 1.0 / sd
    for j in range(m):
        seg = y[j:j + nw]
        if mu is not None:
            # x_norm > u[j]  ⟺  x > u[j]*sd + mu   (work in raw space)
            np.multiply(sd, u[j], out=t1)
            t1 += mu
            np.subtract(seg, t1, out=t1)          # x - u_raw
            np.maximum(t1, 0.0, out=t1)
            np.multiply(sd, l[j], out=t2)
            t2 += mu
            np.subtract(t2, seg, out=t2)          # l_raw - x
            np.maximum(t2, 0.0, out=t2)
            t1 += t2
            t1 *= inv_sd
        else:
            np.subtract(seg, u[j], out=t1)
            np.maximum(t1, 0.0, out=t1)
            np.subtract(l[j], seg, out=t2)
            np.maximum(t2, 0.0, out=t2)
            t1 += t2
        if dist_name == "sqeuclidean":
            t1 *= t1
        out += t1
    return out


def _lb_env_subset(dist_name: str, y: np.ndarray, m: int, l: np.ndarray,
                   u: np.ndarray, mu: Optional[np.ndarray],
                   sd: Optional[np.ndarray],
                   cand: np.ndarray) -> np.ndarray:
    """LB_Keogh totals for a SUBSET of window starts (same math as
    ``_lb_env_all``): gathers the candidate windows and vectorizes over
    them, bounded-memory via chunks. This is the lazy-evaluation analog of
    the reference's per-window ``lb_env!`` after endpoint pruning
    (src/dtwnn.jl:203-213) — the full O(n·m) sweep is only worth paying
    when endpoints prune nothing."""
    if y.ndim == 1 and dist_name in ("sqeuclidean", "euclidean",
                                     "cityblock"):
        from . import native
        if native.available():
            return native.lb_env_subset(y, m, l, u, mu, sd,
                                        dist_name == "sqeuclidean", cand)
    out = np.empty(len(cand))
    windows = np.lib.stride_tricks.sliding_window_view(y, m)
    B = 1 << 16
    for s in range(0, len(cand), B):
        c = cand[s:s + B]
        X = windows[c]  # gather-copy (b, m)
        if mu is not None:
            scale = sd[c, None]
            off = mu[c, None]
            e = (np.maximum(X - (u[None, :] * scale + off), 0.0)
                 + np.maximum((l[None, :] * scale + off) - X, 0.0))
            e /= scale
        else:
            e = (np.maximum(X - u[None, :], 0.0)
                 + np.maximum(l[None, :] - X, 0.0))
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
    """
    if bsf_multiplier < 1:
        raise ValueError("bsf_multiplier must be >= 1")
    if int(rad) < 0:
        # validated before ANY path: the C cascade would otherwise read an
        # empty band's scratch out of bounds where the NumPy path raises
        raise ValueError(f"radius must be >= 0, got {rad}")
    d = get_dist(dist)
    if d.name not in BUILTIN_NAMES:
        # the LB cascade's _elem_dist and envelope bounds assume the
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
    # series: cost/loc are identical to the batched path below (every
    # window tying the final minimum survives any sound LB filter and the
    # DP is band_cost, the body of dtw_cost_batch — see nn_search_sq in
    # _native.c); prune counters keep the final-threshold rule but may
    # differ in value from the chunk-ordered scan (metrics, not goldens).
    # saveall needs the dense profile and multichannel/other metrics need
    # the generic paths, so those fall through.
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

    # ---- stage-1/2 lower bounds, vectorized over all windows ----
    lb_end = None
    if prune_endpoints and not saveall and onedim:
        lb_end = _lb_endpoints_all(d.name, qn, y, m, mu, sd)
    lb_env = None
    l_env = u_env = None
    defer_env = False
    if prune_envelope and not saveall and onedim:
        l_env, u_env = (envs if envs is not None else
                        query_envelopes(q, rad, normalizer, dtype))
        if prune_endpoints and lb_end is not None:
            # lazy: LB_Keogh only for endpoint-surviving windows, after a
            # bootstrap chunk establishes best-so-far (below)
            defer_env = True
        else:
            lb_env = _lb_env_all(d.name, y, m, l_env, u_env, mu, sd)

    mask = _avoid_mask(avoid, nw)
    X = np.lib.stride_tricks.sliding_window_view(y, m) if onedim else None
    dists = np.full(nw, _INF)

    # ---- exact stage ----
    # Batched strategy (result-identical to the reference's sequential scan,
    # SURVEY §2.3): sort candidate windows by their lower bound ascending,
    # compute exact banded costs in vectorized chunks (``exact`` amortizes
    # the DP across windows — the batch analog of the reference's
    # workspace reuse), stop when the next chunk's smallest LB already
    # exceeds bsf_multiplier * best-so-far. Prune counters are evaluated
    # against the final threshold: same metrics role as the reference's
    # (src/dtwnn.jl:191-193), deterministic instead of scan-order-dependent.
    if onedim:
        from .dtw import _band_rows, dtw_cost_batch

        def exact(W):
            """Banded costs of ``qn`` against the windows ``W`` in
            ``d``'s metric: SqEuclidean through ``dtw_cost_batch`` (C when
            available), the others through the same DP with |x - y| rows."""
            if d.name == "sqeuclidean":
                return dtw_cost_batch(qn, W, rad, transportcost=transportcost)
            return _band_rows(
                lambda i, lo, hi: _elem_dist(d.name, W[:, lo:hi + 1], qn[i]),
                m, int(rad), float(transportcost))

        lbe = lb_end if lb_end is not None else np.zeros(nw)
        lbv = lb_env if lb_env is not None else np.zeros(nw)
        cand = np.arange(nw) if mask is None else np.flatnonzero(~mask)
        best_so_far = float(initial_bsf) if not saveall else _INF
        CH = 512
        if defer_env and not saveall:
            # LB_Keogh only for endpoint survivors — avoids the O(n·m)
            # full-envelope sweep when endpoints already prune almost
            # everything. With no usable best-so-far yet, a small
            # bootstrap of lowest-endpoint-LB windows establishes one
            # first (zero-heavy series make the endpoint LB weak, so the
            # envelope filter right after is what actually prunes).
            # argpartition, not argsort: the bootstrap only needs the BOOT
            # smallest endpoint-LBs, and an O(n log n) sort of ~10⁶ window
            # LBs was the single largest cost of the whole search (the
            # survivors get properly sorted below, where the set is small)
            if np.isfinite(best_so_far):
                rest = cand  # seeded by the caller: skip the bootstrap
            else:
                BOOT = min(64, len(cand))
                if BOOT:
                    lc = lbe[cand]
                    part = (np.argpartition(lc, BOOT - 1)[:BOOT]
                            if len(cand) > BOOT else np.arange(len(cand)))
                    part = part[np.argsort(lc[part], kind="stable")]
                    boot = cand[part]
                    W = X[boot]
                    if use_znorm:
                        W = (W - mu[boot, None]) / sd[boot, None]
                    costs = exact(W)
                    dists[boot] = costs
                    cmin = costs.min()
                    if cmin < best_so_far:
                        best_so_far = cmin
                    keep = np.ones(len(cand), dtype=bool)
                    keep[part] = False
                    rest = cand[keep]
                else:
                    rest = cand
            rest = rest[lbe[rest] <= bsf_multiplier * best_so_far]
            from . import native as _nat
            subset_native = (_nat.available()
                             and d.name in ("sqeuclidean", "euclidean",
                                            "cityblock"))
            if len(rest) > nw // 4 and not subset_native:
                # weak endpoint pruning WITHOUT the C subset kernel (no
                # compiler, or a metric it doesn't cover): the gather-based
                # NumPy subset sweep materializes ~(|rest|, m) window
                # copies; the streamed full sweep (m contiguous passes, no
                # gather) is cheaper once most windows survive. (The C
                # subset path streams per candidate and beats both.)
                lbv = _lb_env_all(d.name, y, m, l_env, u_env, mu, sd)
            elif len(rest):
                lbv[rest] = _lb_env_subset(d.name, y, m, l_env, u_env,
                                           mu, sd, rest)
            cand = rest
        lb = np.maximum(lbe, lbv)
        order = cand[np.argsort(lb[cand], kind="stable")]
        pos = 0
        while pos < len(order):
            chunk = order[pos:pos + CH]
            if not saveall:
                thresh = bsf_multiplier * best_so_far
                chunk = chunk[lb[chunk] <= thresh]
                if len(chunk) == 0:
                    break
            W = X[chunk]
            if use_znorm:
                W = (W - mu[chunk, None]) / sd[chunk, None]
            costs = exact(W)
            dists[chunk] = costs
            cmin = costs.min()
            if cmin < best_so_far:
                best_so_far = cmin
            pos += CH
        computed = np.isfinite(dists)
        if computed.any():
            best_so_far = dists[computed].min()
            best_loc = int(np.flatnonzero(dists == best_so_far)[0]) + 1
        else:
            best_so_far, best_loc = _INF, 1
        thresh = bsf_multiplier * best_so_far
        pruned = ~computed
        if mask is not None:
            pruned &= ~mask
        prune_end = int((pruned & (lbe > thresh)).sum()) if lb_end is not None else 0
        if lb_env is not None or defer_env:
            # in the deferred path lb_env stays None but lbv carries the
            # LB_Keogh values computed for the endpoint-surviving subset —
            # count env-pruned windows from lbv either way (ADVICE r01:
            # keying on lb_env alone systematically reported 0)
            env_only = pruned & (lbv > thresh)
            if lb_end is not None:
                env_only &= ~(lbe > thresh)
            prune_env = int(env_only.sum())
        else:
            prune_env = 0
        return DTWSearchResult(float(best_so_far), best_loc, prune_end,
                               prune_env, dists)

    # ---- fallback: sequential scan (saveall or multichannel) ----
    best_so_far = float(initial_bsf) if not saveall else _INF
    best = _INF  # best within THIS series (seed only tightens pruning)
    best_loc = 1
    zeros_cb = np.zeros(m)
    for it in range(nw):
        if mask is not None and mask[it]:
            continue
        bsf = bsf_multiplier * best_so_far
        if onedim:
            w = X[it]
            if use_znorm:
                w = (w - mu[it]) / sd[it]
        else:
            w = y[..., it:it + m]
        newdist = dtw_cost(qn, w, d, rad,
                           transportcost=transportcost,
                           best_so_far=_INF if saveall else bsf,
                           cumulative_bound=zeros_cb)
        dists[it] = newdist
        # an early-abandoned dtw_cost returns a PARTIAL sum (a lower
        # bound >= bsf, reference src/dtw.jl:227-229) — only values that
        # beat the running threshold are guaranteed exact, so only those
        # may become the reported best (src/dtwnn.jl:231-234 semantics)
        if newdist < best_so_far:
            best_so_far = newdist
            best = newdist
            best_loc = it + 1
    return DTWSearchResult(float(best), best_loc, 0, 0, dists)


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
    bound is within its k-th best follow in batches of 32 — equal lengths with
    ``dtw_cost_batch``, different lengths in one
    ``native.nn_search_pairs`` call seeded with nextafter(k-th best), so
    a pair that can only tie the k-th best is still computed exactly.
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
    from .dtw import dtw_cost_batch

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
    if bounded:
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
        if len(eq) and fast:
            costs[:len(eq)] = dtw_cost_batch(a, groups[m][1][row[eq]], rad)
        else:
            for i, j in enumerate(eq):
                costs[i] = dtw_cost(a, cands[j], d, rad)
        seed = np.nextafter(kth, np.inf)
        got = None
        if len(cross) and flat is not None:
            got = native.nn_search_pairs(
                a, np.zeros(1, np.int64), np.array([m]), flat, offs, lens,
                np.zeros(len(cross), np.int64), cross, rad,
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
