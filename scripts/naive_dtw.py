"""Deliberately NAIVE scalar DTW-family oracle for golden generation.

Second source for scripts/make_goldens.py: straight-line Python DPs over
plain floats — no NumPy vectorization tricks, no anti-diagonal sweeps, no
min-plus prefix scans, no C — so the committed golden parquet no longer
shares kernel code with the engine (VERDICT r02 "What's missing" #2). The
recurrences, boundary rules, tie-breaks, and parameter semantics restate
the reference (baggepinnen/DynamicAxisWarping.jl) directly:

- full/banded DTW + diagonal-preferring trackback: src/dtw.jl:40-152
- O(r) banded cost, early abandon returning a partial LB: src/dtw.jl:176-237
- subsequence NN scan, 1-based loc, earliest tie: src/dtwnn.jl:162-238
- endpoint lower bound with early-outs: src/dtwnn.jl:99-119
- soft-DTW with stabilized softmin: src/dtw.jl:245-317
- FastDTW compress/expand/window recursion: src/fastdtw.jl
- GDTW doubly-discretized shortest path + eta refinement: src/gdtw.jl
- DBA iteration/convergence: src/dba.jl
- matrix/distance profile: src/matrix_profile.jl, src/distance_interface.jl

This module is cross-checked against the reference's own golden vectors
(runtests.jl) and against the engine kernels in tests/test_naive_oracle.py.
SqEuclidean over 1-D float64 series only — the shapes the goldens use
(``_banded_matrix`` also takes Cityblock, to pin the engine's NumPy paths).
"""

from __future__ import annotations

import math
from bisect import bisect_right
from dataclasses import dataclass, field
from typing import List, Optional

import numpy as np  # containers / array in-out only — never for the DP

_INF = float("inf")


def _l(x) -> list:
    """Input → plain list of floats (np arrays, lists, pandas all accepted)."""
    return [float(v) for v in x]


def _check_dist(dist):
    if dist not in (None, "sqeuclidean"):
        raise ValueError(f"naive oracle supports SqEuclidean only, got {dist}")


# ---------------------------------------------------------------------------
# full + banded DTW with trackback
# ---------------------------------------------------------------------------

def _full_matrix(s1: list, s2: list, tc: float) -> list:
    m, n = len(s2), len(s1)
    D = [[0.0] * n for _ in range(m)]
    dv = s2[0] - s1[0]
    D[0][0] = dv * dv
    for c in range(1, n):
        dv = s2[0] - s1[c]
        D[0][c] = D[0][c - 1] + dv * dv
    for r in range(1, m):
        dv = s2[r] - s1[0]
        D[r][0] = D[r - 1][0] + dv * dv
    for r in range(1, m):
        row, prev = D[r], D[r - 1]
        br = s2[r]
        for c in range(1, n):
            dv = br - s1[c]
            up = tc * prev[c]
            dg = prev[c - 1]
            lf = tc * row[c - 1]
            best = up if up < dg else dg
            if lf < best:
                best = lf
            row[c] = best + dv * dv
    return D

def _banded_matrix(s1: list, s2: list, i2min, i2max, tc: float,
                   dist: str = "sqeuclidean") -> list:
    """Banded cumulative matrix. ``dist`` is "sqeuclidean" (the goldens'
    metric) or "cityblock", whose local cost |x-y| pins the engine's
    other built-in scalar form."""
    if dist not in ("sqeuclidean", "cityblock"):
        raise ValueError(f"unsupported dist {dist!r}")
    sq = dist == "sqeuclidean"
    m, n = len(s2), len(s1)
    lo = [int(v) - 1 for v in i2min]
    hi = [int(v) - 1 for v in i2max]
    if lo[0] != 0 or hi[-1] != m - 1:
        raise ValueError("invalid band")
    D = [[_INF] * n for _ in range(m)]
    acc = 0.0
    for r in range(hi[0] + 1):
        dv = s1[0] - s2[r]
        acc += dv * dv if sq else abs(dv)
        D[r][0] = acc
    for c in range(1, n):
        ac = s1[c]
        for r in range(lo[c], hi[c] + 1):
            dv = ac - s2[r]
            dv = dv * dv if sq else abs(dv)
            if r == 0:
                D[0][c] = tc * D[0][c - 1] + dv
                continue
            up = tc * D[r - 1][c]
            dg = D[r - 1][c - 1]
            lf = tc * D[r][c - 1]
            best = up if up < dg else dg
            if lf < best:
                best = lf
            D[r][c] = best + dv
    return D


def _trackback(D: list):
    """Diagonal-preferring trackback (src/utils.jl:1-15 tie rule)."""
    m, n = len(D), len(D[0])
    r, c = m - 1, n - 1
    rows, cols = [r + 1], [c + 1]
    while r > 0 and c > 0:
        a = D[r - 1][c - 1]
        b = D[r - 1][c]
        cc = D[r][c - 1]
        if a <= b:
            if a <= cc:
                r -= 1
                c -= 1
            else:
                c -= 1
        else:
            if b <= cc:
                r -= 1
            else:
                c -= 1
        rows.append(r + 1)
        cols.append(c + 1)
    while r > 0:
        r -= 1
        rows.append(r + 1)
        cols.append(1)
    while c > 0:
        c -= 1
        cols.append(c + 1)
        rows.append(1)
    return (float(D[-1][-1]), np.array(cols[::-1], dtype=np.int64),
            np.array(rows[::-1], dtype=np.int64))


def dtw(seq1, seq2, dist=None, i2min=None, i2max=None,
        transportcost: float = 1.0):
    """(cost, i1, i2), 1-based paths — reference src/dtw.jl:25-28."""
    _check_dist(dist)
    s1, s2 = _l(seq1), _l(seq2)
    if i2min is not None or i2max is not None:
        D = _banded_matrix(s1, s2, i2min, i2max, float(transportcost))
    else:
        D = _full_matrix(s1, s2, float(transportcost))
    return _trackback(D)


# ---------------------------------------------------------------------------
# O(r)-band cost (equal lengths) + batch + subsequence NN
# ---------------------------------------------------------------------------

def _band_cost(a: list, b: list, r: int, bsf: float = _INF) -> float:
    """Banded cost with reference early-abandon semantics: when the row
    minimum already reaches ``bsf`` the partial sum (a valid lower bound)
    is returned (src/dtw.jl:227-229, zero cumulative bound)."""
    m = len(a)
    prev: list = []
    plo = 0
    cur: list = []
    for i in range(m):
        lo = i - r if i - r > 0 else 0
        hi = i + r if i + r < m - 1 else m - 1
        ai = a[i]
        cur = []
        if i == 0:
            s = 0.0
            for j in range(lo, hi + 1):
                dv = ai - b[j]
                s += dv * dv
                cur.append(s)
            mc = cur[0]
        else:
            phi = plo + len(prev) - 1
            acc = _INF
            mc = _INF
            for j in range(lo, hi + 1):
                dv = ai - b[j]
                dv *= dv
                up = prev[j - plo] if plo <= j <= phi else _INF
                dg = prev[j - 1 - plo] if plo <= j - 1 <= phi else _INF
                best = up if up < dg else dg
                if j > lo and acc < best:
                    best = acc
                acc = best + dv
                if acc < mc:
                    mc = acc
                cur.append(acc)
        if i + r < m - 1 and mc >= bsf:
            return mc
        prev, plo = cur, lo
    return cur[-1]


def dtw_cost(a, b, dist=None, r: int = 0, transportcost: float = 1.0,
             best_so_far: float = _INF, cumulative_bound=None) -> float:
    _check_dist(dist)
    if transportcost != 1.0:
        raise ValueError("naive oracle: transportcost 1 only")
    la, lb = _l(a), _l(b)
    if len(la) != len(lb):
        raise ValueError("equal lengths required")
    if cumulative_bound is not None and any(cumulative_bound):
        raise ValueError("naive oracle: zero cumulative bound only")
    return float(_band_cost(la, lb, int(r), float(best_so_far)))


def dtw_cost_batch(q, W, r: int, transportcost: float = 1.0) -> np.ndarray:
    _check_dist(None)
    if transportcost != 1.0:
        raise ValueError("naive oracle: transportcost 1 only")
    Wl = [_l(row) for row in W]
    qa = np.asarray(q)
    if qa.ndim == 1:
        ql = _l(q)
        return np.array([_band_cost(ql, w, int(r)) for w in Wl])
    return np.array([_band_cost(_l(qa[i]), Wl[i], int(r))
                     for i in range(len(Wl))])


@dataclass
class NaiveNNResult:
    cost: float
    loc: int
    prune_end: int = 0
    prune_env: int = 0
    dists: Optional[np.ndarray] = field(default=None, repr=False)


def dtwnn(q, y, dist=None, rad: int = 5, normalizer=None, *,
          prune_endpoints: bool = True, prune_envelope: bool = True,
          saveall: bool = False, avoid=None) -> NaiveNNResult:
    """Exhaustive subsequence NN scan (the prune flags only affect speed
    in the engine, never results — the oracle scans every window, with
    the reference's plain best-so-far abandon inside the DP). Earliest
    window wins ties (strict improvement), loc is 1-based."""
    _check_dist(dist)
    if normalizer is not None:
        raise ValueError("naive oracle: no normalizer")
    ql, yl = _l(q), _l(y)
    m, n = len(ql), len(yl)
    if n < m:
        raise ValueError("q must be shorter than y")
    nw = n - m + 1
    skip = [False] * nw
    if avoid is not None:
        alo, ahi = avoid
        for j in range(max(1, int(alo)), min(nw, int(ahi)) + 1):
            skip[j - 1] = True
    best, loc = _INF, 1
    dists = np.full(nw, _INF) if saveall else None
    for j in range(nw):
        if skip[j]:
            continue
        c = _band_cost(ql, yl[j:j + m], int(rad),
                       _INF if saveall else best)
        if saveall:
            dists[j] = c
        if c < best:
            best, loc = c, j + 1
    return NaiveNNResult(float(best), loc, dists=dists)


def distance_profile(q, T, dist=None, rad: int = 5) -> np.ndarray:
    return dtwnn(q, T, dist, rad, saveall=True).dists


def matrix_profile(T, m: int, rad: int = 5, dist=None):
    Tl = _l(T)
    n = len(Tl)
    l = n - m + 1
    P = np.empty(l)
    I = np.empty(l, dtype=np.int64)
    for i in range(l):
        res = dtwnn(Tl[i:i + m], Tl, dist, rad,
                    avoid=(i + 1 - rad, i + 1 + rad))
        P[i] = res.cost
        I[i] = res.loc
    return P, I


def lb_endpoints(dist, q, buf, best_so_far: float = _INF) -> float:
    """Scalar endpoint LB with the reference's early-outs
    (src/dtwnn.jl:99-119) and the engine's short-m soundness fix
    (kernels/dtwnn.py lb_endpoints: m == 1 single exact term, refinement
    terms only for m >= 4 — the reference's formula is not a lower bound
    at m == 1 and m == 3)."""
    _check_dist(dist)
    ql, bl = _l(q), _l(buf)
    m = len(ql)

    def d(x, y):
        v = x - y
        return v * v

    if m == 1:
        return float(d(ql[0], bl[0]))
    lb = d(ql[0], bl[0]) + d(ql[m - 1], bl[m - 1])
    if lb >= best_so_far or m <= 3:
        return float(lb)
    lb += min(d(bl[1], ql[0]), d(bl[0], ql[1]), d(bl[1], ql[1]))
    if lb >= best_so_far:
        return float(lb)
    lb += min(d(bl[m - 2], ql[m - 1]), d(bl[m - 1], ql[m - 2]),
              d(bl[m - 2], ql[m - 2]))
    return float(lb)


# ---------------------------------------------------------------------------
# soft-DTW
# ---------------------------------------------------------------------------

def _softmin(a: float, b: float, c: float, gamma: float) -> float:
    g = -gamma
    a, b, c = a / g, b / g, c / g
    mx = a if a > b else b
    if c > mx:
        mx = c
    s = math.exp(a - mx) + math.exp(b - mx) + math.exp(c - mx)
    return g * (math.log(s) + mx)


def soft_dtw_cost(seq1, seq2, dist=None, gamma: float = 1.0,
                  transportcost: float = 1.0, radius=None) -> float:
    _check_dist(dist)
    if radius is not None:
        raise ValueError("naive oracle: unbanded soft-DTW only")
    s1, s2 = _l(seq1), _l(seq2)
    m, n = len(s2), len(s1)
    tc = float(transportcost)
    D = [[(s2[r] - s1[c]) ** 2 for c in range(n)] for r in range(m)]
    for r in range(1, m):
        D[r][0] += D[r - 1][0]
    for c in range(1, n):
        D[0][c] += D[0][c - 1]
    for r in range(1, m):
        for c in range(1, n):
            D[r][c] += _softmin(tc * D[r - 1][c], D[r - 1][c - 1],
                                tc * D[r][c - 1], float(gamma))
    return float(D[-1][-1])


# ---------------------------------------------------------------------------
# FastDTW
# ---------------------------------------------------------------------------

def _compress2(seq: list) -> list:
    n = len(seq)
    out = [0.5 * (seq[2 * i] + seq[2 * i + 1]) for i in range(n // 2)]
    if n % 2 == 1:
        out.append(seq[-1])
    return out


def _expandpath(lcol, lrow, Ncol: int, Nrow: int):
    assert (Ncol + 1) // 2 == lcol[-1]
    assert (Nrow + 1) // 2 == lrow[-1]
    Np = len(lcol)
    hc = [0] * (2 * Np)
    hr = [0] * (2 * Np)
    c = r = 1
    hc[0] = hr[0] = 1
    for i in range(Np - 1):
        if lcol[i + 1] == lcol[i]:
            r += 1
            hc[2 * i + 1], hr[2 * i + 1] = c, r
            r += 1
            hc[2 * i + 2], hr[2 * i + 2] = c, r
        elif lrow[i + 1] == lrow[i]:
            c += 1
            hc[2 * i + 1], hr[2 * i + 1] = c, r
            c += 1
            hc[2 * i + 2], hr[2 * i + 2] = c, r
        else:
            c += 1
            r += 1
            hc[2 * i + 1], hr[2 * i + 1] = c, r
            c += 1
            r += 1
            hc[2 * i + 2], hr[2 * i + 2] = c, r
    hc[-1], hr[-1] = Ncol, Nrow
    if hc[-1] == hc[-2] and hr[-1] == hr[-2]:
        hc, hr = hc[:-1], hr[:-1]
    return hc, hr


def _computewindow(pcols, prows, radius: int):
    Ncol, Nrow = int(pcols[-1]), int(prows[-1])
    pmin = [0] * Ncol
    pmax = [0] * Ncol
    for c, r in zip(pcols, prows):
        pmax[c - 1] = r
        if pmin[c - 1] == 0:
            pmin[c - 1] = r
    if radius < Ncol - 1 and radius < Nrow - 1:
        rmin = [1] * radius + [max(1, v - radius)
                               for v in pmin[:Ncol - radius]]
        rmax = [min(Nrow, v + radius)
                for v in pmax[radius:]] + [Nrow] * radius
    else:
        rmin = [1] * Ncol
        rmax = [Nrow] * Ncol
    return rmin, rmax


def fastdtw(seq1, seq2, dist=None, radius: int = 1,
            transportcost: float = 1.0):
    _check_dist(dist)
    s1, s2 = _l(seq1), _l(seq2)
    min_size = max(radius + 2, 10)
    if len(s1) <= min_size or len(s2) <= min_size:
        return dtw(s1, s2, dist, transportcost=transportcost)
    _c, lc, lr = fastdtw(_compress2(s1), _compress2(s2), dist, radius,
                         transportcost=transportcost)
    hc, hr = _expandpath(list(lc), list(lr), len(s1), len(s2))
    i2min, i2max = _computewindow(hc, hr, radius)
    return dtw(s1, s2, dist, i2min=i2min, i2max=i2max,
               transportcost=transportcost)


# ---------------------------------------------------------------------------
# DBA
# ---------------------------------------------------------------------------

@dataclass
class NaiveDBAResult:
    cost: float
    converged: bool
    iterations: int
    cost_trace: List[float] = field(default_factory=list)


def dba_iteration(oldavg, sequences, dist=None, transportcost: float = 1.0):
    avg = _l(oldavg)
    L = len(avg)
    counts = [0] * L
    newavg = [0.0] * L
    total = 0.0
    for seq in sequences:
        sl = _l(seq)
        cost, i1, i2 = dtw(avg, sl, dist, transportcost=transportcost)
        total += cost
        for a_idx, s_idx in zip(i1, i2):
            counts[a_idx - 1] += 1
            newavg[a_idx - 1] += sl[s_idx - 1]
    out = np.array([newavg[i] / counts[i] for i in range(L)])
    return out, total


def dba(sequences, dist=None, init_center=None, iterations: int = 1000,
        rtol: float = 1e-5, transportcost: float = 1.0):
    seqs = [_l(s) for s in sequences]
    center = list(seqs[0] if init_center is None else _l(init_center))
    converged = False
    it = 0
    cost = _INF
    newcost = _INF
    newavg = np.array(center)
    while not converged and it < iterations:
        newavg, newcost = dba_iteration(center, seqs, dist,
                                        transportcost=transportcost)
        it += 1
        delta = (cost - newcost) / newcost if newcost > 0 else 0.0
        if delta < rtol:
            converged = True
        else:
            cost = newcost
            center = [float(v) for v in newavg]
    return newavg, NaiveDBAResult(float(newcost), converged, it)


# ---------------------------------------------------------------------------
# GDTW
# ---------------------------------------------------------------------------

class _Interp:
    """Scalar twin of LinearInterpolation/np.interp: linear between
    normalized knots, fp[j] exactly at knots, zero outside [0, 1]."""

    def __init__(self, x):
        self.fp = _l(x)
        n = len(self.fp)
        step = (n - 1.0)
        self.xp = [i / step for i in range(n)]
        self.xp[-1] = 1.0

    def __call__(self, s: float) -> float:
        if s < 0.0 or s > 1.0:
            return 0.0
        xp, fp = self.xp, self.fp
        if s >= xp[-1]:
            return fp[-1]
        j = bisect_right(xp, s) - 1
        if j < 0:
            return fp[0]
        slope = (fp[j + 1] - fp[j]) / (xp[j + 1] - xp[j])
        return slope * (s - xp[j]) + fp[j]


def gdtw(x, y, *, symmetric: bool = True, M: int = 100, N: int = 100,
         lambda_cum: float = 0.01, lambda_inst: float = 0.01,
         eta: float = 1.0 / 8, max_iters: int = 3,
         smin: float = 0.001, smax: float = 5.0):
    """(cost, None, None) — scalar restatement of src/gdtw.jl:147-151
    with the engine's defaults; metric |a-b|."""
    xi, yi = _Interp(x), _Interp(y)
    step = 1.0 / (N - 1)
    t = [i * step for i in range(N)]
    t[-1] = 1.0
    dt = [t[i + 1] - t[i] for i in range(N - 1)]
    sl, sh = 0.99 * smin, 1.01 * smax
    lower = [max(sl * tv, 1 - sh * (1 - tv)) for tv in t]
    upper = [min(sh * tv, 1 - sl * (1 - tv)) for tv in t]
    if symmetric:
        l0 = [max(lower[i], 2 * t[i] - upper[i]) for i in range(N)]
        u0 = [min(upper[i], 2 * t[i] - lower[i]) for i in range(N)]
    else:
        l0, u0 = lower, upper
    l, u = list(l0), list(u0)
    jf = [j / (M - 1) for j in range(M)]
    cost, warp = _INF, [0.0] * N
    for _round in range(max_iters):
        tau = [[l[s] + jf[j] * (u[s] - l[s]) for s in range(N)]
               for j in range(M)]
        node = [[0.0] * N for _ in range(M)]
        for j in range(M):
            for s in range(N):
                tv = tau[j][s]
                yv = 2 * t[s] - tv if symmetric else t[s]
                v = abs(xi(tv) - yi(yv)) + lambda_cum * (tv - t[s]) ** 2
                node[j][s] = v * dt[s] if s < N - 1 else 0.0
        mc = [row[:] for row in node]
        ptr = [[0] * N for _ in range(M)]
        for s in range(1, N):
            dts = dt[s - 1]
            if s == 1:
                for j in range(M):
                    dphi = (tau[j][1] - tau[0][0]) / dts
                    ok = smin <= dphi <= smax
                    if symmetric:
                        ok = ok and smin <= 2 - dphi <= smax
                    e = dts * lambda_inst * (dphi - 1.0) ** 2 if ok else _INF
                    mc[j][1] += mc[0][0] + e
                    ptr[j][1] = 0
                continue
            for j in range(M):
                bk, bv = 0, _INF
                tj = tau[j][s]
                for k in range(M):
                    dphi = (tj - tau[k][s - 1]) / dts
                    ok = smin <= dphi <= smax
                    if symmetric:
                        ok = ok and smin <= 2 - dphi <= smax
                    e = dts * lambda_inst * (dphi - 1.0) ** 2 if ok else _INF
                    v = mc[k][s - 1] + e
                    if v < bv:
                        bv, bk = v, k
                ptr[j][s] = bk
                mc[j][s] += bv
        cost = mc[M - 1][N - 1]
        c = M - 1
        for s in range(N - 1, 1, -1):
            warp[s] = tau[c][s]
            c = ptr[c][s]
        warp[1] = tau[c][1]
        warp[0] = tau[0][0]
        for i in range(N):
            d = eta * (u[i] - l[i]) / 2
            l[i] = max(warp[i] - d, l0[i])
            u[i] = min(warp[i] + d, u0[i])
    return float(cost), None, None
