"""Core DTW kernels: cost matrices, trackback, O(r)-memory banded cost.

Semantics pinned to the reference (baggepinnen/DynamicAxisWarping.jl):

- Cost matrix ``D`` is (m, n): rows index ``seq2``, cols index ``seq1``
  (reference src/dtw.jl:40-49).
- DP recurrence ``D[r,c] += min(tc*D[r-1,c], D[r-1,c-1], tc*D[r,c-1])``
  (src/dtw.jl:61); default inner distance squared Euclidean (src/dtw.jl:40).
- Trackback ties prefer the diagonal: compare ``D[r-1,c-1] <= D[r-1,c]``
  then ``<= D[r,c-1]`` (src/dtw.jl:137 via src/utils.jl:1-15).
- Warp paths are 1-based inclusive index vectors (src/dtw.jl:123-152).
- Band limits ``i2min/i2max`` are 1-based, must satisfy ``i2min[0]==1`` and
  ``i2max[-1]==m`` (src/dtw.jl:84-89).

The full and banded cost matrices share one sweep, ``_sweep``, vectorized
along anti-diagonals (every cell on diagonal k depends only on diagonals
k-1 and k-2), so the Python-level loop is O(n+m) with NumPy vector ops — no
per-cell Python. The O(r)-memory banded costs (``dtw_cost`` in both
transportcost placements, ``dtw_cost_batch`` and dtwnn's exact stage)
share one row DP, ``_band_rows``, vectorized over the k rows of a batch.

Known deviation, documented: reference ``dtw_cost`` (src/dtw.jl:213-215)
multiplies ``transportcost`` onto the *diagonal* and the advance-``a`` move,
leaving advance-``b`` free — inconsistent with ``dtw_cost_matrix``
(src/dtw.jl:61, both non-diagonal moves penalized, diagonal free). No
reference golden value pins that placement (runtests.jl:100-102 is
insensitive: the optimal path there is zero-cost except the final cell), so
this implementation uses the ``dtw_cost_matrix`` placement consistently;
``dtw_cost(a,b,r=len) == dtw(a,b).cost`` then holds for every
``transportcost``, matching the reference's own equality tests at tc=1.
"""

from __future__ import annotations

import numpy as np

from .distances import BUILTIN_NAMES, get_dist, local_costs

__all__ = [
    "dtw",
    "dtw_cost_matrix",
    "banded_dtw_cost_matrix",
    "trackback",
    "dtw_cost",
    "radiuslimits",
]

_INF = np.inf


def _lastlen(x: np.ndarray) -> int:
    return np.asarray(x).shape[-1]


def _sweep(D: np.ndarray, tc: float) -> None:
    """The cost-matrix recurrence, in place: every cell of ``D`` off row 0
    and column 0 holds its local cost and becomes ``local + min(tc*up,
    diag, tc*left)``; row 0 and column 0 are the caller's boundary.

    Anti-diagonal sweep over zero-copy strided views (an anti-diagonal of
    a C-contiguous matrix is a constant-stride walk; every cell on
    diagonal k depends only on diagonals k-1 and k-2). Bit-exactness
    contract: each cell is one fp add after exact mins (and tc*x is exact
    for tc == 1), so this sweep is bit-identical to the scalar oracle
    (scripts/naive_dtw.py) and to the C kernels, including trackback tie
    plateaus. A row-major cumsum/running-min scan is ~2x faster but
    reassociates the sums, which flips tie-sensitive integer outputs
    (align delays, NN loc) on the zero plateaus gap-filled series are full
    of. Do not "optimize" this back into a prefix scan.
    """
    m, n = D.shape
    sr, sc = D.strides
    step = sr - sc
    base = np.lib.stride_tricks.as_strided
    for k in range(2, m + n - 1):
        r0 = max(1, k - n + 1)
        r1 = min(m - 1, k - 1)
        if r0 > r1:
            continue
        ln = r1 - r0 + 1
        c0 = k - r0
        cur = base(D[r0:, c0:], shape=(ln,), strides=(step,))
        up = base(D[r0 - 1:, c0:], shape=(ln,), strides=(step,))
        left = base(D[r0:, c0 - 1:], shape=(ln,), strides=(step,))
        dg = base(D[r0 - 1:, c0 - 1:], shape=(ln,), strides=(step,))
        cur += np.minimum(np.minimum(tc * up, dg), tc * left)


def dtw_cost_matrix(seq1, seq2, dist=None, transportcost: float = 1.0,
                    postprocess=None) -> np.ndarray:
    """Full O(nm) cumulative DTW cost matrix (reference src/dtw.jl:40-71).

    Returns the (m, n) matrix with m = len(seq2), n = len(seq1).
    """
    d = get_dist(dist)
    seq1 = np.asarray(seq1, dtype=np.float64)
    seq2 = np.asarray(seq2, dtype=np.float64)
    m, n = _lastlen(seq2), _lastlen(seq1)
    # native gate requires BOTH operands 1-D: a mixed 1-D/2-D call must
    # keep the NumPy path's broadcasting semantics, not read raw memory
    if (seq1.ndim == 1 and seq2.ndim == 1 and m > 0 and n > 0
            and d.name == "sqeuclidean"):
        from . import native
        if native.available():
            D = native.full_matrix(seq1, seq2, float(transportcost))
            return D if postprocess is None else postprocess(D)
    D = d.pairwise(seq2, seq1)  # (m, n): rows=seq2, cols=seq1
    D[1:, 0] = np.cumsum(D[:, 0])[1:]
    D[0, 1:] = np.cumsum(D[0, :])[1:]
    _sweep(D, float(transportcost))
    if postprocess is not None:
        D = postprocess(D)
    return D


def _validate_band(i2min, i2max, n: int, m: int):
    """Shared window validation (reference src/dtw.jl:84-89 endpoints plus
    full-range checks): the C banded path writes band cells for every
    lo..hi unchecked, and the NumPy matrix would silently come out for
    another band — reject out-of-range windows for every execution path."""
    i2min = np.asarray(i2min, dtype=np.int64)
    i2max = np.asarray(i2max, dtype=np.int64)
    if len(i2min) != n or len(i2max) != n:
        raise ValueError("i2min/i2max must match length of seq1")
    if i2min[0] != 1:
        raise ValueError("i2min must start at 1")
    if i2max[-1] != m:
        raise ValueError(
            f"i2max must end at length(seq2), was {i2max[-1]} != {m}")
    if (i2min < 1).any() or (i2max > m).any() or (i2min > i2max).any():
        raise ValueError(
            "i2min/i2max must satisfy 1 <= i2min[c] <= i2max[c] <= len(seq2)")
    return i2min, i2max


def banded_dtw_cost_matrix(seq1, seq2, dist=None, i2min=None, i2max=None,
                           transportcost: float = 1.0) -> np.ndarray:
    """Windowed DTW cost matrix (reference src/dtw.jl:74-111).

    ``i2min``/``i2max`` are 1-based inclusive per-column row windows of
    length n (reference convention, preserved so golden fixtures apply
    verbatim). Cells outside the window are +inf, mirroring WindowedMatrix
    reads (src/windowed_matrix.jl:59-66). Returns a dense (m, n) matrix.
    """
    d = get_dist(dist)
    seq1 = np.asarray(seq1, dtype=np.float64)
    seq2 = np.asarray(seq2, dtype=np.float64)
    m, n = _lastlen(seq2), _lastlen(seq1)
    i2min, i2max = _validate_band(i2min, i2max, n, m)
    tc = float(transportcost)
    rows = np.arange(m)[:, None]
    out = (rows < i2min - 1) | (rows > i2max - 1)  # (m, n) out-of-band
    D = d.pairwise(seq2, seq1)  # local costs (m, n)
    D[out] = _INF
    top = int(i2max[0])
    D[:top, 0] = np.cumsum(D[:top, 0])
    # row 0 for columns >= 1: only the left move exists (reference handles
    # these inside its c-loop via the Inf out-of-window reads, src/dtw.jl:103-107)
    for c in range(1, n):
        if i2min[c] == 1:
            D[0, c] += tc * D[0, c - 1]
    _sweep(D, tc)
    # an out-of-band cell swept as inf + min(...) stays inf, except at
    # tc == 0, where 0*inf is NaN
    D[out] = _INF
    return D


def trackback(D: np.ndarray):
    """Optimal path by backtracking from D[-1,-1] (reference src/dtw.jl:123-152).

    Returns ``(cost, cols, rows)`` — 1-based index arrays; ``cols`` walks
    seq1, ``rows`` walks seq2. Tie-break order: diagonal, up, left
    (src/utils.jl:1-15).
    """
    m, n = D.shape
    if (m > 0 and n > 0 and D.dtype == np.float64
            and D.flags["C_CONTIGUOUS"]):
        from . import native
        if native.available():
            cost, cols, rows = native.trackback(D)
            return cost, cols, rows
    r, c = m - 1, n - 1  # 0-based
    rows = [r + 1]
    cols = [c + 1]
    while r > 0 and c > 0:
        a = D[r - 1, c - 1]
        b = D[r - 1, c]
        cc = D[r, c - 1]
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
    return float(D[-1, -1]), np.array(cols[::-1], dtype=np.int64), np.array(rows[::-1], dtype=np.int64)


def dtw(seq1, seq2, dist=None, i2min=None, i2max=None,
        transportcost: float = 1.0, postprocess=None):
    """Full DTW: ``(cost, i1, i2)`` with 1-based warp paths
    (reference src/dtw.jl:25-28). Banded when ``i2min/i2max`` given."""
    if i2min is not None or i2max is not None:
        d = get_dist(dist)
        s1 = np.asarray(seq1, dtype=np.float64)
        s2 = np.asarray(seq2, dtype=np.float64)
        if (s1.ndim == 1 and s2.ndim == 1 and len(s1) and len(s2)
                and d.name == "sqeuclidean"):
            from . import native
            if native.available():
                # compact-band DP + in-band trackback: O(band) memory,
                # no dense (m, n) inf-fill; bit-identical costs/paths
                imin, imax = _validate_band(i2min, i2max, len(s1), len(s2))
                return native.banded_path(s1, s2, imin - 1, imax - 1,
                                          float(transportcost))
        D = banded_dtw_cost_matrix(seq1, seq2, dist, i2min, i2max,
                                   transportcost=transportcost)
    else:
        D = dtw_cost_matrix(seq1, seq2, dist, transportcost=transportcost,
                            postprocess=postprocess)
    return trackback(D)


def radiuslimits(r: int, n, m=None):
    """Sakoe-Chiba band for possibly unequal lengths
    (reference src/utils.jl:22-33). Accepts ``(r, n, m)`` ints or
    ``(r, seq1, seq2)``. Returns 1-based ``(imin, imax)`` of length n."""
    if m is None or not np.isscalar(n):
        n, m = _lastlen(n), _lastlen(m)
    n, m = int(n), int(m)
    d = abs(m - n)
    idx = np.arange(1, n + 1, dtype=np.int64)
    if m >= n:
        imin = np.maximum(idx - r, 1)
        imax = np.minimum(idx + (r + d), m)
    else:
        imin = np.maximum(idx - (r + d), 1)
        imax = np.minimum(idx + r, m)
    return imin, imax


def _metric_rows(d, q, W):
    """The ``local`` callback of ``_band_rows`` for ``q`` against each of
    the k rows of ``W``, a (k, m) block or a (k, c, m) channel block (``q``
    one query, or shaped like ``W``, one per row): row ``i`` costs
    ``d(q[..., i], W[..., lo..hi])`` per row. A built-in metric is
    ``local_costs``; a custom one is one ``d.pairwise`` call per row of
    the block."""
    if d.name in BUILTIN_NAMES:
        channels = W.ndim == 3
        return lambda i, lo, hi: local_costs(
            d.name, q[..., i, None], W[..., lo:hi + 1], channels)
    qs = q if q.ndim == W.ndim else [q] * len(W)
    return lambda i, lo, hi: np.stack(
        [d.pairwise(x[..., i:i + 1], w[..., lo:hi + 1])[0]
         for x, w in zip(qs, W)])


def _band_rows(local, m: int, r: int, tc: float, best_so_far: float = _INF,
               cumulative_bound=None, lens=None,
               reference: bool = False) -> np.ndarray:
    """The banded DTW cost recurrence (src/dtw.jl:176-237), vectorized
    over k rows: the one NumPy body behind ``dtw_cost``,
    ``dtw_cost_batch`` and ``dtwnn``'s exact stage, and the twin of
    ``band_cost`` in _native.c.

    ``local(i, lo, hi)`` returns the (k, hi - lo + 1) local costs of DP
    row ``i`` against columns ``lo..hi``, so the caller picks the metric;
    the result keeps their dtype (float32 stays float32). Row 0 is a
    plain cumsum. The moves into a cell are weighted by the placement:
    by default (the matrix placement, src/dtw.jl:61) the up move is tc'd
    except in column 0 (the full matrix's first column, src/dtw.jl:51-56),
    the diagonal is free and the left move is tc'd; ``reference`` takes
    the reference ``dtw_cost``'s placement (src/dtw.jl:213-215): up and
    diagonal tc'd in every column, left free. A weight of 1.0 skips its
    multiply. With a ``cumulative_bound``, once every
    row's running minimum plus ``cumulative_bound[i + r]`` reaches
    ``best_so_far``, those partial sums are returned (the early abandon
    of src/dtw.jl:227-229). With ``lens``, row p is a pair of length
    ``lens[p]`` padded on the right to ``m``, and its cost is read at cell
    (lens[p] - 1, lens[p] - 1): a cell depends only on cells up and to
    its left, so the pad never reaches it and the cost is the unpadded
    one, bit for bit.

    Each cell is exactly the min of its weighted moves plus ``local``
    (w*x is exact for w == 1), computed by a per-column running min, NOT a
    cumsum prefix scan: a scan reassociates the sums and flips
    tie-sensitive NN locs and trackback paths on zero plateaus. This
    keeps the DP bit-identical to the C kernel and the scalar oracle
    (scripts/naive_dtw.py).
    """
    wd, wl = (tc, 1.0) if reference else (1.0, tc)
    prev = cur = None
    plo = phi = lo = 0
    if lens is not None:
        out, stops = np.empty(len(lens)), set(lens.tolist())
    for i in range(m):
        lo = max(0, i - r)
        hi = min(m - 1, i + r)
        dloc = local(i, lo, hi)
        if i == 0:
            cur = np.cumsum(dloc, axis=1)
        else:
            # prev covers columns [plo, phi]; this row wants [lo, hi]
            up = np.full(dloc.shape, _INF, dtype=dloc.dtype)
            diag = np.full(dloc.shape, _INF, dtype=dloc.dtype)
            up[:, :phi - lo + 1] = prev[:, lo - plo:]
            s, e = max(lo, plo + 1), min(hi, phi + 1)
            diag[:, s - lo:e - lo + 1] = prev[:, s - 1 - plo:e - plo]
            if tc != 1.0:
                up_s = tc * up
                if lo == 0 and not reference:
                    up_s[:, 0] = up[:, 0]
                up = up_s
            if wd != 1.0:
                diag *= wd
            bvec = np.minimum(up, diag, up)
            # column by column, in place: cur is built transposed so each
            # column is one contiguous row; `left` is the weighted left move
            cur = np.empty(dloc.shape[::-1], dtype=dloc.dtype)
            left = np.full(len(dloc), _INF, dtype=dloc.dtype)
            for bj, dj, cj in zip(bvec.T, dloc.T, cur):
                np.minimum(left, bj, cj)
                cj += dj
                left = cj if wl == 1.0 else wl * cj
            cur = cur.T
        if cumulative_bound is not None and i + r < m - 1:
            part = cur.min(axis=1) + cumulative_bound[i + r]
            if (part >= best_so_far).all():
                return part
        if lens is not None and i + 1 in stops:
            ends = lens == i + 1
            out[ends] = cur[ends, i - lo]
        prev, plo, phi = cur, lo, hi
    return cur[:, -1] if lens is None else out


def dtw_cost_batch(q: np.ndarray, W: np.ndarray, r: int,
                   transportcost: float = 1.0) -> np.ndarray:
    """Banded DTW costs of a query against MANY equal-length windows.

    ``W`` is (k, m); ``q`` is (m,) — one query vs k windows — or (k, m) —
    k independent pairs. Returns (k,) exact banded costs (no early abandon;
    the batch amortizes the DP across rows instead — callers prune with
    lower bounds first). Same recurrence/boundary semantics as dtw_cost.
    SqEuclidean only (the NN-search hot path).
    """
    # dtype-preserving: float32 inputs compute in float32, in NumPy
    # (reference README.md:148); anything else promotes to float64
    _q, _W = np.asarray(q), np.asarray(W)
    if int(r) < 0:
        raise ValueError(f"radius must be >= 0, got {r}")
    f32 = _q.dtype == np.float32 and _W.dtype == np.float32
    # native gate (float64): shapes must be exactly valid (1-D q of length
    # m, or (k, m) pairwise q) — anything else keeps the NumPy path's error
    # behavior instead of reading out of bounds in C
    if (not f32 and _W.ndim == 2 and _W.shape[1] > 0
            and ((_q.ndim == 1 and _q.shape[0] == _W.shape[1])
                 or (_q.ndim == 2 and _q.shape == _W.shape))):
        from . import native
        if native.available():
            return native.cost_batch(q, W, r, float(transportcost))
    q = np.asarray(q, dtype=np.float32 if f32 else np.float64)
    W = np.asarray(W, dtype=q.dtype)
    return _band_rows(_metric_rows(get_dist(None), q, W), W.shape[1],
                      int(r), float(transportcost))


def _band_costs(d, q, W, r: int, tc: float = 1.0, lens=None) -> np.ndarray:
    """Banded costs of ``q`` against each of the k rows of ``W`` in the
    metric ``d``: the batched verifier of ``dtwnn``'s NumPy exact stage
    and of ``knn_kbest``. ``W`` is (k, m), or (k, c, m) for multichannel
    ``q``. ``lens`` gives each pair its own length, its rows of ``q``
    (pairwise) and ``W`` padded on the right to m (see ``_band_rows``).
    SqEuclidean on 1-D rows of one length goes through
    ``dtw_cost_batch`` (C when available); everything else through
    ``_band_rows`` with ``_metric_rows``."""
    if d.name == "sqeuclidean" and W.ndim == 2 and lens is None:
        return dtw_cost_batch(q, W, r, transportcost=tc)
    return _band_rows(_metric_rows(d, q, W), W.shape[-1], int(r), float(tc),
                      lens=lens)


def dtw_cost(a, b, dist=None, r: int = 0, transportcost: float = 1.0,
             best_so_far: float = _INF, cumulative_bound=None,
             transportcost_placement: str = "matrix") -> float:
    """O(r)-memory banded DTW cost with early abandon
    (reference src/dtw.jl:176-237, UCR-suite style).

    KNOWN DEVIATION (user-facing, see README "Known deviations"): with
    ``transportcost != 1`` this function by default penalizes the two
    NON-diagonal moves (the reference's own ``dtw_cost_matrix`` placement,
    src/dtw.jl:61), whereas the reference's ``dtw_cost`` penalizes the
    diagonal + advance-``a`` moves (src/dtw.jl:213-215) — the reference is
    internally inconsistent and no golden pins its placement. Here
    ``dtw_cost(a, b, r=len(a), transportcost=tc) == dtw(a, b,
    transportcost=tc).cost`` holds for every tc (pinned by
    tests/test_kernels_dtw.py::TestTransportcostPlacement).
    ``transportcost_placement='reference'`` opts into the Julia
    ``dtw_cost`` cost model instead (tc on the up + diagonal moves, left
    free) for users who need bit-compatible numbers with reference
    ``dtw_cost(a, b, dist, r; transportcost=tc)`` calls; the two
    placements coincide at tc == 1.

    Requires equal lengths (src/dtw.jl:195). ``cumulative_bound`` is the
    reverse-cumulative LB_Keogh bound consumed by the abandon test
    (src/dtw.jl:227-229): when the running row minimum plus the remaining
    bound already exceeds ``best_so_far``, that partial sum is returned (a
    lower bound on the true cost, matching reference behavior exactly).
    Caveat, shared with the reference: with ``transportcost < 1``
    (permitted — README.md:224) a later cell can undercut the current
    row minimum (``tc*x < x``), so the abandoned partial sum is NOT a
    lower bound there. For exact tc<1 costs call ``dtw_cost`` directly
    with the default ``best_so_far=inf`` (or use ``dtw()``); pruned
    searches (``dtwnn``, ``dtw_dist``'s unequal-length path) keep the
    reference's semantics, whose LB gates and abandon assume tc >= 1 —
    tc < 1 there can over-prune exactly as in Julia. The engine's own
    operators only ever abandon at tc == 1.

    The NumPy fallback is ``_band_rows`` with k = 1 and local costs from
    ``_metric_rows`` (any metric, multichannel input): each cell is
    exactly ``min(...) + local``, so it is bit-identical to the C kernel
    and the scalar second-source oracle (scripts/naive_dtw.py) —
    including trackback-tie and NN-loc outcomes on tied plateaus. The
    reference placement at tc != 1 has no C kernel: it is ``_band_rows``
    with that placement's move weights.
    """
    d = get_dist(dist)
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    m = _lastlen(a)
    if _lastlen(b) != m:
        raise ValueError(
            f"a and b must have the same length, got {m} and {_lastlen(b)}; "
            "use dtw() for different lengths")
    if a.ndim != b.ndim:
        # the DP rows read a channel axis from the shape alone
        raise ValueError("a and b must both be 1-D or both (channels, n), "
                         f"got shapes {a.shape} and {b.shape}")
    r = int(r)
    if r < 0:
        raise ValueError(f"radius must be >= 0, got {r}")
    cb = np.zeros(m) if cumulative_bound is None else np.asarray(cumulative_bound, dtype=np.float64)
    if len(cb) != m:
        raise ValueError("cumulative_bound and a must have the same length")
    tc = float(transportcost)
    if transportcost_placement not in ("matrix", "reference"):
        raise ValueError(
            "transportcost_placement must be 'matrix' or 'reference', got "
            f"{transportcost_placement!r}")
    # the placements coincide at tc == 1; the reference one has no C kernel
    reference = transportcost_placement == "reference" and tc != 1.0
    if (not reference and a.ndim == 1 and b.ndim == 1 and m > 0
            and d.name == "sqeuclidean"):
        from . import native
        if native.available():
            return float(native.cost_band(a, b, r, tc,
                                          float(best_so_far), cb))
    cost = _band_rows(_metric_rows(d, a, b[None]), m, r, tc,
                      float(best_so_far), cb, reference=reference)
    return float(cost[0])
