"""Inner (per-time-slice) distances.

Matches the pluggable inner metrics of the reference
(Distances.jl SqEuclidean/Euclidean/Cityblock/Chebyshev, exercised at
reference test/runtests.jl:153-163). Series use **time as the last axis**
(reference README.md:11): 1-D ``(n,)`` is univariate, 2-D ``(channels, n)``
is multivariate; a time slice is ``x[..., i]``.
"""

from __future__ import annotations

import numpy as np

__all__ = ["SqEuclidean", "Euclidean", "Cityblock", "Chebyshev",
           "CustomDist", "get_dist"]


def _as2d(x: np.ndarray) -> np.ndarray:
    """View a series as (channels, n) with time last."""
    x = np.asarray(x, dtype=np.float64)
    return x[None, :] if x.ndim == 1 else x


class _Dist:
    """Base: subclasses define elementwise + pairwise forms, all vectorized."""

    name = "base"

    def __call__(self, a, b):
        """Distance between two time slices (scalars or channel vectors)."""
        raise NotImplementedError

    def pairwise(self, s1: np.ndarray, s2: np.ndarray) -> np.ndarray:
        """All-pairs local-cost matrix, shape (lastlen(s1), lastlen(s2)).

        Mirrors ``Distances.pairwise`` overloads at reference src/dtw.jl:34-38
        (broadcast for vectors, per-slice for multichannel) but fully
        vectorized in NumPy.
        """
        raise NotImplementedError


class SqEuclidean(_Dist):
    """Squared Euclidean — the reference default (src/dtw.jl:40)."""

    name = "sqeuclidean"

    def __call__(self, a, b):
        d = np.asarray(a, dtype=np.float64) - np.asarray(b, dtype=np.float64)
        return float(np.sum(d * d))

    def pairwise(self, s1, s2):
        a, b = _as2d(s1), _as2d(s2)
        # (n1, n2) = sum over channels of (a_i - b_j)^2
        diff = a[:, :, None] - b[:, None, :]
        return np.einsum("cij,cij->ij", diff, diff)


class Euclidean(_Dist):
    name = "euclidean"

    def __call__(self, a, b):
        d = np.asarray(a, dtype=np.float64) - np.asarray(b, dtype=np.float64)
        return float(np.sqrt(np.sum(d * d)))

    def pairwise(self, s1, s2):
        return np.sqrt(SqEuclidean().pairwise(s1, s2))


class Cityblock(_Dist):
    name = "cityblock"

    def __call__(self, a, b):
        return float(np.sum(np.abs(np.asarray(a, dtype=np.float64) - np.asarray(b, dtype=np.float64))))

    def pairwise(self, s1, s2):
        a, b = _as2d(s1), _as2d(s2)
        return np.abs(a[:, :, None] - b[:, None, :]).sum(axis=0)


class Chebyshev(_Dist):
    name = "chebyshev"

    def __call__(self, a, b):
        return float(np.max(np.abs(np.asarray(a, dtype=np.float64) - np.asarray(b, dtype=np.float64))))

    def pairwise(self, s1, s2):
        a, b = _as2d(s1), _as2d(s2)
        return np.abs(a[:, :, None] - b[:, None, :]).max(axis=0)


_REGISTRY = {
    "sqeuclidean": SqEuclidean,
    "euclidean": Euclidean,
    "cityblock": Cityblock,
    "chebyshev": Chebyshev,
}

# metrics whose time-slice distance is (x-y)^2 or |x-y| on scalars — the
# structural assumption behind the dtwnn LB cascade (local_costs); custom
# metrics fall outside it
BUILTIN_NAMES = frozenset(_REGISTRY)


def local_costs(name: str, x, y, channels: bool = False) -> np.ndarray:
    """Local costs d(x[..., t], y[..., t]) of the built-in metric ``name``
    at aligned time indices, broadcast over the leading axes: the one
    definition that the banded DP rows (``dtw._metric_rows``) and the
    search bounds (``dtwnn._lb_endpoints_all``) share.

    Without ``channels`` every element is a scalar time slice: (x - y)²
    for SqEuclidean, |x - y| for the other three. With ``channels``, axis
    -2 holds the channels and is reduced one channel at a time, in order,
    so a (k, c, w) block and each of its (c, w) rows sum alike.
    """
    diff = np.subtract(x, y)
    if not channels:
        if name == "sqeuclidean":
            diff *= diff
            return diff
        return np.abs(diff)
    if name in ("sqeuclidean", "euclidean"):
        diff *= diff
    else:
        diff = np.abs(diff)
    out = diff[..., 0, :].copy()
    for c in range(1, diff.shape[-2]):
        if name == "chebyshev":
            np.maximum(out, diff[..., c, :], out=out)
        else:
            out += diff[..., c, :]
    return np.sqrt(out) if name == "euclidean" else out


class CustomDist(_Dist):
    """User-supplied inner metric — the engine counterpart of the
    reference's any-``Distances.SemiMetric`` dispatch (src/dtw.jl:34-38,
    src/distance_interface.jl:17-26; metric plurality pinned at reference
    test/runtests.jl:153-163).

    Wraps a VECTORIZED pairwise callable
    ``fn(s1, s2) -> (lastlen(s1), lastlen(s2))`` local-cost matrix, with
    series shaped time-last like every built-in (1-D univariate or
    (channels, n) multichannel). The elementwise form and the banded
    DP's rows derive from it, so the metric threads through ``dtw`` /
    ``dtw_cost_matrix`` / ``banded_dtw_cost_matrix`` / ``dtw_cost`` /
    ``soft_dtw_cost`` and the Spark-side ``dtw_pairs`` unchanged: the
    sqeuclidean-only C fast paths gate on ``name`` and fall
    through to the generic NumPy DP. The envelope-pruned ``dtwnn``
    cascade requires the built-in metric family's scalar structure for
    its lower bounds to stay sound and rejects custom metrics with a
    clear error (the reference carries the matching caveat at
    src/dtwnn.jl:125,187-188 — LB_Keogh is only valid for ordered 1-D
    data under these metrics)."""

    def __init__(self, pairwise_fn, name: str = "custom"):
        if not callable(pairwise_fn):
            raise TypeError("pairwise_fn must be callable")
        name = str(name)
        if name in BUILTIN_NAMES:
            raise ValueError(
                f"custom metric may not shadow built-in name {name!r} "
                "(fast-path dispatch keys on it)")
        self._fn = pairwise_fn
        self.name = name

    def __call__(self, a, b):
        a = np.asarray(a, dtype=np.float64)
        b = np.asarray(b, dtype=np.float64)
        # a time slice is a scalar (1-D series) or a channel vector (2-D):
        # lift to a length-1 series and take the (1, 1) pairwise cell
        A = a.reshape(1) if a.ndim == 0 else a[:, None]
        B = b.reshape(1) if b.ndim == 0 else b[:, None]
        return float(np.asarray(self.pairwise(A, B)).reshape(()))

    def pairwise(self, s1, s2):
        s1 = np.asarray(s1, dtype=np.float64)
        s2 = np.asarray(s2, dtype=np.float64)
        # fresh C-contiguous copy, never a view of the callable's result:
        # dtw_cost_matrix runs its DP IN PLACE on this array, so handing
        # back user-owned memory (a memoized buffer, a broadcast view, a
        # read-only array) would corrupt the user's cache or crash —
        # built-in metrics always allocate, custom callables may not.
        # C order also pins the reduction-association layout (CLAUDE.md
        # memory-order note).
        out = np.array(self._fn(s1, s2), dtype=np.float64, order="C",
                       copy=True)
        want = (s1.shape[-1], s2.shape[-1])
        if out.shape != want:
            raise ValueError(
                f"custom metric returned shape {out.shape}, expected "
                f"(lastlen(s1), lastlen(s2)) = {want}")
        return out


def get_dist(dist) -> _Dist:
    """Resolve a distance spec
    (name | instance | vectorized pairwise callable | None→SqEuclidean)."""
    if dist is None:
        return SqEuclidean()
    if isinstance(dist, _Dist):
        return dist
    if isinstance(dist, str):
        return _REGISTRY[dist.lower()]()
    if callable(dist):
        return CustomDist(dist)
    raise TypeError(f"unknown distance spec: {dist!r}")
