"""Normalizers + LB_Keogh envelopes.

Reference semantics: ZNormalizer re-exported from SlidingDistancesBase and
pinned by runtests.jl:523-531 — each sliding window has mean ≈ 0 and
**uncorrected** (ddof=0) std ≈ 1 after normalization. Envelopes are the
UCR-style sliding min/max of radius r (reference src/dtwnn.jl:52-97, deque
implementation); here computed with NumPy sliding windows — O(m·r) vectorized
beats per-element Python.
"""

from __future__ import annotations

import numpy as np

__all__ = ["znorm", "diagonal_znorm", "norm_normalize",
           "sliding_znorm_stats", "lower_upper_envs"]


def znorm(x: np.ndarray) -> np.ndarray:
    """Z-normalize with uncorrected std (ddof=0, runtests.jl:528).

    A constant series (std == 0) maps to zeros.
    """
    x = np.asarray(x, dtype=np.float64)
    mu = x.mean()
    sd = x.std(ddof=0)
    if sd == 0.0:
        return np.zeros_like(x)
    return (x - mu) / sd


def diagonal_znorm(x: np.ndarray) -> np.ndarray:
    """Per-channel z-normalization for multichannel series (channels ×
    time, time last) — the reference's re-exported ``DiagonalZNormalizer``
    (src/DynamicAxisWarping.jl:45-47): each channel is normalized
    independently with uncorrected std; constant channels map to zeros."""
    x = np.asarray(x, dtype=np.float64)
    if x.ndim == 1:
        return znorm(x)
    mu = x.mean(axis=-1, keepdims=True)
    sd = x.std(axis=-1, ddof=0, keepdims=True)
    out = np.where(sd == 0.0, 0.0, (x - mu) / np.where(sd == 0.0, 1.0, sd))
    return out


def norm_normalize(x: np.ndarray) -> np.ndarray:
    """Scale to unit Euclidean (Frobenius) norm — the reference's
    re-exported ``NormNormalizer``; zero series stay zero."""
    x = np.asarray(x, dtype=np.float64)
    n = np.linalg.norm(x)
    return x if n == 0.0 else x / n


def sliding_znorm_stats(y: np.ndarray, m: int):
    """(means, stds) of every length-m window of y via the cumulative-sum
    trick (reference's online ZNormalizer `advance!` equivalent,
    src/dtwnn.jl:163,199 — O(n) total instead of O(n·m))."""
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    if m > n:
        raise ValueError("window longer than series")
    c1 = np.concatenate(([0.0], np.cumsum(y)))
    c2 = np.concatenate(([0.0], np.cumsum(y * y)))
    s1 = c1[m:] - c1[:-m]
    s2 = c2[m:] - c2[:-m]
    mu = s1 / m
    var = np.maximum(s2 / m - mu * mu, 0.0)
    return mu, np.sqrt(var)


def lower_upper_envs(q: np.ndarray, r: int):
    """LB_Keogh envelopes: ``l[i] = min(q[i-r : i+r])``,
    ``u[i] = max(q[i-r : i+r])`` (inclusive, clipped to bounds) —
    the sliding-extrema envelope of reference src/dtwnn.jl:52-97.

    Vectorized as a strided (m, 2r+1) window view over a copy padded
    with r edge values on each side: a clipped window always holds its
    series end, so repeating that end changes no min or max, and the
    plain reductions need no NaN-skipping.
    """
    q = np.asarray(q, dtype=np.float64)
    padded = np.concatenate((np.full(r, q[0]), q, np.full(r, q[-1])))
    # the view built directly: as_strided costs a few µs more per call,
    # which a one-pair search pays on every call
    win = np.ndarray((len(q), 2 * r + 1), padded.dtype, padded, 0,
                     padded.strides * 2)
    return win.min(axis=1), win.max(axis=1)
