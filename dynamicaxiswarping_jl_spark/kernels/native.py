"""ctypes loader for the optional C DTW kernels (_native.c).

The NumPy DP sweeps in dtw.py hit a per-row dispatch floor (~10 µs/row),
which puts single-pair full/banded DTW 10-25× over the reference's SIMD
numbers. _native.c is the same recurrence as straight-line C; this module
compiles it once with the system C compiler into a content-hash-keyed
cached .so and exposes it. Everything degrades to the NumPy paths when no
compiler is available (``available()`` returns False) — set
``SPARK_TSWARP_NO_NATIVE=1`` to force the fallback. The kernels take
float64 only: float32 input runs in the NumPy bodies, which keep its
dtype. Of the cost matrices only the full one has a C kernel: banded
``dtw()`` runs ``banded_path`` on compact band storage, and a dense
banded matrix is the NumPy sweep. NN search has one entry,
``nn_search``, which runs a list of (query, series) pairs per call.

Executor-safe: the cache key is the source hash, the build is atomic
(tempfile + rename), so any number of Spark Python workers can race the
first compile; losers just rename over an identical file or load the
winner's.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import platform
import subprocess
import tempfile
import threading

import numpy as np

__all__ = ["available", "lib"]

_lock = threading.Lock()
_lib = None
_tried = False

# -ffp-contract=off: forbid FMA contraction of `best + dv*dv` so the C DPs
# are bit-identical to the scalar second-source oracle (scripts/naive_dtw.py)
# and the committed golden parquet does not depend on which path computed
# them. Tie-sensitive integer outputs (trackback paths → align delays, NN
# loc) flip on 1-ulp cost differences, so "close" is not enough here.
_CFLAGS = ["-O3", "-march=native", "-ffp-contract=off", "-fPIC", "-shared"]


def _source() -> bytes:
    """_native.c bytes — via importlib.resources so it also resolves when
    the package ships inside engine.zip (spark-submit --py-files)."""
    try:
        from importlib.resources import files
        return files(__package__).joinpath("_native.c").read_bytes()
    except Exception:  # noqa: BLE001 — fall back to a plain file path
        p = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "_native.c")
        with open(p, "rb") as f:
            return f.read()


def _host_tag() -> str:
    """CPU identity folded into the cache key: -march=native binaries are
    ISA-specific, and a home dir shared across heterogeneous nodes must
    not serve one node's AVX-512 build to an older core (SIGILL)."""
    tag = platform.machine()
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith(("model name", "flags")):
                    tag += line
                    if line.startswith("flags"):
                        break
    except OSError:
        pass
    return hashlib.sha256(tag.encode()).hexdigest()[:8]


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME",
                          os.path.join(os.path.expanduser("~"), ".cache"))
    d = os.path.join(base, "spark_tswarp_native")
    os.makedirs(d, exist_ok=True)
    return d


def _compile() -> str | None:
    src = _source()
    key = hashlib.sha256(src + " ".join(_CFLAGS).encode()).hexdigest()[:16]
    so = os.path.join(_cache_dir(), f"dtwnative_{key}_{_host_tag()}.so")
    if os.path.exists(so):
        return so
    for cc in ("cc", "gcc", "clang"):
        tmp = None
        csrc = None
        try:
            fd, csrc = tempfile.mkstemp(suffix=".c", dir=_cache_dir())
            with os.fdopen(fd, "wb") as f:
                f.write(src)  # compile from a real file (src may be zipped)
            fd, tmp = tempfile.mkstemp(suffix=".so", dir=_cache_dir())
            os.close(fd)
            res = subprocess.run(
                [cc, *_CFLAGS, "-o", tmp, csrc, "-lm"],
                capture_output=True, timeout=120)
            if res.returncode == 0:
                os.replace(tmp, so)  # atomic: racing workers converge
                return so
        except (OSError, subprocess.SubprocessError):
            pass
        finally:
            for p in (tmp, csrc):
                if p is not None and os.path.exists(p) and p != so:
                    try:
                        os.unlink(p)
                    except OSError:
                        pass
    return None


def _bind(lib: ctypes.CDLL) -> ctypes.CDLL:
    dp = ctypes.POINTER(ctypes.c_double)
    lp = ctypes.POINTER(ctypes.c_long)
    lib.dtw_full_sq.argtypes = [dp, ctypes.c_long, dp, ctypes.c_long,
                                ctypes.c_double, dp]
    lib.dtw_full_sq.restype = None
    lib.dtw_cost_band_sq.argtypes = [dp, dp, ctypes.c_long, ctypes.c_long,
                                     ctypes.c_double, ctypes.c_double, dp, dp]
    lib.dtw_cost_band_sq.restype = ctypes.c_double
    llp = ctypes.POINTER(ctypes.c_longlong)
    lib.dtw_trackback.argtypes = [dp, ctypes.c_long, ctypes.c_long, llp, llp]
    lib.dtw_trackback.restype = ctypes.c_long
    lib.dtw_banded_path_sq.argtypes = [dp, ctypes.c_long, dp, ctypes.c_long,
                                       lp, lp, lp, ctypes.c_double, dp,
                                       llp, llp, llp]
    lib.dtw_banded_path_sq.restype = ctypes.c_double
    lib.dtw_cost_batch_sq.argtypes = [
        dp, ctypes.c_int, dp, ctypes.c_long, ctypes.c_long, ctypes.c_long,
        ctypes.c_double, dp, dp]
    lib.dtw_cost_batch_sq.restype = None
    lib.lb_env_subset.argtypes = [
        dp, ctypes.c_long, dp, dp, dp, dp, ctypes.c_int, ctypes.c_int,
        lp, ctypes.c_long, dp]
    lib.lb_env_subset.restype = None
    # array arguments as bare addresses: Block takes them once per block
    vp, cl, ci = ctypes.c_void_p, ctypes.c_long, ctypes.c_int
    lib.nn_search_sq.argtypes = [vp, vp, vp, vp, cl, vp, vp, vp, vp, vp,
                                 vp, cl, cl, ci, ci, ci, ctypes.c_double,
                                 cl, cl, vp, vp]
    lib.nn_search_sq.restype = ci
    ub = ctypes.POINTER(ctypes.c_ubyte)
    ll = ctypes.POINTER(ctypes.c_longlong)
    lib.gorilla_encode_c.argtypes = [ll, dp, ctypes.c_long, ub,
                                     ctypes.c_long]
    lib.gorilla_encode_c.restype = ctypes.c_long
    lib.gorilla_decode_c.argtypes = [ctypes.c_long, ctypes.c_longlong,
                                     ctypes.c_double, ub, ctypes.c_long,
                                     ll, dp]
    lib.gorilla_decode_c.restype = ctypes.c_int
    return lib


def lib():
    """The loaded CDLL, or None when native kernels are unavailable."""
    global _lib, _tried
    if _tried:
        return _lib
    with _lock:
        if _tried:
            return _lib
        if os.environ.get("SPARK_TSWARP_NO_NATIVE"):
            _tried = True
            return None
        try:
            so = _compile()
            if so is not None:
                _lib = _bind(ctypes.CDLL(so))
        except Exception:  # noqa: BLE001 — any failure degrades to NumPy
            _lib = None
        _tried = True
    return _lib


def available() -> bool:
    return lib() is not None


def _ptr(a: np.ndarray, ct):
    return a.ctypes.data_as(ctypes.POINTER(ct))


def full_matrix(s1: np.ndarray, s2: np.ndarray, tc: float) -> np.ndarray:
    """(m, n) full cumulative matrix, rows = s2, cols = s1."""
    L = lib()
    s1 = np.ascontiguousarray(s1, dtype=np.float64)
    s2 = np.ascontiguousarray(s2, dtype=np.float64)
    D = np.empty((len(s2), len(s1)), dtype=np.float64)
    L.dtw_full_sq(_ptr(s1, ctypes.c_double), len(s1),
                  _ptr(s2, ctypes.c_double), len(s2), tc,
                  _ptr(D, ctypes.c_double))
    return D


def trackback(D: np.ndarray):
    """(cost, cols, rows) trackback on a dense C-contiguous float64
    matrix — same tie rule as dtw.trackback."""
    L = lib()
    m, n = D.shape
    ti1 = np.empty(m + n, dtype=np.int64)
    ti2 = np.empty(m + n, dtype=np.int64)
    ll = ctypes.c_longlong
    k = L.dtw_trackback(_ptr(D, ctypes.c_double), m, n,
                        _ptr(ti1, ll), _ptr(ti2, ll))
    return float(D[-1, -1]), ti1[:k][::-1].copy(), ti2[:k][::-1].copy()


def banded_path(s1: np.ndarray, s2: np.ndarray, lo0: np.ndarray,
                hi0: np.ndarray, tc: float):
    """Banded DTW (cost, cols, rows) without materializing the dense
    matrix: compact band storage + in-band trackback."""
    L = lib()
    s1 = np.ascontiguousarray(s1, dtype=np.float64)
    s2 = np.ascontiguousarray(s2, dtype=np.float64)
    lo0 = np.ascontiguousarray(lo0, dtype=np.int64)
    hi0 = np.ascontiguousarray(hi0, dtype=np.int64)
    widths = hi0 - lo0 + 1
    off = np.zeros(len(lo0), dtype=np.int64)
    np.cumsum(widths[:-1], out=off[1:])
    band = np.empty(int(widths.sum()), dtype=np.float64)
    n, m = len(s1), len(s2)
    ti1 = np.empty(m + n, dtype=np.int64)
    ti2 = np.empty(m + n, dtype=np.int64)
    plen = np.zeros(1, dtype=np.int64)
    ll = ctypes.c_longlong
    cost = L.dtw_banded_path_sq(
        _ptr(s1, ctypes.c_double), n, _ptr(s2, ctypes.c_double), m,
        _ptr(lo0, ctypes.c_long), _ptr(hi0, ctypes.c_long),
        _ptr(off, ctypes.c_long), tc, _ptr(band, ctypes.c_double),
        _ptr(ti1, ll), _ptr(ti2, ll), _ptr(plen, ll))
    k = int(plen[0])
    return float(cost), ti1[:k][::-1].copy(), ti2[:k][::-1].copy()


def cost_band(a: np.ndarray, b: np.ndarray, r: int, tc: float,
              bsf: float, cb: np.ndarray) -> float:
    L = lib()
    a = np.ascontiguousarray(a, dtype=np.float64)
    b = np.ascontiguousarray(b, dtype=np.float64)
    cb = np.ascontiguousarray(cb, dtype=np.float64)
    m = len(a)
    w = min(2 * r + 1, m)
    buf = np.empty(2 * w, dtype=np.float64)
    return L.dtw_cost_band_sq(_ptr(a, ctypes.c_double),
                              _ptr(b, ctypes.c_double), m, r, tc, bsf,
                              _ptr(cb, ctypes.c_double),
                              _ptr(buf, ctypes.c_double))


def lb_env_subset(y: np.ndarray, m: int, l: np.ndarray, u: np.ndarray,
                  mu, sd, squared: bool, cand: np.ndarray) -> np.ndarray:
    """LB_Keogh totals for candidate window starts — streaming C pass,
    no window gather (the NumPy subset path materializes (k, m) copies)."""
    L = lib()
    dp = ctypes.c_double
    y = np.ascontiguousarray(y, dtype=np.float64)
    l = np.ascontiguousarray(l, dtype=np.float64)
    u = np.ascontiguousarray(u, dtype=np.float64)
    cand = np.ascontiguousarray(cand, dtype=np.int64)
    out = np.empty(len(cand), dtype=np.float64)
    use_norm = 1 if mu is not None else 0
    if use_norm:
        mu = np.ascontiguousarray(mu, dtype=np.float64)
        sd = np.ascontiguousarray(sd, dtype=np.float64)
        mp, sp = _ptr(mu, dp), _ptr(sd, dp)
    else:
        mp = sp = _ptr(y, dp)  # unused by C when use_norm == 0
    L.lb_env_subset(_ptr(y, dp), m, _ptr(l, dp), _ptr(u, dp), mp, sp,
                    use_norm, 1 if squared else 0,
                    _ptr(cand, ctypes.c_long), len(cand), _ptr(out, dp))
    return out


class Block:
    """Series packed end to end for ``nn_search``: ``dtwnn._pack``'s
    values, (n, 2) int64 rows of (offset, length), and for a block of
    queries their envelopes, made contiguous with their C addresses
    taken once, so a block searched many times is prepared once."""

    def __init__(self, values, ix, lenv=None, uenv=None):
        self.arrays = [np.ascontiguousarray(a, dtype=t) for a, t in (
            (values, np.float64), (ix, np.int64), (lenv, np.float64),
            (uenv, np.float64)) if a is not None]  # keeps ``addr`` alive
        self.addr = [a.ctypes.data for a in self.arrays]


def nn_search(queries: Block, series: Block, pairs, seeds, rad: int,
              mu=None, sd=None, *, use_end: bool = True,
              use_env: bool = True, thread: bool = False,
              bsf_mult: float = 1.0, avoid: tuple = (0, 0)):
    """The whole search cascade (``nn_search_sq`` in _native.c) for a
    list of (query, series) pairs in one C call; SqEuclidean, 1-D,
    float64. ``queries`` holds the normalized queries and their
    envelopes. ``pairs`` is (np, 3): query row, series row, and where the
    pair's sliding window stats start in ``mu`` and ``sd`` (None: no
    z-normalization; ``sd`` zero-replaced). Pair p starts from
    ``seeds[p]``, and with ``thread`` from its query's least cost so far
    in this call when lower. ``avoid`` is a 1-based inclusive range of
    window starts skipped in every pair ((0, 0): none). No query row may
    be longer than its series row.

    Returns ``(cost, rec)``, rec (np, 3) int64 of (loc, prune_end,
    prune_env): per pair, ``dtwnn``'s record (cost Inf where the seed
    pruned every window). None on C-side allocation failure."""
    pairs = np.ascontiguousarray(pairs, dtype=np.int64)
    seeds = np.ascontiguousarray(seeds, dtype=np.float64)
    n = len(pairs)
    out = np.empty(4 * n)  # the costs, then the records as int64
    at = out.ctypes.data
    if mu is not None:
        mu = np.ascontiguousarray(mu, dtype=np.float64)
        sd = np.ascontiguousarray(sd, dtype=np.float64)
    q, qix, lenv, uenv = queries.addr
    rc = lib().nn_search_sq(
        q, lenv, uenv, qix, len(queries.arrays[1]), series.addr[0],
        series.addr[1], None if mu is None else mu.ctypes.data,
        None if sd is None else sd.ctypes.data, pairs.ctypes.data,
        seeds.ctypes.data, n, int(rad), bool(use_end), bool(use_env),
        bool(thread), float(bsf_mult), int(avoid[0]), int(avoid[1]), at,
        at + 8 * n)
    return None if rc != 0 else (out[:n],
                                 out[n:].view(np.int64).reshape(n, 3))


def gorilla_encode(ts: np.ndarray, vals: np.ndarray):
    """Bit-identical C encode → payload bytes, or None if the scratch cap
    was insufficient (caller falls back to the Python writer)."""
    L = lib()
    ts = np.ascontiguousarray(ts, dtype=np.int64)
    vals = np.ascontiguousarray(vals, dtype=np.float64)
    n = len(ts)
    # worst case ≈ (4+64) ts bits + (2+11+64) value bits ≈ 18.2 B/record
    cap = 24 * n + 64
    out = np.empty(cap, dtype=np.uint8)
    got = L.gorilla_encode_c(
        _ptr(ts, ctypes.c_longlong), _ptr(vals, ctypes.c_double), n,
        _ptr(out, ctypes.c_ubyte), cap)
    if got < 0:
        return None
    return out[:got].tobytes()


def gorilla_decode(n: int, t0: int, v0: float, payload: bytes):
    """Bit-identical C decode → (ts int64[n], vals float64[n]), or None on
    payload overrun (caller falls back to the Python reader)."""
    L = lib()
    buf = np.frombuffer(payload, dtype=np.uint8)
    ts = np.empty(n, dtype=np.int64)
    vals = np.empty(n, dtype=np.float64)
    rc = L.gorilla_decode_c(
        n, int(t0), float(v0),
        _ptr(np.ascontiguousarray(buf), ctypes.c_ubyte), len(buf),
        _ptr(ts, ctypes.c_longlong), _ptr(vals, ctypes.c_double))
    if rc != 0:
        return None
    return ts, vals


def cost_batch(q: np.ndarray, W: np.ndarray, r: int, tc: float) -> np.ndarray:
    """Batched banded costs in float64 (see dtw_cost_batch)."""
    L = lib()
    dp = ctypes.c_double
    q = np.ascontiguousarray(q, dtype=np.float64)
    W = np.ascontiguousarray(W, dtype=np.float64)
    k, m = W.shape
    pairwise = 1 if q.ndim == 2 else 0
    out = np.empty(k, dtype=np.float64)
    w = min(2 * int(r) + 1, m)
    buf = np.empty(2 * w, dtype=np.float64)
    L.dtw_cost_batch_sq(_ptr(q, dp), pairwise, _ptr(W, dp), k, m, int(r),
                        tc, _ptr(out, dp), _ptr(buf, dp))
    return out
