"""ctypes loader for the optional C DTW kernels (_native.c).

The NumPy DP sweeps in dtw.py hit a per-row dispatch floor (~10 µs/row),
which puts single-pair full/banded DTW 10-25× over the reference's SIMD
numbers. _native.c is the same recurrence as straight-line C; this module
compiles it once with the system C compiler into a content-hash-keyed
cached .so and exposes it. Everything degrades to the NumPy paths when no
compiler is available (``available()`` returns False) — set
``SPARK_TSWARP_NO_NATIVE=1`` to force the fallback.

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
    fp = ctypes.POINTER(ctypes.c_float)
    lp = ctypes.POINTER(ctypes.c_long)
    lib.dtw_full_sq.argtypes = [dp, ctypes.c_long, dp, ctypes.c_long,
                                ctypes.c_double, dp]
    lib.dtw_full_sq.restype = None
    lib.dtw_banded_sq.argtypes = [dp, ctypes.c_long, dp, ctypes.c_long,
                                  lp, lp, ctypes.c_double, dp]
    lib.dtw_banded_sq.restype = None
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
    lib.dtw_cost_batch_sq_f64.argtypes = [
        dp, ctypes.c_int, dp, ctypes.c_long, ctypes.c_long, ctypes.c_long,
        ctypes.c_double, dp, dp]
    lib.dtw_cost_batch_sq_f64.restype = None
    lib.dtw_cost_batch_sq_f32.argtypes = [
        fp, ctypes.c_int, fp, ctypes.c_long, ctypes.c_long, ctypes.c_long,
        ctypes.c_double, fp, fp]
    lib.dtw_cost_batch_sq_f32.restype = None
    lib.nn_search_pairs_sq_f64.argtypes = [
        dp, ctypes.c_long, dp, llp, llp, llp,
        ctypes.c_long, ctypes.c_long, dp, dp, dp]
    lib.nn_search_pairs_sq_f64.restype = ctypes.c_int
    lib.lb_env_subset_f64.argtypes = [
        dp, ctypes.c_long, dp, dp, dp, dp, ctypes.c_int, ctypes.c_int,
        lp, ctypes.c_long, dp]
    lib.lb_env_subset_f64.restype = None
    lib.lb_env_subset_f32.argtypes = [
        fp, ctypes.c_long, fp, fp, fp, fp, ctypes.c_int, ctypes.c_int,
        lp, ctypes.c_long, fp]
    lib.lb_env_subset_f32.restype = None
    for nm, tptr in (("nn_search_sq_f64", dp), ("nn_search_sq_f32", fp)):
        fn = getattr(lib, nm)
        fn.argtypes = [
            tptr, ctypes.c_long, tptr, ctypes.c_long, ctypes.c_long,
            tptr, tptr, tptr, tptr,
            ctypes.c_int, ctypes.c_int, ctypes.c_int,
            ctypes.c_double, ctypes.c_double,
            ctypes.c_long, ctypes.c_long,
            ctypes.POINTER(ctypes.c_double),
            ctypes.POINTER(ctypes.c_longlong),
            ctypes.POINTER(ctypes.c_longlong),
            ctypes.POINTER(ctypes.c_longlong)]
        fn.restype = ctypes.c_int
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


def banded_matrix(s1: np.ndarray, s2: np.ndarray, lo0: np.ndarray,
                  hi0: np.ndarray, tc: float) -> np.ndarray:
    L = lib()
    s1 = np.ascontiguousarray(s1, dtype=np.float64)
    s2 = np.ascontiguousarray(s2, dtype=np.float64)
    lo0 = np.ascontiguousarray(lo0, dtype=np.int64)
    hi0 = np.ascontiguousarray(hi0, dtype=np.int64)
    D = np.full((len(s2), len(s1)), np.inf, dtype=np.float64)
    L.dtw_banded_sq(_ptr(s1, ctypes.c_double), len(s1),
                    _ptr(s2, ctypes.c_double), len(s2),
                    _ptr(lo0, ctypes.c_long), _ptr(hi0, ctypes.c_long),
                    tc, _ptr(D, ctypes.c_double))
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
    dt = np.float32 if np.asarray(y).dtype == np.float32 else np.float64
    ct = ctypes.c_float if dt == np.float32 else ctypes.c_double
    fn = L.lb_env_subset_f32 if dt == np.float32 else L.lb_env_subset_f64
    y = np.ascontiguousarray(y, dtype=dt)
    l = np.ascontiguousarray(l, dtype=dt)
    u = np.ascontiguousarray(u, dtype=dt)
    cand = np.ascontiguousarray(cand, dtype=np.int64)
    out = np.empty(len(cand), dtype=dt)
    use_norm = 1 if mu is not None else 0
    if use_norm:
        mu = np.ascontiguousarray(mu, dtype=dt)
        sd = np.ascontiguousarray(sd, dtype=dt)
        mp, sp = _ptr(mu, ct), _ptr(sd, ct)
    else:
        mp = sp = _ptr(y, ct)  # unused by C when use_norm == 0
    fn(_ptr(y, ct), m, _ptr(l, ct), _ptr(u, ct), mp, sp,
       use_norm, 1 if squared else 0,
       _ptr(cand, ctypes.c_long), len(cand), _ptr(out, ct))
    return out


def nn_search(qn: np.ndarray, y: np.ndarray, rad: int, lenv: np.ndarray,
              uenv: np.ndarray, mu, sd, bsf_in: float, bsf_mult: float,
              avoid_lo: int, avoid_hi: int, use_end: bool, use_env: bool):
    """Whole-cascade subsequence NN for one (query, series) pair — one C
    call instead of ~40 NumPy/ctypes dispatches. SqEuclidean only: its
    exact DP is band_cost, the body of ``cost_batch``. Returns (cost,
    loc, prune_end, prune_env) with cost/loc identical to the exact
    stage of ``dtwnn.dtwnn`` in NumPy, or None on C-side allocation
    failure. ``qn`` is the (already normalized) query; ``mu``/``sd`` are
    per-window sliding stats (None for no normalization);
    ``avoid_lo/hi`` a 1-based inclusive masked window range (0, 0 =
    none)."""
    L = lib()
    dt = np.float32 if np.asarray(y).dtype == np.float32 else np.float64
    ct = ctypes.c_float if dt == np.float32 else ctypes.c_double
    fn = L.nn_search_sq_f32 if dt == np.float32 else L.nn_search_sq_f64
    qn = np.ascontiguousarray(qn, dtype=dt)
    y = np.ascontiguousarray(y, dtype=dt)
    lenv = np.ascontiguousarray(lenv, dtype=dt)
    uenv = np.ascontiguousarray(uenv, dtype=dt)
    use_znorm = 1 if mu is not None else 0
    if use_znorm:
        mu = np.ascontiguousarray(mu, dtype=dt)
        sd = np.ascontiguousarray(sd, dtype=dt)
        mp, sp = _ptr(mu, ct), _ptr(sd, ct)
    else:
        mp = sp = _ptr(y, ct)  # unused by C when use_znorm == 0
    cost = ctypes.c_double()
    loc = ctypes.c_longlong()
    pe = ctypes.c_longlong()
    pv = ctypes.c_longlong()
    rc = fn(_ptr(qn, ct), len(qn), _ptr(y, ct), len(y), rad,
            _ptr(lenv, ct), _ptr(uenv, ct), mp, sp,
            use_znorm, 1 if use_end else 0, 1 if use_env else 0,
            float(bsf_in), float(bsf_mult), int(avoid_lo), int(avoid_hi),
            ctypes.byref(cost), ctypes.byref(loc), ctypes.byref(pe),
            ctypes.byref(pv))
    if rc != 0:
        return None
    return float(cost.value), int(loc.value), int(pe.value), int(pv.value)


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
    """Batched banded costs; dtype (float32/float64) follows the inputs
    the same way dtw_cost_batch does."""
    L = lib()
    if np.asarray(q).dtype == np.float32 and np.asarray(W).dtype == np.float32:
        dt, ct, fn = np.float32, ctypes.c_float, L.dtw_cost_batch_sq_f32
    else:
        dt, ct, fn = np.float64, ctypes.c_double, L.dtw_cost_batch_sq_f64
    q = np.ascontiguousarray(q, dtype=dt)
    W = np.ascontiguousarray(W, dtype=dt)
    k, m = W.shape
    pairwise = 1 if q.ndim == 2 else 0
    out = np.empty(k, dtype=dt)
    w = min(2 * int(r) + 1, m)
    buf = np.empty(2 * w, dtype=dt)
    fn(_ptr(q, ct), pairwise, _ptr(W, ct), k, m, int(r), tc,
       _ptr(out, ct), _ptr(buf, ct))
    return out


def nn_search_pairs(q: np.ndarray, flat: np.ndarray, offs: np.ndarray,
                    lens: np.ndarray, rows: np.ndarray, rad: int,
                    seeds: np.ndarray) -> np.ndarray:
    """Seeded pair costs of one series ``q`` against the rows ``rows`` of
    a flat-packed block (row starts ``offs``, lengths ``lens``), the
    cross-length verifier of the k-NN k-best loop (dtwnn.knn_kbest).
    Pair p runs the nn_search cascade with the shorter series as the
    query (``q`` on a tie) seeded with seeds[p] — result-identical to a
    per-pair ``dtwnn(shorter, longer, initial_bsf=seeds[p],
    prune_endpoints=len(shorter) >= 2)``, whose ~100 µs/pair of wrapper
    overhead this call amortizes away. Returns costs (Inf where the seed
    pruned every window); None on C-side allocation failure."""
    L = lib()
    cll = ctypes.c_longlong
    q = np.ascontiguousarray(q, dtype=np.float64)
    flat = np.ascontiguousarray(flat, dtype=np.float64)
    offs = np.ascontiguousarray(offs, dtype=np.int64)
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    rows = np.ascontiguousarray(rows, dtype=np.int64)
    seeds = np.ascontiguousarray(seeds, dtype=np.float64)
    env_buf = np.empty(2 * max(len(q), 1), dtype=np.float64)
    out = np.empty(len(rows), dtype=np.float64)
    rc = L.nn_search_pairs_sq_f64(
        _ptr(q, ctypes.c_double), len(q), _ptr(flat, ctypes.c_double),
        _ptr(offs, cll), _ptr(lens, cll), _ptr(rows, cll), len(rows),
        int(rad), _ptr(seeds, ctypes.c_double),
        _ptr(env_buf, ctypes.c_double), _ptr(out, ctypes.c_double))
    if rc != 0:
        return None
    return out
