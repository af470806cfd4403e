"""Native (C/ctypes) kernel parity against the NumPy DP paths.

The native kernels are an accelerator with identical semantics; every
function must agree with the NumPy implementation to fp-reassociation
tolerance, and the module must degrade cleanly when disabled."""

import os

import numpy as np
import pytest

from dynamicaxiswarping_jl_spark.kernels import native
import importlib

K = importlib.import_module("dynamicaxiswarping_jl_spark.kernels.dtw")


@pytest.fixture(scope="module")
def pair():
    rng = np.random.default_rng(3)
    return rng.normal(size=300), rng.normal(size=300)


def _numpy_only():
    """Context: force the NumPy paths (restores native state afterwards)."""
    class Ctx:
        def __enter__(self):
            os.environ["SPARK_TSWARP_NO_NATIVE"] = "1"
            native._tried, native._lib = False, None

        def __exit__(self, *a):
            os.environ.pop("SPARK_TSWARP_NO_NATIVE", None)
            native._tried, native._lib = False, None
    return Ctx()


needs_native = pytest.mark.skipif(not native.available(),
                                  reason="no C compiler in environment")


@needs_native
class TestNativeParity:
    def test_full_matrix(self, pair):
        a, b = pair
        for tc in (1.0, 1.2):
            D_nat = K.dtw_cost_matrix(a, b, transportcost=tc)
            with _numpy_only():
                D_np = K.dtw_cost_matrix(a, b, transportcost=tc)
            np.testing.assert_allclose(D_nat, D_np, rtol=1e-12)

    def test_cost_band_and_batch(self, pair):
        a, b = pair
        for r in (0, 3, len(a) - 1):
            c_nat = K.dtw_cost(a, b, None, r)
            bt_nat = K.dtw_cost_batch(a, b[None, :], r)[0]
            with _numpy_only():
                c_np = K.dtw_cost(a, b, None, r)
            assert c_nat == pytest.approx(c_np, rel=1e-12)
            assert bt_nat == pytest.approx(c_np, rel=1e-12)

    def test_early_abandon_is_lower_bound(self, pair):
        a, b = pair
        exact = K.dtw_cost(a, b, None, 5)
        partial = K.dtw_cost(a, b, None, 5, best_so_far=exact / 4)
        assert partial >= exact / 4
        assert partial <= exact + 1e-9

    def test_cumulative_bound_abandon_matches_numpy(self, pair):
        a, b = pair
        cb = np.linspace(3.0, 0.0, len(a))
        bsf = K.dtw_cost(a, b, None, 5) * 0.8
        got = K.dtw_cost(a, b, None, 5, best_so_far=bsf, cumulative_bound=cb)
        with _numpy_only():
            want = K.dtw_cost(a, b, None, 5, best_so_far=bsf,
                              cumulative_bound=cb)
        assert got == pytest.approx(want, rel=1e-12)

    def test_float32_batch_dtype(self):
        rng = np.random.default_rng(1)
        q = rng.normal(size=50).astype(np.float32)
        W = rng.normal(size=(8, 50)).astype(np.float32)
        out = K.dtw_cost_batch(q, W, 4)
        assert out.dtype == np.float32
        with _numpy_only():
            want = K.dtw_cost_batch(q, W, 4)
        np.testing.assert_allclose(out, want, rtol=1e-5)

    def test_multichannel_falls_back(self):
        rng = np.random.default_rng(2)
        A, B = rng.normal(size=(3, 40)), rng.normal(size=(3, 44))
        got = K.dtw_cost_matrix(A, B)  # 2-D: must not hit the 1-D C path
        with _numpy_only():
            want = K.dtw_cost_matrix(A, B)
        np.testing.assert_allclose(got, want, rtol=1e-12)

    def test_disable_env_var(self, pair):
        a, b = pair
        with _numpy_only():
            assert not native.available()
            assert np.isfinite(K.dtw_cost(a, b, None, 5))
        assert native.available()


@needs_native
class TestLbEnvSubsetParity:
    """Every branch of the C LB_Keogh subset kernel (dist × znorm)
    against the NumPy gather path — an inflated 'lower' bound would make
    dtwnn silently prune the true neighbor."""

    def _setup(self, dtype=np.float64):
        from dynamicaxiswarping_jl_spark.kernels.normalizers import (
            lower_upper_envs, sliding_znorm_stats, znorm)
        rng = np.random.default_rng(3)
        y = np.cumsum(rng.normal(size=20_000)).astype(dtype)
        m = 64
        q = znorm(np.cumsum(rng.normal(size=m))).astype(dtype)
        l, u = lower_upper_envs(q, 4)
        mu, sd = sliding_znorm_stats(y, m)
        sd = np.where(sd == 0, 1.0, sd)
        cand = np.sort(rng.choice(len(y) - m + 1, size=5_000,
                                  replace=False)).astype(np.int64)
        return y, m, l.astype(dtype), u.astype(dtype), \
            mu.astype(dtype), sd.astype(dtype), cand

    @pytest.mark.parametrize("dist", ["sqeuclidean", "euclidean",
                                      "cityblock"])
    @pytest.mark.parametrize("use_norm", [True, False])
    def test_branches_match_numpy(self, dist, use_norm):
        from dynamicaxiswarping_jl_spark.kernels.dtwnn import _lb_env_subset
        y, m, l, u, mu, sd, cand = self._setup()
        args = (mu, sd) if use_norm else (None, None)
        got = _lb_env_subset(dist, y, m, l, u, *args, cand)
        with _numpy_only():
            want = _lb_env_subset(dist, y, m, l, u, *args, cand)
        np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-14)

    def test_float32_branch(self):
        """float32 input runs in NumPy, keeps its dtype, and matches the
        float64 bound of the same values."""
        from dynamicaxiswarping_jl_spark.kernels.dtwnn import _lb_env_subset
        y, m, l, u, mu, sd, cand = self._setup(np.float32)
        got = _lb_env_subset("sqeuclidean", y, m, l, u, mu, sd, cand)
        assert got.dtype == np.float32
        y, l, u, mu, sd = (x.astype(np.float64) for x in (y, l, u, mu, sd))
        want = _lb_env_subset("sqeuclidean", y, m, l, u, mu, sd, cand)
        np.testing.assert_allclose(got, want.astype(np.float32), rtol=2e-4)


@needs_native
class TestGorillaCodecParity:
    """The C codec must be BIT-identical to the Python writer/reader —
    same payload bytes (hence same CRC), same round-trip values."""

    CASES = None

    @classmethod
    def cases(cls):
        if cls.CASES is None:
            rng = np.random.default_rng(7)
            big = np.cumsum(rng.integers(1, 1 << 40, size=200)).astype(np.int64)
            mixed = np.cumsum(np.concatenate(
                [[100], rng.choice([60, 61, 59, 60, 120, 3600],
                                   size=300)])).astype(np.int64)
            cls.CASES = [
                (np.arange(0, 3600 * 100, 3600, dtype=np.int64),
                 np.full(100, 2.5)),                       # all-zero runs
                (np.arange(0, 3600 * 500, 3600, dtype=np.int64),
                 np.cumsum(rng.normal(size=500))),          # dense xors
                (big, rng.normal(size=200)),                # 64-bit dod path
                (np.arange(9, dtype=np.int64) * 60,
                 np.array([0.0, -0.0, np.nan, np.inf, -np.inf,
                           1.0, 1.0, np.nan, 0.0])),        # special floats
                (np.array([5], dtype=np.int64), np.array([3.14])),  # n=1
                (mixed, np.round(rng.normal(size=301), 1)),  # small dods
            ]
        return cls.CASES

    def test_bytes_identical_to_python(self):
        import dynamicaxiswarping_jl_spark.operators.compression as C
        for i, (ts, vs) in enumerate(self.cases()):
            n, t0, v0, pc = C.gorilla_encode(ts, vs)
            with _numpy_only():
                n2, t02, v02, pp = C.gorilla_encode(ts, vs)
            assert (n, t0) == (n2, t02), i
            assert pc == pp, f"case {i}: payload bytes differ"

    def test_cross_decode(self):
        import dynamicaxiswarping_jl_spark.operators.compression as C
        for i, (ts, vs) in enumerate(self.cases()):
            n, t0, v0, payload = C.gorilla_encode(ts, vs)
            td, vd = C.gorilla_decode(n, t0, v0, payload)  # C decode
            with _numpy_only():
                tp, vp = C.gorilla_decode(n, t0, v0, payload)  # PY decode
            np.testing.assert_array_equal(td, ts, err_msg=str(i))
            np.testing.assert_array_equal(td, tp, err_msg=str(i))
            # bit-exact values incl. NaN payloads / signed zero
            np.testing.assert_array_equal(
                vd.view(np.uint64), vs.view(np.uint64), err_msg=str(i))
            np.testing.assert_array_equal(
                vp.view(np.uint64), vs.view(np.uint64), err_msg=str(i))

    def test_truncated_payload_falls_back_not_crashes(self):
        import dynamicaxiswarping_jl_spark.kernels.native as N
        ts = np.arange(0, 3600 * 50, 3600, dtype=np.int64)
        vs = np.cumsum(np.random.default_rng(1).normal(size=50))
        import dynamicaxiswarping_jl_spark.operators.compression as C
        n, t0, v0, payload = C.gorilla_encode(ts, vs)
        assert N.gorilla_decode(n, t0, v0, payload[: len(payload) // 2]) is None

    def test_hypothesis_cross_parity(self):
        """Randomized C-vs-Python byte parity: irregular timestamps across
        all dod tag widths, values mixing runs/specials/randoms."""
        from hypothesis import given, settings, strategies as st
        import dynamicaxiswarping_jl_spark.operators.compression as C

        special = [0.0, -0.0, float("nan"), float("inf"), -float("inf")]
        val = st.one_of(st.sampled_from(special),
                        st.floats(allow_nan=True, allow_infinity=True,
                                  width=64))
        gap = st.one_of(st.just(60), st.integers(1, 100),
                        st.integers(1, 1 << 41))
        series = st.lists(st.tuples(gap, val), min_size=1, max_size=120)

        @settings(max_examples=60, deadline=None)
        @given(series)
        def check(pairs):
            ts = np.cumsum([g for g, _ in pairs]).astype(np.int64)
            vs = np.array([v for _, v in pairs], dtype=np.float64)
            n, t0, v0, pc = C.gorilla_encode(ts, vs)
            with _numpy_only():
                _, _, _, pp = C.gorilla_encode(ts, vs)
                tp, vp = C.gorilla_decode(n, t0, v0, pc)
            td, vd = C.gorilla_decode(n, t0, v0, pc)
            assert pc == pp
            np.testing.assert_array_equal(td, ts)
            np.testing.assert_array_equal(tp, ts)
            np.testing.assert_array_equal(vd.view(np.uint64),
                                          vs.view(np.uint64))
            np.testing.assert_array_equal(vp.view(np.uint64),
                                          vs.view(np.uint64))

        check()


@needs_native
class TestGorillaCorruptGuards:
    def test_window_reuse_before_header_rejected(self):
        # Crafted payload: one ts record ('10' + 7-bit dod=1), then a value
        # control bit '1' (changed) followed by window bit '0' (reuse) with
        # NO window header ever emitted — a valid encoder cannot produce
        # this; the decoder must reject it instead of shifting by 64 (UB).
        payload = bytes([0xA0, 0x40])
        assert native.gorilla_decode(2, 0, 1.0, payload) is None

    def test_oversized_header_rejected(self):
        # lead=31 ('11111') + mean-1=63 ('111111') → lead+mean=95 > 64
        # ts record '10'+7bit(64)=dod 1, then '1','1', lead 5 bits, mean 6
        # bits → bits: 1 0 1000000 1 1 11111 111111 ...
        bits = "10" + "1000000" + "11" + "11111" + "111111" + "0" * 8
        by = bytes(int(bits[i:i + 8].ljust(8, "0"), 2)
                   for i in range(0, len(bits), 8))
        assert native.gorilla_decode(2, 0, 1.0, by) is None


@needs_native
class TestNativePathParity:
    def _pairs(self):
        rng = np.random.default_rng(17)
        yield rng.normal(size=200), rng.normal(size=200)
        yield rng.normal(size=150), rng.normal(size=210)  # unequal
        yield np.zeros(80), np.zeros(80)                  # all-ties
        yield np.repeat([1.0, 2.0], 40), np.repeat([1.0, 2.0], 45)

    def test_trackback_matches_python(self):
        for a, b in self._pairs():
            D = K.dtw_cost_matrix(a, b)
            got = K.trackback(D)
            with _numpy_only():
                want = K.trackback(D)
            assert got[0] == want[0]
            np.testing.assert_array_equal(got[1], want[1])
            np.testing.assert_array_equal(got[2], want[2])

    def test_banded_path_matches_dense(self):
        for a, b in self._pairs():
            for r in (0, 3, 25):
                imin, imax = K.radiuslimits(r, len(a), len(b))
                got = K.dtw(a, b, i2min=imin, i2max=imax)
                with _numpy_only():
                    want = K.dtw(a, b, i2min=imin, i2max=imax)
                assert got[0] == want[0]  # bit-identical, not approx
                np.testing.assert_array_equal(got[1], want[1])
                np.testing.assert_array_equal(got[2], want[2])

    def test_banded_path_matches_full_when_unconstrained(self):
        a, b = next(self._pairs())
        n = len(a)
        got = K.dtw(a, b, i2min=[1] * n, i2max=[n] * n)
        want = K.dtw(a, b)
        assert got[0] == pytest.approx(want[0], rel=1e-12)
        np.testing.assert_array_equal(got[1], want[1])
        np.testing.assert_array_equal(got[2], want[2])


@needs_native
class TestCrossPathBitParity:
    """The NumPy fallback, the C kernels, and the scalar second-source
    oracle (scripts/naive_dtw.py) must agree BIT-FOR-BIT — not approx.

    The committed golden parquet pins tie-sensitive integer outputs
    (trackback-path medians -> align delays, NN loc) that flip on 1-ulp
    cost differences over the zero plateaus gap-filled series are full
    of. Any prefix-scan 'optimization' of a fallback DP reassociates the
    sums and breaks this (found in round 3: a leaked
    SPARK_TSWARP_NO_NATIVE env flipped 3 driver oracles)."""

    @pytest.fixture(autouse=True)
    def _scripts_on_path(self):
        import sys
        p = os.path.join(os.path.dirname(__file__), "..", "scripts")
        sys.path.insert(0, p)
        yield
        sys.path.remove(p)

    def _inputs(self):
        # sparse spikes over zero plateaus — the shape assembled
        # gap-filled tier series actually have, and the worst case for
        # tie-break sensitivity
        for seed in range(5):
            rng = np.random.default_rng(seed)
            n = int(rng.integers(80, 220))
            m2 = int(rng.integers(80, 220))
            a = np.zeros(n)
            a[rng.integers(0, n, n // 6)] = rng.random(n // 6) * 3
            b = np.zeros(m2)
            b[rng.integers(0, m2, m2 // 7)] = rng.random(m2 // 7) * 3
            yield a, b

    def test_full_dtw_and_path(self):
        import naive_dtw
        for a, b in self._inputs():
            nv_c, nv_i1, nv_i2 = naive_dtw.dtw(a, b)
            c_c, c_i1, c_i2 = K.dtw(a, b)
            assert nv_c == c_c
            np.testing.assert_array_equal(nv_i1, c_i1)
            np.testing.assert_array_equal(nv_i2, c_i2)
            with _numpy_only():
                n_c, n_i1, n_i2 = K.dtw(a, b)
            assert nv_c == n_c
            np.testing.assert_array_equal(nv_i1, n_i1)
            np.testing.assert_array_equal(nv_i2, n_i2)

    def test_banded_cost_all_widths(self):
        import naive_dtw
        for a, b in self._inputs():
            L = min(len(a), len(b))
            # narrow, medium and wide bands through the C kernel and the
            # NumPy fallback's vectorized row loop
            for r in (3, 10, 25):
                want = naive_dtw.dtw_cost(a[:L], b[:L], r=r)
                got_c = K.dtw_cost(a[:L], b[:L], r=r)
                assert repr(want) == repr(got_c), (r, want, got_c)
                with _numpy_only():
                    got_np = K.dtw_cost(a[:L], b[:L], r=r)
                assert repr(want) == repr(got_np), (r, want, got_np)

    def test_batch_and_profiles(self):
        import naive_dtw
        from dynamicaxiswarping_jl_spark.kernels.dtwnn import (
            distance_profile, matrix_profile)
        for a, b in self._inputs():
            m = 24
            W = np.lib.stride_tricks.sliding_window_view(b, m).copy()
            q = b[5:5 + m].copy()
            want = np.asarray(naive_dtw.dtw_cost_batch(q, W, 5))
            np.testing.assert_array_equal(
                want, np.asarray(K.dtw_cost_batch(q, W, 5)))
            wp = np.asarray(naive_dtw.distance_profile(q, b, rad=5))
            wP, wI = naive_dtw.matrix_profile(b, m, rad=5)
            with _numpy_only():
                np.testing.assert_array_equal(
                    want, np.asarray(K.dtw_cost_batch(q, W, 5)))
                np.testing.assert_array_equal(
                    wp, np.asarray(distance_profile(q, b, rad=5)))
                gP, gI = matrix_profile(b, m, rad=5)
            np.testing.assert_array_equal(np.asarray(wP), np.asarray(gP))
            np.testing.assert_array_equal(np.asarray(wI), np.asarray(gI))


@needs_native
class TestResiduePairBatchParity:
    """native.nn_search over the k-best loop's cross-length pairs must be
    result-identical to per-pair Python calls: seeded dtwnn with the
    shorter series as the query (prune_endpoints only when len >= 2),
    Inf where the seed prunes every window."""

    def test_matches_python_loop(self):
        import dynamicaxiswarping_jl_spark.kernels as K
        from dynamicaxiswarping_jl_spark.kernels.dtwnn import _pack
        rng = np.random.default_rng(3)
        arrs_a, arrs_b = [], []
        for i in range(40):
            la = int(rng.integers(1, 50))
            arrs_a.append(np.cumsum(rng.normal(size=la)))
            lb = int(rng.integers(1, 50))
            arrs_b.append(np.cumsum(rng.normal(size=lb)))
        ia = rng.integers(0, 40, 500).astype(np.int64)
        ib = rng.integers(0, 40, 500).astype(np.int64)
        # seeds: mix of Inf (unseeded), generous, and brutally tight
        seeds = rng.choice([np.inf, 50.0, 1e-6], size=500)
        # one block of every series, a's then b's, with their envelopes;
        # the shorter series of each pair is its query (a on a tie)
        rows = arrs_a + arrs_b
        block = native.Block(*_pack(rows, [K.lower_upper_envs(x, 5)
                                           for x in rows]))
        la = np.array([len(arrs_a[i]) for i in ia])
        lb = np.array([len(arrs_b[j]) for j in ib])
        short = lb < la
        pairs = np.stack((np.where(short, 40 + ib, ia),
                          np.where(short, ia, 40 + ib),
                          np.zeros(500, dtype=np.int64)), axis=1)
        ends = np.minimum(la, lb) >= 2
        got = np.empty(500)
        for use_end in (True, False):
            sel = ends == use_end
            out = native.nn_search(block, block, pairs[sel], seeds[sel], 5,
                                   use_end=use_end)
            assert out is not None
            got[sel] = out[0]
        for p in range(500):
            a, b = arrs_a[ia[p]], arrs_b[ib[p]]
            s, l = sorted((a, b), key=len)
            want = K.dtwnn(s, l, "sqeuclidean", 5,
                           prune_endpoints=len(s) >= 2,
                           initial_bsf=seeds[p]).cost
            assert repr(float(want)) == repr(float(got[p])), \
                (p, want, got[p], len(a), len(b), seeds[p])


def test_c_exports_are_bound_and_called():
    """Source check, no compiler: the non-static functions defined in
    _native.c are exactly the symbols ``native._bind`` declares, and
    native.py calls each of them outside ``_bind``, so deleting a wrapper
    cannot leave its C kernel behind."""
    import inspect
    import re
    src = native._source().decode()
    src = re.sub(r"/\*.*?\*/|//[^\n]*", "", src, flags=re.S)
    src = src.replace("\\\n", " ")  # a macro body becomes one # line
    src = "\n".join(l for l in src.splitlines() if not l.startswith("#"))
    defined = set(re.findall(
        r"^(?!static\b)[A-Za-z_][\w \t*]*?\b(\w+)\s*\([^;{)]*\)\s*\{",
        src, flags=re.M))
    bind = inspect.getsource(native._bind)
    bound = set(re.findall(r"lib\.(\w+)\.argtypes", bind))
    assert defined == bound
    rest = inspect.getsource(native).replace(bind, "")
    uncalled = sorted(s for s in bound if not re.search(rf"\.{s}\(", rest))
    assert not uncalled, f"bound but never called: {uncalled}"
