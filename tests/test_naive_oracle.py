"""The naive scalar golden oracle (scripts/naive_dtw.py) is the second
source for the DTW-family goldens — it must (a) reproduce the reference's
own golden vectors (runtests.jl, same constants as test_kernels_dtw.py)
and (b) agree with the engine kernels to fp-reassociation tolerance on
randomized inputs, with EXACT path/loc agreement."""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

import naive_dtw as NV  # noqa: E402

from dynamicaxiswarping_jl_spark import kernels as K  # noqa: E402

A = np.array([1, 1, 1, 2, 4, 6, 5, 5, 5, 4, 4, 3, 1, 1, 1], dtype=float)
B = np.array([1, 1, 2, 4, 6, 6, 6, 5, 4, 4, 4, 3, 3, 3, 1], dtype=float)


class TestReferenceGoldens:
    def test_dtw_zero_with_paths(self):
        # runtests.jl:76-88
        cost, i1, i2 = NV.dtw(A, B)
        assert cost == 0
        assert i1.tolist() == [1, 2, 3, 4, 5, 6, 6, 6, 7, 8, 9, 10, 10, 11,
                               12, 12, 12, 13, 14, 15]
        assert i2.tolist() == [1, 1, 2, 3, 4, 5, 6, 7, 8, 8, 8, 9, 10, 11,
                               12, 13, 14, 15, 15, 15]

    def test_dtw_cost_four_after_bump(self):
        # runtests.jl:95-105
        a = A.copy()
        a[-1] += 2
        cost, _, _ = NV.dtw(a, B)
        assert cost == 4
        assert NV.dtw_cost(a, B, "sqeuclidean", len(a)) == cost
        assert NV.dtw_cost(a, B, "sqeuclidean", 0) == pytest.approx(
            np.sum((a - B) ** 2))

    def test_diagonal_tie_preference(self):
        # runtests.jl:131-151
        cost, i1, i2 = NV.dtw(np.array([0.0, 1, 1, 1]),
                              np.array([0.0, 0, 1, 1]))
        assert cost == 0
        assert i1.tolist() == [1, 1, 2, 3, 4]
        assert i2.tolist() == [1, 2, 3, 3, 4]

    def test_windowed_cutting_path(self):
        # runtests.jl:198-337 cutting window
        a = np.array([0.0, 1, 2, 3, 4, 4, 4, 4])
        b = np.array([0.0, 0, 1, 2, 2, 2, 3, 4])
        rmin = [1, 1, 1, 2, 3, 4, 5, 6]
        rmax = [4, 4, 5, 6, 7, 8, 8, 8]
        cost, i1, i2 = NV.dtw(a, b, i2min=rmin, i2max=rmax)
        assert cost == 2
        assert i1.tolist() == [1, 1, 2, 3, 3, 4, 5, 6, 7, 8]
        assert i2.tolist() == [1, 2, 3, 4, 5, 6, 7, 8, 8, 8]

    def test_dba_golden(self):
        # runtests.jl:473-488
        avg, res = NV.dba([[1.0, 2, 2, 3, 3, 4], [1.0, 3, 4], [1.0, 2, 2, 4]],
                          init_center=[1.0, 2, 2, 4])
        np.testing.assert_allclose(avg, [1.0, 1.75, 2.75, 4.0])
        assert res.converged

    def test_softdtw_gamma_to_zero(self):
        # runtests.jl:93,107: γ→0 approaches hard DTW
        hard, _, _ = NV.dtw(A, B)
        soft = NV.soft_dtw_cost(A, B, gamma=0.001)
        assert soft == pytest.approx(hard, abs=0.05)


def _rand_pairs(n=6, lo=30, hi=60, seed=5):
    rng = np.random.default_rng(seed)
    for _ in range(n):
        na, nb = rng.integers(lo, hi, size=2)
        yield rng.normal(size=int(na)), rng.normal(size=int(nb))


class TestEngineParity:
    def test_dtw_full(self):
        for a, b in _rand_pairs():
            cn, i1n, i2n = NV.dtw(a, b)
            ce, i1e, i2e = K.dtw(a, b)
            assert cn == pytest.approx(ce, rel=1e-12)
            np.testing.assert_array_equal(i1n, i1e)
            np.testing.assert_array_equal(i2n, i2e)

    def test_dtw_banded(self):
        for a, b in _rand_pairs(seed=6):
            imin, imax = K.radiuslimits(4, len(a), len(b))
            cn, i1n, i2n = NV.dtw(a, b, i2min=imin, i2max=imax)
            ce, i1e, i2e = K.dtw(a, b, i2min=imin, i2max=imax)
            assert cn == pytest.approx(ce, rel=1e-12)
            np.testing.assert_array_equal(i1n, i1e)
            np.testing.assert_array_equal(i2n, i2e)

    def test_dtw_cost_and_batch(self):
        rng = np.random.default_rng(7)
        a = rng.normal(size=50)
        W = rng.normal(size=(6, 50))
        for r in (0, 3, 49):
            want = K.dtw_cost_batch(a, W, r)
            got = NV.dtw_cost_batch(a, W, r)
            np.testing.assert_allclose(got, want, rtol=1e-12)
            assert NV.dtw_cost(a, W[0], "sqeuclidean", r) == pytest.approx(
                K.dtw_cost(a, W[0], "sqeuclidean", r), rel=1e-12)

    def test_dtwnn(self):
        rng = np.random.default_rng(8)
        q = rng.normal(size=16)
        y = rng.normal(size=200)
        got = NV.dtwnn(q, y, "sqeuclidean", 5)
        want = K.dtwnn(q, y, "sqeuclidean", 5)
        assert got.cost == pytest.approx(want.cost, rel=1e-12)
        assert got.loc == want.loc
        # saveall dense profile
        gd = NV.dtwnn(q, y, "sqeuclidean", 5, saveall=True).dists
        wd = K.dtwnn(q, y, "sqeuclidean", 5, saveall=True).dists
        np.testing.assert_allclose(gd, wd, rtol=1e-12)

    def test_matrix_and_distance_profile(self):
        rng = np.random.default_rng(9)
        y = np.cumsum(rng.normal(size=90))
        Pn, In = NV.matrix_profile(y, 12, 4, "sqeuclidean")
        Pe, Ie = K.matrix_profile(y, 12, 4, "sqeuclidean")
        np.testing.assert_allclose(Pn, Pe, rtol=1e-12)
        np.testing.assert_array_equal(In, Ie)
        q = y[:12]
        np.testing.assert_allclose(
            NV.distance_profile(q, y, "sqeuclidean", 4),
            K.distance_profile(q, y, "sqeuclidean", 4), rtol=1e-12)

    def test_softdtw(self):
        for a, b in _rand_pairs(3, seed=10):
            assert NV.soft_dtw_cost(a, b, gamma=0.1) == pytest.approx(
                K.soft_dtw_cost(a, b, "sqeuclidean", gamma=0.1), rel=1e-12)

    def test_fastdtw(self):
        for a, b in _rand_pairs(3, lo=40, hi=90, seed=11):
            cn, i1n, i2n = NV.fastdtw(a, b, "sqeuclidean", 10)
            ce, i1e, i2e = K.fastdtw(a, b, "sqeuclidean", 10)
            assert cn == pytest.approx(ce, rel=1e-12)
            np.testing.assert_array_equal(i1n, i1e)
            np.testing.assert_array_equal(i2n, i2e)

    def test_gdtw(self):
        from dynamicaxiswarping_jl_spark.kernels.gdtw import gdtw as egdtw
        for a, b in _rand_pairs(2, lo=25, hi=40, seed=12):
            cn, _, _ = NV.gdtw(a, b)
            ce, _, _ = egdtw(a, b)
            assert cn == pytest.approx(ce, rel=1e-9)

    def test_dba(self):
        rng = np.random.default_rng(13)
        seqs = [rng.normal(size=20) for _ in range(5)]
        gn, rn = NV.dba(seqs, init_center=seqs[0], iterations=100, rtol=1e-5)
        ge, re = K.dba(seqs, "sqeuclidean", init_center=seqs[0],
                       iterations=100, rtol=1e-5)
        np.testing.assert_allclose(gn, ge, rtol=1e-12)
        assert rn.cost == pytest.approx(re.cost, rel=1e-12)
        assert rn.converged == re.converged
        assert rn.iterations == re.iterations

    def test_lb_endpoints(self):
        from dynamicaxiswarping_jl_spark.kernels.dtwnn import lb_endpoints
        rng = np.random.default_rng(14)
        a, b = rng.normal(size=30), rng.normal(size=30)
        assert NV.lb_endpoints("sqeuclidean", a, b) == pytest.approx(
            lb_endpoints("sqeuclidean", a, b), rel=1e-12)


class TestNativeBitExactness:
    """The golden chain's load-bearing invariant: goldens are generated by
    the naive oracle, the driver gate runs the engine (native C when a
    compiler exists), and tie-derived integers (trackback paths -> align
    delays, NN loc) flip on 1-ulp cost differences. The C kernels compile
    with -ffp-contract=off (native.py:_CFLAGS) precisely so these DPs are
    BIT-identical to the naive scalar recurrence — equal, not approx."""

    def _needs_native(self):
        from dynamicaxiswarping_jl_spark.kernels import native
        if not native.available():
            pytest.skip("no C compiler")

    def test_full_matrix_bits(self):
        self._needs_native()
        from dynamicaxiswarping_jl_spark.kernels.dtw import dtw_cost_matrix
        rng = np.random.default_rng(21)
        for _ in range(4):
            a = rng.normal(size=int(rng.integers(50, 200)))
            b = rng.normal(size=int(rng.integers(50, 200)))
            Dn = np.array(NV._full_matrix([float(v) for v in a],
                                          [float(v) for v in b], 1.0))
            np.testing.assert_array_equal(Dn, dtw_cost_matrix(a, b))

    def test_band_cost_bits(self):
        self._needs_native()
        rng = np.random.default_rng(22)
        for r in (0, 3, 17):
            a = rng.normal(size=80)
            b = rng.normal(size=80)
            assert NV.dtw_cost(a, b, "sqeuclidean", r) == K.dtw_cost(
                a, b, "sqeuclidean", r)

    def test_paths_exact_on_knife_edge_series(self):
        # Integer-grid series (event-rate style: many exact fp ties) — the
        # regime where the sf0.01 align goldens flipped pre-fix.
        self._needs_native()
        rng = np.random.default_rng(23)
        a = rng.integers(0, 3, size=300).astype(float) / 3.0
        b = rng.integers(0, 3, size=290).astype(float) / 3.0
        cn, i1n, i2n = NV.dtw(a, b)
        ce, i1e, i2e = K.dtw(a, b)
        assert cn == ce
        np.testing.assert_array_equal(i1n, i1e)
        np.testing.assert_array_equal(i2n, i2e)


class TestBandedNumpyPaths:
    """``banded_dtw_cost_matrix`` has one path, the NumPy anti-diagonal
    sweep, for every band width and metric, with or without the C
    kernels. It must equal the naive oracle bit for bit, for a built-in
    metric and for a custom twin of it."""

    @pytest.fixture(autouse=True, params=["native", "numpy"])
    def native_state(self, request, monkeypatch):
        from dynamicaxiswarping_jl_spark.kernels import native
        monkeypatch.setattr(native, "_tried", False)
        monkeypatch.setattr(native, "_lib", None)
        if request.param == "numpy":
            monkeypatch.setenv("SPARK_TSWARP_NO_NATIVE", "1")
            assert not native.available()
        elif not native.available():
            pytest.skip("no C compiler in environment")

    @staticmethod
    def _band(n, m, width):
        """1-based windows of at most ``width`` rows around the diagonal
        of an (m, n) matrix; the widest column is exactly ``width``."""
        centre = np.round(np.arange(n) * (m - 1) / (n - 1)).astype(np.int64)
        lo = np.clip(centre - (width - 1) // 2, 0, m - 1)
        hi = np.minimum(lo + width - 1, m - 1)
        lo[0], hi[-1] = 0, m - 1
        assert (hi - lo + 1).max() == width
        return lo + 1, hi + 1

    @pytest.mark.parametrize("dist", ["sqeuclidean", "cityblock"])
    @pytest.mark.parametrize("width", [1, 3, 64, 65])
    @pytest.mark.parametrize("tc", [0.5, 1.0, 1.5])
    @pytest.mark.parametrize("n,m", [(90, 130), (130, 90)])
    def test_both_paths_equal_naive(self, dist, width, tc, n, m):
        from dynamicaxiswarping_jl_spark.kernels.distances import (
            CustomDist, get_dist)
        rng = np.random.default_rng(width * 1000 + n)
        a, b = rng.normal(size=n), rng.normal(size=m)
        imin, imax = self._band(n, m, width)
        want = np.array(NV._banded_matrix(a.tolist(), b.tolist(), imin,
                                          imax, tc, dist))
        # the built-in metric and a custom twin of it both take the sweep,
        # at narrow (1, 3, 64) and wide (65) bands alike
        builtin = K.banded_dtw_cost_matrix(a, b, dist, imin, imax, tc)
        custom = K.banded_dtw_cost_matrix(
            a, b, CustomDist(get_dist(dist).pairwise, name=f"{dist}-twin"),
            imin, imax, tc)
        np.testing.assert_array_equal(builtin, want)
        np.testing.assert_array_equal(custom, want)
