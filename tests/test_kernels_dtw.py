"""Golden-value parity tests for the core DTW kernels.

Every expected value below is copied from the reference test suite
(/root/reference/test/runtests.jl), line numbers cited per case — these pin
cost values, exact warp paths, tie-breaking, band semantics, and radius
limits.
"""

import numpy as np
import pytest

from dynamicaxiswarping_jl_spark.kernels import (
    dtw, dtw_cost, dtw_cost_matrix, banded_dtw_cost_matrix, trackback,
    radiuslimits, soft_dtw_cost, SqEuclidean, Euclidean, Cityblock, Chebyshev,
)

A = np.array([1, 1, 1, 2, 4, 6, 5, 5, 5, 4, 4, 3, 1, 1, 1], dtype=float)
B = np.array([1, 1, 2, 4, 6, 6, 6, 5, 4, 4, 4, 3, 3, 3, 1], dtype=float)


class TestDtwGolden:
    def test_cost_zero_with_paths(self):
        # runtests.jl:76-88
        cost, i1, i2 = dtw(A, B)
        assert cost == 0
        assert i1.tolist() == [1, 2, 3, 4, 5, 6, 6, 6, 7, 8, 9, 10, 10, 11, 12, 12, 12, 13, 14, 15]
        assert i2.tolist() == [1, 1, 2, 3, 4, 5, 6, 7, 8, 8, 8, 9, 10, 11, 12, 13, 14, 15, 15, 15]

    def test_cost_four_after_bump(self):
        # runtests.jl:95-105
        a = A.copy()
        a[-1] += 2
        cost, _, _ = dtw(a, B)
        assert cost == 4
        assert dtw_cost(a, B, SqEuclidean(), len(a)) == cost
        # transportcost=1.1 leaves this cost unchanged (runtests.jl:100-102)
        cost11, _, _ = dtw(a, B, transportcost=1.1)
        assert cost11 == 4
        # radius 0 reduces to the pointwise distance (runtests.jl:104-105)
        assert dtw_cost(a, B, SqEuclidean(), 0) == pytest.approx(np.sum((a - B) ** 2))
        assert dtw_cost(a, B, Euclidean(), 0) == pytest.approx(np.sum(np.abs(a - B)))

    def test_shifted_ramp(self):
        # runtests.jl:112-117
        a = np.arange(1.0, 11.0)
        b = a + 1
        cost, _, _ = dtw(a, b)
        assert cost == 2
        assert dtw_cost(a, b, SqEuclidean(), len(a)) == cost

    def test_zeros_vs_ones(self):
        # runtests.jl:121-126
        a = np.zeros(6)
        b = np.ones(6)
        cost, _, _ = dtw(a, b)
        assert cost == 6
        assert dtw_cost(a, b, SqEuclidean(), len(a)) == cost

    def test_diagonal_tie_preference(self):
        # runtests.jl:131-151
        cost, i1, i2 = dtw(np.ones(3), np.ones(3))
        assert cost == 0
        assert i1.tolist() == [1, 2, 3]
        assert i2.tolist() == [1, 2, 3]
        cost, i1, i2 = dtw(np.array([0.0, 1, 1, 1]), np.array([0.0, 0, 1, 1]))
        assert cost == 0
        assert i1.tolist() == [1, 1, 2, 3, 4]
        assert i2.tolist() == [1, 2, 3, 3, 4]

    def test_inner_metrics(self):
        # runtests.jl:153-163 — pluggable inner metrics
        a = np.array([1.0, 2, 3, 4])
        b = np.array([1.0, 2, 2, 4])
        for d in (SqEuclidean(), Euclidean(), Cityblock(), Chebyshev()):
            cost, _, _ = dtw(a, b, d)
            assert cost >= 0
            # identical inputs → 0
            c0, _, _ = dtw(a, a, d)
            assert c0 == 0

    def test_multichannel(self):
        # runtests.jl:60-74 — each column an observation; identical → 0
        x = np.vstack([A, A])
        y = np.vstack([B, B])
        cost, i1, i2 = dtw(x, y)
        assert cost == 0  # per-channel costs are 0 here
        c1, _, _ = dtw(A, B)
        # doubled channels double the local costs: cost(x,y) == 2*cost(A,B) == 0
        assert cost == 2 * c1


class TestWindowedGolden:
    # runtests.jl:198-337 — windowed DTW golden paths
    a = np.array([0.0, 1, 2, 3, 4, 4, 4, 4])
    b = np.array([0.0, 0, 1, 2, 2, 2, 3, 4])
    free_i1 = [1, 1, 2, 3, 3, 3, 4, 5, 6, 7, 8]
    free_i2 = [1, 2, 3, 4, 5, 6, 7, 8, 8, 8, 8]

    def test_unconstrained(self):
        cost, i1, i2 = dtw(self.a, self.b)
        assert cost == 0
        assert i1.tolist() == self.free_i1
        assert i2.tolist() == self.free_i2

    @pytest.mark.parametrize("rmin,rmax", [
        ([1, 1, 1, 2, 3, 4, 5, 6], [4, 6, 7, 8, 8, 8, 8, 8]),
        ([1, 3, 4, 7, 8, 8, 8, 8], [4, 6, 7, 8, 8, 8, 8, 8]),
        ([1, 1, 1, 2, 3, 4, 5, 6], [2, 3, 6, 7, 8, 8, 8, 8]),
        ([1, 3, 4, 7, 8, 8, 8, 8], [2, 3, 6, 7, 8, 8, 8, 8]),
    ])
    def test_windows_containing_free_path(self, rmin, rmax):
        cost, i1, i2 = dtw(self.a, self.b, i2min=rmin, i2max=rmax)
        assert cost == 0
        assert i1.tolist() == self.free_i1
        assert i2.tolist() == self.free_i2

    def test_cutting_window(self):
        rmin = [1, 1, 1, 2, 3, 4, 5, 6]
        rmax = [4, 4, 5, 6, 7, 8, 8, 8]
        cost, i1, i2 = dtw(self.a, self.b, i2min=rmin, i2max=rmax)
        assert cost == 2
        assert i1.tolist() == [1, 1, 2, 3, 3, 4, 5, 6, 7, 8]
        assert i2.tolist() == [1, 2, 3, 4, 5, 6, 7, 8, 8, 8]

    def test_full_width_window_equals_unconstrained(self):
        n = len(self.a)
        rmin = [1] * n
        rmax = [n] * n
        cost_w, i1w, i2w = dtw(self.a, self.b, i2min=rmin, i2max=rmax)
        cost_f, i1f, i2f = dtw(self.a, self.b)
        assert cost_w == cost_f
        assert i1w.tolist() == i1f.tolist()
        assert i2w.tolist() == i2f.tolist()

    def test_band_validation(self):
        with pytest.raises(ValueError):
            dtw(self.a, self.b, i2min=[2] * 8, i2max=[8] * 8)
        with pytest.raises(ValueError):
            dtw(self.a, self.b, i2min=[1] * 8, i2max=[7] * 8)

    def test_band_validation_full_range(self):
        # Out-of-range interior window values must raise on EVERY execution
        # path (the C band kernel would otherwise write out of bounds).
        good_min, good_max = [1] * 8, [8] * 8
        bad_min = list(good_min)
        bad_min[3] = 0  # below 1
        with pytest.raises(ValueError):
            dtw(self.a, self.b, i2min=bad_min, i2max=good_max)
        bad_max = list(good_max)
        bad_max[3] = 9  # above len(seq2)
        with pytest.raises(ValueError):
            dtw(self.a, self.b, i2min=good_min, i2max=bad_max)
        cross_min = list(good_min)
        cross_max = list(good_max)
        cross_min[4], cross_max[4] = 5, 4  # i2min > i2max
        with pytest.raises(ValueError):
            dtw(self.a, self.b, i2min=cross_min, i2max=cross_max)

    def test_negative_radius_raises(self):
        from dynamicaxiswarping_jl_spark.kernels.dtw import (
            dtw_cost, dtw_cost_batch)
        a = np.asarray(self.a, dtype=np.float64)
        b = np.asarray(self.b, dtype=np.float64)
        with pytest.raises(ValueError):
            dtw_cost(a, b, None, -1)
        with pytest.raises(ValueError):
            dtw_cost_batch(a, b[None, :], -1)

    @pytest.mark.parametrize("dist", ["sqeuclidean", "cityblock"])
    def test_mixed_channel_layouts_raise(self, dist):
        """A 1-D series against a (channels, n) one has no aligned local
        cost: dtw_cost raises instead of scoring one channel."""
        from dynamicaxiswarping_jl_spark.kernels.dtw import dtw_cost
        one, two = np.zeros(5), np.ones((2, 5))
        for a, b in ((one, two), (two, one)):
            with pytest.raises(ValueError, match="channels"):
                dtw_cost(a, b, dist, 1)


class TestTransportcostPlacement:
    """Pin the engine's transportcost placement so it cannot drift
    silently (README "Known deviations"): dtw_cost uses the
    dtw_cost_matrix placement (non-diagonal moves penalized,
    src/dtw.jl:61), NOT the reference dtw_cost's diagonal+advance-a
    placement (src/dtw.jl:213-215), so full-band dtw_cost == dtw().cost
    for EVERY tc. Values below are engine goldens on a tc-sensitive
    input (the optimal path is genuinely non-diagonal)."""

    a = np.array([0.0, 2.0, 1.0, 3.0, 0.5, 2.5, 1.5, 4.0])
    b = np.array([0.5, 0.0, 2.5, 1.0, 3.5, 1.0, 2.0, 3.0])

    @pytest.mark.parametrize("tc,want", [
        (1.0, 2.5), (1.3, 2.875), (2.0, 3.75)])
    def test_pinned_values_and_equality(self, tc, want):
        c_full, _, _ = dtw(self.a, self.b, transportcost=tc)
        assert c_full == pytest.approx(want, rel=1e-12)
        assert dtw_cost(self.a, self.b, SqEuclidean(), len(self.a),
                        transportcost=tc) == pytest.approx(want, rel=1e-12)
        # banded r=2 stays on the same placement (same golden input)
        assert dtw_cost(self.a, self.b, SqEuclidean(), 2,
                        transportcost=tc) == pytest.approx(want, rel=1e-12)

    _scalar_metric = {
        "sqeuclidean": lambda x, y: (x - y) ** 2,
        "cityblock": lambda x, y: abs(x - y),
    }

    @classmethod
    def _ref_placement_oracle(cls, a, b, r, tc, dist="sqeuclidean",
                              best_so_far=np.inf, cb=None):
        """Independent banded full-matrix DP with the REFERENCE dtw_cost
        cost model (src/dtw.jl:213-215): D[i,j] = min(tc*D[i-1,j],
        D[i,j-1], tc*D[i-1,j-1]) + d(a_i, b_j), cells outside the
        Sakoe-Chiba band +inf, d the metric's scalar form summed over
        channels. With a ``cb``, returns the first row minimum plus
        cb[i + r] that reaches ``best_so_far`` (src/dtw.jl:227-229).
        Written here from the recurrence, not shared with the engine."""
        a = np.atleast_2d(np.asarray(a, dtype=np.float64))
        b = np.atleast_2d(np.asarray(b, dtype=np.float64))
        f = cls._scalar_metric[dist]
        m = a.shape[1]
        D = np.full((m, m), np.inf)
        for i in range(m):
            band = range(max(0, i - r), min(m - 1, i + r) + 1)
            for j in band:
                dv = 0.0
                for x, y in zip(a[:, i], b[:, j]):
                    dv += f(float(x), float(y))
                if i == 0 and j == 0:
                    D[0, 0] = dv
                    continue
                up = tc * D[i - 1, j] if i > 0 else np.inf
                left = D[i, j - 1] if j > 0 else np.inf
                diag = tc * D[i - 1, j - 1] if i > 0 and j > 0 else np.inf
                D[i, j] = min(up, left, diag) + dv
            if cb is not None and i + r < m - 1:
                part = min(D[i, j] for j in band) + cb[i + r]
                if part >= best_so_far:
                    return part
        return D[-1, -1]

    @pytest.mark.parametrize("dist", ["sqeuclidean", "cityblock"])
    @pytest.mark.parametrize("channels", [None, 2])
    @pytest.mark.parametrize("tc", [1.0, 1.3, 2.0])
    @pytest.mark.parametrize("r", [0, 1, 2, 8])
    def test_reference_placement_matches_independent_oracle(
            self, tc, r, channels, dist):
        rng = np.random.default_rng(7)
        shape = 8 if channels is None else (channels, 8)
        for _ in range(3):
            a = rng.normal(size=shape)
            b = rng.normal(size=shape)
            got = dtw_cost(a, b, dist, r, transportcost=tc,
                           transportcost_placement="reference")
            want = self._ref_placement_oracle(a, b, r, tc, dist)
            assert got == want  # same IEEE min-then-add, bit for bit

    @pytest.mark.parametrize("dist", ["sqeuclidean", "cityblock"])
    @pytest.mark.parametrize("tc", [1.3, 2.0])
    def test_reference_placement_abandon_matches_oracle(self, tc, dist):
        rng = np.random.default_rng(17)
        abandoned = 0
        for _ in range(20):
            a = rng.normal(size=16)
            b = rng.normal(size=16) + 1.0
            full = self._ref_placement_oracle(a, b, 3, tc, dist)
            cb = np.cumsum(rng.random(16))[::-1] * (full / 16)
            bsf = full * rng.uniform(0.2, 1.1)
            got = dtw_cost(a, b, dist, 3, transportcost=tc, best_so_far=bsf,
                           cumulative_bound=cb,
                           transportcost_placement="reference")
            want = self._ref_placement_oracle(a, b, 3, tc, dist, bsf, cb)
            assert got == want
            abandoned += want != full
        assert abandoned > 0

    def test_reference_placement_coincides_at_tc1(self):
        got = dtw_cost(self.a, self.b, SqEuclidean(), len(self.a),
                       transportcost=1.0,
                       transportcost_placement="reference")
        assert got == pytest.approx(2.5, rel=1e-12)

    def test_placements_differ_when_tc_matters(self):
        ref = dtw_cost(self.a, self.b, SqEuclidean(), len(self.a),
                       transportcost=2.0,
                       transportcost_placement="reference")
        mat = dtw_cost(self.a, self.b, SqEuclidean(), len(self.a),
                       transportcost=2.0)
        assert ref != pytest.approx(mat)
        # reference model tc's the diagonal too, so on this non-diagonal
        # optimum it can only cost more
        assert ref > mat

    def test_reference_placement_multichannel(self):
        rng = np.random.default_rng(11)
        a = rng.normal(size=(2, 6))
        b = rng.normal(size=(2, 6))
        got = dtw_cost(a, b, SqEuclidean(), 2, transportcost=1.5,
                       transportcost_placement="reference")
        # scalar oracle over per-cell squared L2 of channel columns
        m = a.shape[1]
        D = np.full((m, m), np.inf)
        for i in range(m):
            for j in range(max(0, i - 2), min(m - 1, i + 2) + 1):
                dv = float(((a[:, i] - b[:, j]) ** 2).sum())
                if i == 0 and j == 0:
                    D[0, 0] = dv
                    continue
                up = 1.5 * D[i - 1, j] if i > 0 else np.inf
                left = D[i, j - 1] if j > 0 else np.inf
                diag = 1.5 * D[i - 1, j - 1] if i > 0 and j > 0 else np.inf
                D[i, j] = min(up, left, diag) + dv
        assert got == pytest.approx(D[-1, -1], rel=1e-12)

    def test_reference_placement_early_abandon_is_lower_bound(self):
        rng = np.random.default_rng(13)
        a = rng.normal(size=32)
        b = rng.normal(size=32) + 3.0
        true = dtw_cost(a, b, SqEuclidean(), 4, transportcost=1.7,
                        transportcost_placement="reference")
        partial = dtw_cost(a, b, SqEuclidean(), 4, transportcost=1.7,
                           best_so_far=true * 0.25,
                           transportcost_placement="reference")
        assert partial >= true * 0.25  # abandoned: at/above the bar
        assert partial <= true + 1e-12  # and still a lower bound

    def test_bad_placement_rejected(self):
        with pytest.raises(ValueError, match="transportcost_placement"):
            dtw_cost(self.a, self.b, SqEuclidean(), 2,
                     transportcost_placement="julia")

    def test_bad_placement_rejected_on_unequal_length_dispatch(self):
        # dtw_dist's unequal-length branch never reaches dtw_cost — the
        # flag must still be validated, shape-independently
        from dynamicaxiswarping_jl_spark.kernels.evaluate import dtw_dist
        with pytest.raises(ValueError, match="transportcost_placement"):
            dtw_dist(self.a, self.b[:5], transportcost_placement="julia")

    def test_reference_placement_fallback_warns_on_unequal_lengths(self):
        # ADVICE r03: the unequal-length (dtwnn) path silently keeps the
        # matrix placement — the opt-in for Julia bit-compatibility must
        # be surfaced at call time when it can't be honored
        import warnings
        from dynamicaxiswarping_jl_spark.kernels.evaluate import dtw_dist
        with pytest.warns(RuntimeWarning, match="matrix placement"):
            dtw_dist(self.a, self.b[:5], transportcost=1.5,
                     transportcost_placement="reference")
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # no warning in any of:
            # tc == 1 (placements coincide), equal lengths (flag honored),
            # unequal lengths with the default placement
            dtw_dist(self.a, self.b[:5],
                     transportcost_placement="reference")
            dtw_dist(self.a, self.b, transportcost=1.5,
                     transportcost_placement="reference")
            dtw_dist(self.a, self.b[:5], transportcost=1.5)


class TestRadiuslimits:
    def test_unequal_lengths(self):
        # runtests.jl:10-27
        imin, imax = radiuslimits(3, 10, 20)
        assert len(imin) == 10
        assert imin[0] == 1
        assert imax[0] == 14
        assert imax[-1] == 20
        imin, imax = radiuslimits(3, 20, 10)
        assert len(imin) == 20
        assert imin[0] == 1
        assert imax[0] == 4
        assert imax[-1] == 10

    def test_banded_equals_full_when_wide(self):
        # runtests.jl:729-731 setup: banded dtw via radiuslimits
        rng = np.random.default_rng(0)
        a = rng.normal(size=40)
        b = rng.normal(size=40)
        imin, imax = radiuslimits(40, 40, 40)
        cb, _, _ = dtw(a, b, i2min=imin, i2max=imax)
        cf, _, _ = dtw(a, b)
        assert cb == pytest.approx(cf)


class TestDtwCostEquivalences:
    def test_full_radius_equals_dtw(self):
        rng = np.random.default_rng(1)
        for n in (5, 17, 33):
            a = rng.normal(size=n)
            b = rng.normal(size=n)
            c1, _, _ = dtw(a, b)
            c2 = dtw_cost(a, b, SqEuclidean(), n)
            assert c2 == pytest.approx(c1, rel=1e-12)

    def test_banded_cost_matches_banded_matrix(self):
        rng = np.random.default_rng(2)
        n, r = 31, 4
        a = rng.normal(size=n)
        b = rng.normal(size=n)
        imin, imax = radiuslimits(r, n, n)
        cm = banded_dtw_cost_matrix(a, b, SqEuclidean(), imin, imax)
        assert dtw_cost(a, b, SqEuclidean(), r) == pytest.approx(cm[-1, -1], rel=1e-12)

    def test_transportcost_consistency(self):
        # engine invariant: dtw_cost(r=n) == full dtw for every transportcost
        # (see kernels/dtw.py module docstring for the documented deviation
        # from reference src/dtw.jl:213-215)
        rng = np.random.default_rng(3)
        a = rng.normal(size=20)
        b = rng.normal(size=20)
        for tc in (1.0, 1.1, 2.0):
            c1, _, _ = dtw(a, b, transportcost=tc)
            c2 = dtw_cost(a, b, SqEuclidean(), 20, transportcost=tc)
            assert c2 == pytest.approx(c1, rel=1e-12)

    def test_early_abandon_returns_lower_bound(self):
        rng = np.random.default_rng(4)
        a = rng.normal(size=50)
        b = rng.normal(size=50) + 10
        exact = dtw_cost(a, b, SqEuclidean(), 5)
        abandoned = dtw_cost(a, b, SqEuclidean(), 5, best_so_far=exact / 10)
        assert abandoned <= exact
        assert abandoned >= exact / 10  # abandoned at/above the threshold


class TestSoftDtwGolden:
    def test_gamma_to_zero_approaches_dtw(self):
        # runtests.jl:107,118,127
        a = A.copy()
        a[-1] += 2
        cost, _, _ = dtw(a, B)
        assert soft_dtw_cost(a, B, gamma=0.001) == pytest.approx(cost, rel=1e-2)
        a2 = np.arange(1.0, 11.0)
        b2 = a2 + 1
        assert soft_dtw_cost(a2, b2, gamma=0.01) == pytest.approx(2.0, rel=1e-2)
        z = np.zeros(6)
        o = np.ones(6)
        assert soft_dtw_cost(z, o, gamma=0.01) == pytest.approx(6.0, rel=1e-2)

    def test_banded_at_least_unbanded(self):
        # runtests.jl:110 — unbanded soft cost <= banded
        a = A.copy()
        a[-1] += 2
        assert soft_dtw_cost(a, B, gamma=0.001) <= soft_dtw_cost(a, B, gamma=0.001, radius=2)

    def test_positive_lower_bound(self):
        # runtests.jl:93
        assert soft_dtw_cost(A, B, gamma=0.001) > -0.01

    def test_exact_path_matches_float64(self):
        # the Decimal path is the BigFloat analog (runtests.jl:119 runs
        # SoftDTW(0.01)(big.(a), big.(b))): where float64 is adequate the
        # two must agree to float64 accuracy, banded and not, any tc
        from dynamicaxiswarping_jl_spark.kernels import soft_dtw_cost_exact
        rng = np.random.default_rng(11)
        a = np.cumsum(rng.normal(size=12))
        b = np.cumsum(rng.normal(size=10))
        for kw in ({"gamma": 1.0}, {"gamma": 0.01}, {"gamma": 0.5,
                                                     "transportcost": 1.1},
                   {"gamma": 0.01, "radius": 3}):
            want = soft_dtw_cost(a, b, None, **kw)
            got = float(soft_dtw_cost_exact(a, b, prec=40, **kw))
            assert got == pytest.approx(want, rel=1e-9), kw

    def test_exact_path_precision_beyond_float64(self):
        # tiny gamma: exp(-x/gamma) reaches e.g. e^{-60000}; Decimal's
        # unbounded exponent keeps every term (no underflow), and the
        # result converges as precision grows — prec=40 vs prec=80 agree
        # far past float64's 16 digits, pinning genuine extra precision
        from decimal import Decimal
        from dynamicaxiswarping_jl_spark.kernels import soft_dtw_cost_exact
        a = np.array([1.0, 2.0, 3.0, 2.0, 1.0])
        b = np.array([1.0, 2.5, 3.0, 2.0, 1.5])
        lo = soft_dtw_cost_exact(a, b, gamma=1e-4, prec=40)
        hi = soft_dtw_cost_exact(a, b, gamma=1e-4, prec=80)
        assert abs(lo - hi) < Decimal("1e-30") * max(abs(hi), Decimal(1))
        # gamma -> 0 limit equals the hard-DTW optimum to ~gamma*ln(paths)
        want, _, _ = dtw(a, b)
        assert float(hi) == pytest.approx(want, abs=1e-2)

    def test_scaling_identity(self):
        # runtests.jl:88-90: doubled channels double the cost matrix
        Dm = dtw_cost_matrix(A, B)
        x = np.vstack([A, A])
        y = np.vstack([B, B])
        Dm2 = dtw_cost_matrix(x, y)
        assert np.allclose(Dm2, 2 * Dm)


class TestAlignXcorr:
    def test_xcorr_matches_dtw_on_noise_shift(self):
        """xcorr method (reference DSP.finddelay path, src/utils.jl:51-52)
        recovers an exact integer shift on noise like the dtw method."""
        import numpy as np
        from dynamicaxiswarping_jl_spark.kernels.align import align_signals
        rng = np.random.default_rng(0)
        base = rng.normal(size=200)
        delayed = np.concatenate([np.zeros(13), base[:-13]])
        for m in ("dtw", "xcorr"):
            trims = align_signals([base, delayed], master=0, method=m,
                                  output="signals")
            assert np.linalg.norm(trims[1] - trims[0]) == 0.0, m

    def test_unknown_method_raises(self):
        import numpy as np
        import pytest
        from dynamicaxiswarping_jl_spark.kernels.align import align_signals
        with pytest.raises(ValueError):
            align_signals([np.zeros(5), np.ones(5)], method="nope")


class TestDistanceObjects:
    """Reference-API callables: DTW(radius=7)(a, b) etc.
    (src/distance_interface.jl:17-63)."""

    def test_dtw_object_symmetric_on_unequal_lengths(self):
        # runtests.jl:509-510 — DTW(radius=7)(a,b) == DTW(radius=7)(b,a)
        import numpy as np
        from dynamicaxiswarping_jl_spark.kernels import DTW
        rng = np.random.default_rng(3)
        a = rng.normal(size=40)
        b = rng.normal(size=55)
        d = DTW(radius=7)
        assert d(a, b) == pytest.approx(d(b, a), rel=1e-12)

    def test_objects_match_functions(self):
        import numpy as np
        from dynamicaxiswarping_jl_spark.kernels import (
            DTW, SoftDTW, FastDTW, GDTW, dtw_cost, soft_dtw_cost, fastdtw)
        from dynamicaxiswarping_jl_spark.kernels.gdtw import gdtw
        rng = np.random.default_rng(4)
        a = rng.normal(size=50)
        b = rng.normal(size=50)
        assert DTW(radius=5)(a, b) == pytest.approx(
            dtw_cost(a, b, None, 5), rel=1e-12)
        assert SoftDTW(0.5)(a, b) == pytest.approx(
            soft_dtw_cost(a, b, None, gamma=0.5), rel=1e-12)
        assert FastDTW(4)(a, b) == pytest.approx(
            fastdtw(a, b, None, 4)[0], rel=1e-12)
        assert GDTW()(a, b) == pytest.approx(gdtw(a, b)[0], rel=1e-12)


class TestApiSurface:
    def test_reference_export_parity(self):
        """Every export of the reference module
        (src/DynamicAxisWarping.jl:17-47) has a package-level counterpart
        — guards the API surface against accidental regressions."""
        import dynamicaxiswarping_jl_spark.kernels as K
        # reference export → our name (same unless noted)
        names = [
            "dtw", "dtw_cost", "soft_dtw_cost", "DTW", "SoftDTW", "GDTW",
            "FastDTW", "dba", "dbaclust", "dtw_cost_matrix",
            "soft_dtw_cost_matrix", "DBAResult", "fastdtw", "radiuslimits",
            "align_signals", "dtwnn", "DTWSearchResult", "sparse_distmat",
            "gdtw", "prepare_gdtw", "iterative_gdtw", "gdtw_warpings",
            "LinearInterpolation",
            # normalizer trio (ZNormalizer/DiagonalZNormalizer/normalize)
            "znorm", "diagonal_znorm", "norm_normalize",
        ]
        missing = [n for n in names if not hasattr(K, n)]
        assert not missing, f"missing package exports: {missing}"

    def test_operator_surface(self):
        import dynamicaxiswarping_jl_spark.operators as O
        names = [
            "rollup_turns", "cascade", "gapfill", "assemble_series",
            "apply_retention", "compress_chunks",
            "decompress_chunks", "dtw_pairs", "drift_scores",
            "dtwnn_search", "knn_topk", "distance_profile_op",
            "matrix_profile_op", "align_to_master", "dba_per_group",
            "dbaclust_distributed", "exact_dedup", "minhash_dedup",
            "simhash_signatures", "simhash_neardup", "ngram_jaccard_pairs",
            "embedding_neardup", "connected_components", "near_dedup_docs",
            "cosine_topk", "lsh_cosine_topk", "ivf_cosine_topk",
            "token_stats", "quality_score", "language_id", "fingerprint",
            "attach_media_metadata", "image_features", "frame_sample",
        ]
        missing = [n for n in names if not hasattr(O, n)]
        assert not missing, f"missing operator exports: {missing}"


class TestCustomMetric:
    """Pluggable inner metric (VERDICT r04 #4): the engine counterpart of
    the reference's any-SemiMetric dispatch (src/dtw.jl:34-38,
    src/distance_interface.jl:17-26). Oracle: a straight-line scalar DP
    in this test sharing no code with the kernels."""

    @staticmethod
    def _metric_fn(s1, s2):
        # |x - y|^1.5 — outside the built-in family on purpose
        a = np.atleast_2d(np.asarray(s1, dtype=np.float64))
        b = np.atleast_2d(np.asarray(s2, dtype=np.float64))
        return np.abs(a.T[:, None, :] - b.T[None, :, :]).sum(
            axis=2) ** 1.5 if a.shape[0] > 1 else \
            np.abs(a[0][:, None] - b[0][None, :]) ** 1.5

    @staticmethod
    def _oracle_full(a, b, cell, tc=1.0):
        n, m = len(a), len(b)
        D = np.empty((m, n))
        D[0, 0] = cell(b[0], a[0])
        for r in range(1, m):
            D[r, 0] = D[r - 1, 0] + cell(b[r], a[0])
        for c in range(1, n):
            D[0, c] = D[0, c - 1] + cell(b[0], a[c])
        for c in range(1, n):
            for r in range(1, m):
                D[r, c] = cell(b[r], a[c]) + min(
                    tc * D[r - 1, c], D[r - 1, c - 1], tc * D[r, c - 1])
        return D

    def test_full_matrix_matches_scalar_oracle(self):
        from dynamicaxiswarping_jl_spark.kernels import dtw_cost_matrix
        rng = np.random.default_rng(3)
        a, b = rng.normal(size=12), rng.normal(size=15)
        got = dtw_cost_matrix(a, b, self._metric_fn)
        want = self._oracle_full(a, b,
                                 lambda x, y: abs(x - y) ** 1.5)
        np.testing.assert_allclose(got, want, rtol=1e-12)

    def test_dtw_path_and_banded(self):
        from dynamicaxiswarping_jl_spark.kernels import (
            dtw, radiuslimits, dtw_cost)
        rng = np.random.default_rng(4)
        a, b = rng.normal(size=14), rng.normal(size=14)
        cost, i1, i2 = dtw(a, b, self._metric_fn)
        D = self._oracle_full(a, b, lambda x, y: abs(x - y) ** 1.5)
        assert cost == pytest.approx(D[-1, -1], rel=1e-12)
        assert i1[0] == i2[0] == 1 and i1[-1] == i2[-1] == 14
        # banded: radius wide enough to cover everything == unconstrained
        imin, imax = radiuslimits(14, 14, 14)
        bcost, _, _ = dtw(a, b, self._metric_fn, i2min=imin, i2max=imax)
        assert bcost == pytest.approx(cost, rel=1e-12)
        # O(r) dtw_cost with full-width band agrees too
        assert dtw_cost(a, b, self._metric_fn, 13) == pytest.approx(
            cost, rel=1e-12)

    def test_multichannel(self):
        from dynamicaxiswarping_jl_spark.kernels import dtw_cost_matrix
        rng = np.random.default_rng(5)
        a, b = rng.normal(size=(2, 6)), rng.normal(size=(2, 8))
        got = dtw_cost_matrix(a, b, self._metric_fn)

        def cell(x, y):
            return float(np.abs(np.asarray(x) - np.asarray(y)).sum()) ** 1.5
        n, m = 6, 8
        D = np.empty((m, n))
        D[0, 0] = cell(b[:, 0], a[:, 0])
        for r in range(1, m):
            D[r, 0] = D[r - 1, 0] + cell(b[:, r], a[:, 0])
        for c in range(1, n):
            D[0, c] = D[0, c - 1] + cell(b[:, 0], a[:, c])
        for c in range(1, n):
            for r in range(1, m):
                D[r, c] = cell(b[:, r], a[:, c]) + min(
                    D[r - 1, c], D[r - 1, c - 1], D[r, c - 1])
        np.testing.assert_allclose(got, want := D, rtol=1e-12)

    def test_dtwnn_rejects_custom(self):
        from dynamicaxiswarping_jl_spark.kernels import dtwnn
        with pytest.raises(ValueError, match="built-in"):
            dtwnn(np.zeros(4), np.zeros(10), self._metric_fn, 2)

    def test_sparse_distmat_rejects_custom(self):
        """Same LB-soundness boundary as dtwnn: the k-NN heap frontier
        prescreens with lb_endpoints and early-abandons dtw_cost, both
        valid only for the nonnegative built-in family."""
        from dynamicaxiswarping_jl_spark.kernels import sparse_distmat
        with pytest.raises(ValueError, match="built-in"):
            sparse_distmat([np.zeros(5)] * 3, 1, self._metric_fn)

    def test_custom_metric_result_buffer_not_mutated(self):
        """The DP runs in place on the pairwise matrix; a metric that
        memoizes (or returns a read-only view of) its own buffer must
        not have it corrupted — CustomDist.pairwise hands the engine a
        fresh copy."""
        from dynamicaxiswarping_jl_spark.kernels import dtw

        cache: dict = {}

        def memo_fn(s1, s2):
            key = (s1.shape[-1], s2.shape[-1])
            if key not in cache:
                cache[key] = np.abs(s1[..., :, None] - s2[..., None, :])
            return cache[key]

        a = np.array([0.0, 1.0, 3.0, 6.0])
        b = np.array([0.0, 2.0, 5.0])
        c1, _, _ = dtw(a, b, memo_fn)
        snapshot = {k: v.copy() for k, v in cache.items()}
        c2, _, _ = dtw(a, b, memo_fn)  # second call hits the memo
        assert c1 == c2
        for k in cache:
            np.testing.assert_array_equal(cache[k], snapshot[k])

        def readonly_fn(s1, s2):
            return np.broadcast_to(1.0, (s1.shape[-1], s2.shape[-1]))

        cost, _, _ = dtw(a, b, readonly_fn)  # must not crash writing
        assert cost == float(max(len(a), len(b)))

    def test_custom_dist_validation(self):
        from dynamicaxiswarping_jl_spark.kernels import CustomDist
        with pytest.raises(ValueError, match="shadow"):
            CustomDist(lambda a, b: None, name="sqeuclidean")
        bad = CustomDist(lambda a, b: np.zeros((2, 2)))
        with pytest.raises(ValueError, match="shape"):
            bad.pairwise(np.zeros(3), np.zeros(5))

    def test_through_spark_dtw_pairs(self, spark):
        """Custom metric captured in the UDF closure: dtw_pairs through
        Spark must equal the local kernel under the same callable."""
        from dynamicaxiswarping_jl_spark.kernels import dtw
        from dynamicaxiswarping_jl_spark.operators import dtw_pairs

        def metric_fn(s1, s2):
            # defined in-function so cloudpickle ships it BY VALUE to the
            # workers (the class staticmethod pickles by module reference,
            # and the test module isn't importable there)
            a = np.asarray(s1, dtype=np.float64)
            b = np.asarray(s2, dtype=np.float64)
            return np.abs(a[:, None] - b[None, :]) ** 1.5

        rng = np.random.default_rng(6)
        rows = []
        seqs = {}
        for i in range(4):
            seqs[f"s{i}"] = rng.normal(size=10 + i).tolist()
        for i in range(4):
            for j in range(i + 1, 4):
                rows.append((f"s{i}", seqs[f"s{i}"],
                             f"s{j}", seqs[f"s{j}"]))
        pairs = spark.createDataFrame(
            rows, "id_a string, a array<double>, id_b string, b array<double>")
        got = {(r["id_a"], r["id_b"]): r["cost"]
               for r in dtw_pairs(pairs, dist=metric_fn).collect()}
        for (ia, ib), c in got.items():
            want, _, _ = dtw(np.array(seqs[ia]), np.array(seqs[ib]),
                             metric_fn)
            assert c == pytest.approx(want, rel=1e-12), (ia, ib)
