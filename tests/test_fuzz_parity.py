"""Hypothesis fuzz: engine kernels vs the naive scalar second-source
oracle (scripts/naive_dtw.py).

Fixed-seed parity lives in test_naive_oracle.py; this file drives
randomized AND adversarially tie-heavy inputs — quantized integer grids
and constant plateaus, the regime gap-filled event-rate series live in —
where the tie-derived integers (warp paths, NN locs) flip on any 1-ulp
cost divergence. The engine's C and NumPy DPs are pinned BIT-identical
to the naive recurrence (kernels/_native.c compiles with
-ffp-contract=off; the NumPy fallbacks use the same min+add expression
order), so costs assert with ``==``, not approx: an approx pass with an
exact failure here would mean golden path/loc values depend on which
execution path ran — the exact bug class the second-source oracle
exists to catch."""

import os
import sys

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

import naive_dtw as NV  # noqa: E402

from dynamicaxiswarping_jl_spark import kernels as K  # noqa: E402

# Tie-heavy series: small-integer grid scaled by 1/3 (inexact in binary,
# like real turn-rates after bucketing) — exact fp ties everywhere.
_quantized = st.lists(st.integers(0, 3), min_size=2, max_size=28).map(
    lambda v: np.array(v, dtype=float) / 3.0)
# Smooth series: bounded finite floats.
_smooth = st.lists(
    st.floats(min_value=-5, max_value=5, allow_nan=False, width=32),
    min_size=2, max_size=28).map(lambda v: np.array(v, dtype=float))
_series = st.one_of(_quantized, _smooth)
_FUZZ = dict(max_examples=30, deadline=None)


class TestFullDtwFuzz:
    @given(a=_series, b=_series, tc=st.sampled_from([1.0, 1.5, 2.0]))
    @settings(**_FUZZ)
    def test_full_cost_and_paths_bit_equal(self, a, b, tc):
        cn, i1n, i2n = NV.dtw(a, b, transportcost=tc)
        ce, i1e, i2e = K.dtw(a, b, transportcost=tc)
        assert cn == ce
        np.testing.assert_array_equal(i1n, i1e)
        np.testing.assert_array_equal(i2n, i2e)

    @given(a=_series, b=_series, r=st.integers(0, 6))
    @settings(**_FUZZ)
    def test_banded_cost_and_paths_bit_equal(self, a, b, r):
        imin, imax = K.radiuslimits(r, len(a), len(b))
        cn, i1n, i2n = NV.dtw(a, b, i2min=imin, i2max=imax)
        ce, i1e, i2e = K.dtw(a, b, i2min=imin, i2max=imax)
        assert cn == ce
        np.testing.assert_array_equal(i1n, i1e)
        np.testing.assert_array_equal(i2n, i2e)


class TestDtwCostFuzz:
    @given(a=_quantized, r=st.integers(0, 8), data=st.data())
    @settings(**_FUZZ)
    def test_band_cost_bit_equal(self, a, r, data):
        b = data.draw(st.lists(st.integers(0, 3), min_size=len(a),
                               max_size=len(a)).map(
            lambda v: np.array(v, dtype=float) / 3.0))
        assert NV.dtw_cost(a, b, "sqeuclidean", r) == K.dtw_cost(
            a, b, "sqeuclidean", r)

    @given(a=_quantized, r=st.integers(0, 8),
           frac=st.floats(min_value=0.05, max_value=1.5), data=st.data())
    @settings(**_FUZZ)
    def test_early_abandon_same_partial_value(self, a, r, frac, data):
        """With the same best_so_far, engine and oracle must abandon at
        the same row and return the same partial bound — the abandon
        VALUE feeds prune accounting, not just a boolean."""
        b = data.draw(st.lists(st.integers(0, 3), min_size=len(a),
                               max_size=len(a)).map(
            lambda v: np.array(v, dtype=float) / 3.0))
        true = NV.dtw_cost(a, b, "sqeuclidean", r)
        bsf = true * frac + 1e-9
        assert NV.dtw_cost(a, b, "sqeuclidean", r, best_so_far=bsf) \
            == K.dtw_cost(a, b, "sqeuclidean", r, best_so_far=bsf)

    @given(k=st.integers(1, 6), m=st.integers(2, 24), r=st.integers(0, 6),
           pairwise=st.booleans(), data=st.data())
    @settings(**_FUZZ)
    def test_batch_bit_equal(self, k, m, r, pairwise, data):
        grid = st.lists(st.integers(0, 3), min_size=k * m, max_size=k * m)
        W = np.array(data.draw(grid), dtype=float).reshape(k, m) / 3.0
        if pairwise:
            q = np.array(data.draw(grid), dtype=float).reshape(k, m) / 3.0
        else:
            q = np.array(data.draw(st.lists(st.integers(0, 3), min_size=m,
                                            max_size=m)), dtype=float) / 3.0
        np.testing.assert_array_equal(NV.dtw_cost_batch(q, W, r),
                                      K.dtw_cost_batch(q, W, r))


class TestKbestBoundFuzz:
    @given(a=_series, b=_series, r=st.integers(0, 6),
           short=st.integers(1, 3), data=st.data())
    @settings(**_FUZZ)
    def test_kbest_bounds_never_exceed_pair_cost(self, a, b, r, short,
                                                 data):
        """Both vectorized bounds of the k-best loop are lower bounds of
        the k-NN pair cost: LB_Keogh for equal lengths, the window-min
        endpoint bound for different lengths, in both directions, and
        with one-point and m=2,3 shorter sides (where the endpoint
        terms overlap)."""
        from dynamicaxiswarping_jl_spark.kernels.distances import get_dist
        from dynamicaxiswarping_jl_spark.kernels.dtwnn import _kbest_bounds
        d = get_dist("sqeuclidean")
        if data.draw(st.booleans()):
            a = a[:short]  # a one-, two- or three-point side
        same = data.draw(st.booleans())
        if same:
            b = (b.tolist() * len(a))[:len(a)]
            b = np.array(b, dtype=float)
        for x, y in ((a, b), (b, a)):
            (_, lb), = _kbest_bounds(d, x, {len(y): (np.array([0]),
                                                     y[None, :])}, r)
            if len(x) == len(y):
                true = NV.dtw_cost(x, y, "sqeuclidean", r)
            else:
                s, l = sorted((x, y), key=len)
                true = min(NV.dtw_cost(s, l[t:t + len(s)], "sqeuclidean", r)
                           for t in range(len(l) - len(s) + 1))
            assert lb[0] <= true, (x, y, lb[0], true)


class TestDtwnnFuzz:
    @given(m=st.integers(2, 12), n=st.integers(16, 80), rad=st.integers(0, 5),
           pe=st.booleans(), pv=st.booleans(), data=st.data())
    @settings(**_FUZZ)
    def test_cost_loc_invariant_under_prune_flags(self, m, n, rad, pe, pv,
                                                  data):
        """Prune flags are speed knobs, never result knobs: every flag
        combination must return the oracle's exhaustive-scan cost AND its
        earliest-tie loc — on tie-heavy integer grids many windows share
        the exact optimal cost, so loc equality is the sharp assertion."""
        q = np.array(data.draw(st.lists(st.integers(0, 2), min_size=m,
                                        max_size=m)), dtype=float) / 3.0
        y = np.array(data.draw(st.lists(st.integers(0, 2), min_size=n,
                                        max_size=n)), dtype=float) / 3.0
        want = NV.dtwnn(q, y, "sqeuclidean", rad)
        got = K.dtwnn(q, y, "sqeuclidean", rad,
                      prune_endpoints=pe, prune_envelope=pv)
        assert got.cost == want.cost
        assert got.loc == want.loc

    @given(m=st.integers(4, 10), n=st.integers(30, 70), data=st.data())
    @settings(**_FUZZ)
    def test_saveall_profile_bit_equal(self, m, n, data):
        q = np.array(data.draw(st.lists(st.integers(0, 3), min_size=m,
                                        max_size=m)), dtype=float) / 3.0
        y = np.array(data.draw(st.lists(st.integers(0, 3), min_size=n,
                                        max_size=n)), dtype=float) / 3.0
        gd = K.dtwnn(q, y, "sqeuclidean", 3, saveall=True).dists
        wd = NV.dtwnn(q, y, "sqeuclidean", 3, saveall=True).dists
        np.testing.assert_array_equal(gd, wd)


class TestEnvelopeFuzz:
    @given(q=st.lists(st.floats(-5, 5, allow_nan=False, width=32),
                      min_size=1, max_size=28),
           r=st.integers(0, 32))
    @example(q=[1.5], r=0)
    @example(q=[1.5], r=3)
    @example(q=[2.0, -1.0, 0.5], r=0)
    @example(q=[2.0, -1.0, 0.5], r=7)
    @settings(**_FUZZ)
    def test_lower_upper_envs_equal_clipped_window_extrema(self, q, r):
        """LB_Keogh envelopes are the min and max of the window
        ``q[i-r : i+r]`` clipped to the series, including one-point
        series, r = 0 (the series itself) and r >= m (every window is
        the whole series)."""
        q = np.asarray(q, dtype=float)
        m = len(q)
        want_l = [q[max(0, i - r):min(m, i + r + 1)].min() for i in range(m)]
        want_u = [q[max(0, i - r):min(m, i + r + 1)].max() for i in range(m)]
        l, u = K.lower_upper_envs(q, r)
        np.testing.assert_array_equal(l, want_l)
        np.testing.assert_array_equal(u, want_u)


class TestFastdtwFuzz:
    @given(a=_series, b=_series, radius=st.integers(0, 4))
    @settings(**_FUZZ)
    def test_cost_and_paths_bit_equal(self, a, b, radius):
        """FastDTW's compress/expand/window pipeline is all integer
        bookkeeping driven by tie-sensitive DP paths — the fragile
        composition for quantized inputs."""
        cn, i1n, i2n = NV.fastdtw(a, b, "sqeuclidean", radius)
        ce, i1e, i2e = K.fastdtw(a, b, "sqeuclidean", radius)
        assert cn == ce
        np.testing.assert_array_equal(i1n, i1e)
        np.testing.assert_array_equal(i2n, i2e)


class TestSoftdtwFuzz:
    @given(a=_smooth, b=_smooth,
           gamma=st.sampled_from([0.05, 0.5, 2.0]))
    @settings(**_FUZZ)
    def test_cost_parity(self, a, b, gamma):
        # softmin smooths ties away, so approx (not bit) equality is the
        # right contract — exp/log ordering differs between the
        # vectorized anti-diagonal sweep and the scalar oracle
        assert NV.soft_dtw_cost(a, b, gamma=gamma) == pytest.approx(
            K.soft_dtw_cost(a, b, "sqeuclidean", gamma=gamma), rel=1e-9)


class TestDbaFuzz:
    @given(nseq=st.integers(2, 5), data=st.data())
    @settings(max_examples=15, deadline=None)
    def test_dba_iteration_bit_equal(self, nseq, data):
        seqs = []
        for _ in range(nseq):
            ln = data.draw(st.integers(3, 15))
            seqs.append(np.array(data.draw(
                st.lists(st.integers(0, 3), min_size=ln, max_size=ln)),
                dtype=float) / 3.0)
        center = seqs[0]
        gn, cn = NV.dba_iteration(center, seqs)
        ge, ce = K.dba_iteration(center, seqs, "sqeuclidean")
        np.testing.assert_allclose(gn, ge, rtol=1e-15, atol=1e-15)
        assert cn == ce
