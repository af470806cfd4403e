"""dtwnn / sparse_distmat / matrix_profile parity tests.

Oracle pattern copied from the reference (runtests.jl:491-659 and
test_matrixprofile.jl:5-16): the optimized pruned search must equal a
brute-force map of dtw_cost over every window, with and without
normalization and pruning flags.
"""

import numpy as np
import pytest

from dynamicaxiswarping_jl_spark.kernels import (
    dtwnn, dtw_cost, sparse_distmat, distance_profile, matrix_profile,
    znorm, SqEuclidean, lower_upper_envs,
)


def brute_force(q, y, rad, normalizer=None):
    """Reference-style naive NN: dtw_cost on every window."""
    qn = znorm(q) if normalizer else np.asarray(q, float)
    m = len(q)
    nw = len(y) - m + 1
    dists = np.empty(nw)
    for i in range(nw):
        w = np.asarray(y[i:i + m], float)
        if normalizer:
            w = znorm(w)
        dists[i] = dtw_cost(qn, w, SqEuclidean(), rad)
    loc = int(dists.argmin())
    return dists[loc], loc + 1, dists


@pytest.fixture(scope="module")
def data():
    rng = np.random.default_rng(42)
    y = np.sin(np.linspace(0, 20 * np.pi, 600)) + 0.1 * rng.normal(size=600)
    q = y[137:137 + 40].copy() + 0.01 * rng.normal(size=40)
    return q, y


class TestDtwnnParity:
    def test_self_distance_zero(self, data):
        # runtests.jl:51-58: query found in itself with ~0 cost
        _, y = data
        q = y[:50]
        for norm in (None, "znorm"):
            res = dtwnn(q, y, SqEuclidean(), 3, norm)
            assert res.cost < 1e-18
            assert res.loc == 1

    @pytest.mark.parametrize("norm", [None, "znorm"])
    @pytest.mark.parametrize("rad", [0, 3, 7])
    def test_matches_brute_force(self, data, norm, rad):
        # runtests.jl:491-541
        q, y = data
        res = dtwnn(q, y, SqEuclidean(), rad, norm)
        bcost, bloc, _ = brute_force(q, y, rad, norm)
        assert res.cost == pytest.approx(bcost, rel=1e-9)
        assert res.loc == bloc

    @pytest.mark.parametrize("pe,pv", [(True, True), (True, False),
                                       (False, True), (False, False)])
    def test_pruning_flags_do_not_change_result(self, data, pe, pv):
        # runtests.jl:543-559
        q, y = data
        ref = dtwnn(q, y, SqEuclidean(), 5, prune_endpoints=False,
                    prune_envelope=False)
        res = dtwnn(q, y, SqEuclidean(), 5, prune_endpoints=pe,
                    prune_envelope=pv)
        assert res.cost == pytest.approx(ref.cost, rel=1e-9)
        assert res.loc == ref.loc

    def test_prune_counters_positive_on_sine(self, data):
        # runtests.jl:543-559: pruning engages on sine data
        q, y = data
        res = dtwnn(q, y, SqEuclidean(), 5)
        assert res.prune_end + res.prune_env > 0

    def test_saveall_profile_matches_brute_force(self, data):
        q, y = data
        res = dtwnn(q, y, SqEuclidean(), 4, saveall=True)
        _, _, bdists = brute_force(q, y, 4)
        np.testing.assert_allclose(res.dists, bdists, rtol=1e-9)

    def test_znorm_window_semantics(self):
        # runtests.jl:523-531: windows have mean≈0, uncorrected std≈1
        rng = np.random.default_rng(7)
        w = znorm(rng.normal(2.0, 3.0, size=100))
        assert abs(w.mean()) < 1e-12
        assert abs(w.std(ddof=0) - 1) < 1e-12

    def test_avoid_region_excluded(self, data):
        q, y = data
        res_all = dtwnn(q, y, SqEuclidean(), 5)
        res = dtwnn(q, y, SqEuclidean(), 5,
                    avoid=(res_all.loc - 5, res_all.loc + 5))
        assert not (res_all.loc - 5 <= res.loc <= res_all.loc + 5)

    def test_bsf_multiplier_keeps_result(self, data):
        q, y = data
        r1 = dtwnn(q, y, SqEuclidean(), 5)
        r2 = dtwnn(q, y, SqEuclidean(), 5, bsf_multiplier=1.5)
        assert r2.cost == pytest.approx(r1.cost, rel=1e-9)
        assert r2.loc == r1.loc
        # looser pruning prunes fewer windows
        assert r2.prune_end + r2.prune_env <= r1.prune_end + r1.prune_env

    def test_envelopes(self):
        q = np.array([0.0, 1, 2, 1, 0, -1, 0])
        l, u = lower_upper_envs(q, 1)
        assert u.tolist() == [1, 2, 2, 2, 1, 0, 0]
        assert l.tolist() == [0, 0, 1, 0, -1, -1, -1]


class TestSparseDistmat:
    def test_matches_dense_topk(self):
        # runtests.jl:633-644
        rng = np.random.default_rng(11)
        N, L, k, rad = 12, 30, 4, 5
        ys = [np.cumsum(rng.normal(size=L)) for _ in range(N)]
        DISTS, INDS = sparse_distmat(ys, k, SqEuclidean(), rad)
        # dense pairwise oracle
        D = np.full((N, N), np.inf)
        for i in range(N):
            for j in range(N):
                if i != j:
                    D[i, j] = dtw_cost(ys[i], ys[j], SqEuclidean(), rad)
        for i in range(N):
            order = np.argsort(D[i])[:k]
            np.testing.assert_allclose(DISTS[i], D[i][order], rtol=1e-9)
            assert set(INDS[i]) == set(order + 1)


class TestProfiles:
    def test_distance_profile_matches_direct(self):
        # runtests.jl:651-659
        rng = np.random.default_rng(13)
        T = np.cumsum(rng.normal(size=120))
        Q = T[30:50].copy()
        prof = distance_profile(Q, T, SqEuclidean(), 4)
        assert len(prof) == len(T) - len(Q) + 1
        for i in (0, 17, 30, 77):
            direct = dtw_cost(Q, T[i:i + len(Q)], SqEuclidean(), 4)
            assert prof[i] == pytest.approx(direct, rel=1e-9)
        assert prof[30] < 1e-18

    def test_matrix_profile_matches_dense(self):
        # test_matrixprofile.jl:5-16
        rng = np.random.default_rng(17)
        T = np.cumsum(rng.normal(size=60))
        m, rad = 10, 3
        P, I = matrix_profile(T, m, rad, SqEuclidean())
        l = len(T) - m + 1
        D = np.full((l, l), np.inf)
        for i in range(l):
            for j in range(l):
                if abs(i - j) > rad:
                    D[i, j] = dtw_cost(T[i:i + m], T[j:j + m],
                                       SqEuclidean(), rad)
        for i in range(l):
            assert P[i] == pytest.approx(D[i].min(), rel=1e-9)
            assert I[i] == D[i].argmin() + 1


_ABS_METRICS = ("euclidean", "cityblock", "chebyshev")


def _window_costs(q, y, dist, rad):
    """dtw_cost of ``q`` against every window of ``y``: the brute force
    the pruned search and the profiles must reproduce in any metric."""
    m = len(q)
    return np.array([dtw_cost(q, y[i:i + m], dist, rad)
                     for i in range(len(y) - m + 1)])


class TestMetricsOtherThanSqEuclidean:
    """The subsequence paths (dtwnn's exact stage and everything built on
    it) score the metric they are given, not SqEuclidean."""

    @pytest.fixture(scope="class")
    def walk(self):
        rng = np.random.default_rng(29)
        y = np.cumsum(rng.normal(size=110))
        return np.cumsum(rng.normal(size=18)), y

    @pytest.mark.parametrize("dist", _ABS_METRICS)
    @pytest.mark.parametrize("pe,pv", [(True, True), (False, False)])
    def test_dtwnn_equals_brute_force(self, walk, dist, pe, pv):
        q, y = walk
        brute = _window_costs(q, y, dist, 3)
        res = dtwnn(q, y, dist, 3, prune_endpoints=pe, prune_envelope=pv)
        assert res.cost == brute.min()
        assert res.loc == int(brute.argmin()) + 1

    @pytest.mark.parametrize("dist", _ABS_METRICS)
    def test_distance_profile_equals_per_window_cost(self, walk, dist):
        q, y = walk
        np.testing.assert_array_equal(distance_profile(q, y, dist, 3),
                                      _window_costs(q, y, dist, 3))

    @pytest.mark.parametrize("dist", _ABS_METRICS)
    def test_matrix_profile_equals_brute_force(self, dist):
        rng = np.random.default_rng(31)
        T = np.cumsum(rng.normal(size=45))
        m, rad = 8, 2
        P, I = matrix_profile(T, m, rad, dist)
        for i in range(len(T) - m + 1):
            row = _window_costs(T[i:i + m], T, dist, rad)
            row[max(0, i - rad):i + rad + 1] = np.inf  # the trivial band
            assert P[i] == row.min()
            assert I[i] == int(row.argmin()) + 1

    @pytest.mark.parametrize("dist", _ABS_METRICS)
    def test_dtw_dist_unequal_lengths_equals_brute_force(self, walk, dist):
        from dynamicaxiswarping_jl_spark.kernels import dtw_dist
        q, y = walk
        want = _window_costs(q, y[:60], dist, 4).min()
        assert dtw_dist(q, y[:60], radius=4, dist=dist) == want
        assert dtw_dist(y[:60], q, radius=4, dist=dist) == want


class TestDtwDistDispatch:
    def test_symmetric_swap_equality(self):
        # runtests.jl:509-510: DTW(radius=7)(a,b) == DTW(radius=7)(b,a)
        from dynamicaxiswarping_jl_spark.kernels import dtw_dist
        rng = np.random.default_rng(5)
        a = np.cumsum(rng.normal(size=40))
        b = np.cumsum(rng.normal(size=55))
        assert dtw_dist(a, b, radius=7) == pytest.approx(
            dtw_dist(b, a, radius=7), rel=1e-12)

    def test_equal_lengths_uses_dtw_cost(self):
        from dynamicaxiswarping_jl_spark.kernels import dtw_dist
        rng = np.random.default_rng(6)
        a = rng.normal(size=30)
        b = rng.normal(size=30)
        assert dtw_dist(a, b, radius=4) == pytest.approx(
            dtw_cost(a, b, SqEuclidean(), 4), rel=1e-12)

    def test_norm_normalizer(self):
        from dynamicaxiswarping_jl_spark.kernels import dtw_dist
        a = np.array([1.0, 2.0, 3.0])
        assert dtw_dist(a, 5 * a, radius=3, normalizer="norm") == pytest.approx(0.0, abs=1e-18)


class TestExtraNormalizers:
    def test_diagonal_znorm_per_channel(self):
        import numpy as np
        from dynamicaxiswarping_jl_spark.kernels import diagonal_znorm
        rng = np.random.default_rng(2)
        x = rng.normal(loc=[[5.0], [-3.0]], scale=[[2.0], [0.5]],
                       size=(2, 400))
        z = diagonal_znorm(x)
        np.testing.assert_allclose(z.mean(axis=-1), 0.0, atol=1e-12)
        np.testing.assert_allclose(z.std(axis=-1, ddof=0), 1.0, rtol=1e-12)
        # constant channel maps to zeros
        z2 = diagonal_znorm(np.vstack([np.full(10, 7.0), np.arange(10.0)]))
        assert (z2[0] == 0).all() and abs(z2[1].mean()) < 1e-12

    def test_norm_normalize_unit_norm(self):
        import numpy as np
        from dynamicaxiswarping_jl_spark.kernels import norm_normalize
        x = np.array([3.0, 4.0])
        np.testing.assert_allclose(np.linalg.norm(norm_normalize(x)), 1.0)
        assert (norm_normalize(np.zeros(5)) == 0).all()


class TestInitialBsfSeed:
    def test_seed_does_not_change_result_when_loose(self):
        import numpy as np
        from dynamicaxiswarping_jl_spark.kernels import dtwnn
        rng = np.random.default_rng(11)
        y = np.cumsum(rng.normal(size=4000))
        q = y[1500:1560].copy() + 0.01 * rng.normal(size=60)
        cold = dtwnn(q, y, "sqeuclidean", 5)
        seeded = dtwnn(q, y, "sqeuclidean", 5, initial_bsf=cold.cost * 10)
        assert seeded.cost == cold.cost and seeded.loc == cold.loc

    def test_tight_seed_prunes_everything_to_inf(self):
        import numpy as np
        from dynamicaxiswarping_jl_spark.kernels import dtwnn
        rng = np.random.default_rng(12)
        y = np.cumsum(rng.normal(size=2000)) + 100.0
        q = np.zeros(50)  # far from every window → large true cost
        res = dtwnn(q, y, "sqeuclidean", 5, initial_bsf=1e-12)
        assert np.isinf(res.cost)  # caller keeps its prior best

    def test_seed_between_best_and_second_keeps_best(self):
        """A seed tighter than every window except the true best must
        still find the true best (the best window is never prunable
        below its own cost)."""
        import numpy as np
        from dynamicaxiswarping_jl_spark.kernels import dtwnn
        rng = np.random.default_rng(13)
        y = np.cumsum(rng.normal(size=3000))
        q = y[800:860].copy()  # exact match → best cost 0
        prof = dtwnn(q, y, "sqeuclidean", 5, saveall=True).dists
        second = np.partition(prof, 1)[1]
        res = dtwnn(q, y, "sqeuclidean", 5, initial_bsf=second * 0.5)
        assert res.cost == 0.0 and res.loc == 801


try:
    from hypothesis import given, settings, strategies as st
    HAVE_HYP = True
except ImportError:
    HAVE_HYP = False

if HAVE_HYP:
    import numpy as _np
    from dynamicaxiswarping_jl_spark.kernels import (
        dtw_cost as _dtw_cost, dtw_cost_batch as _dtw_cost_batch,
        dtwnn as _dtwnn)

    class TestKernelProperties:
        @settings(max_examples=40, deadline=None)
        @given(st.integers(0, 2**32 - 1), st.integers(8, 60),
               st.integers(0, 8))
        def test_batch_dp_equals_scalar_dp(self, seed, m, r):
            """dtw_cost_batch over k rows == per-pair dtw_cost for random
            shapes and radii (incl. r=0 pointwise degenerate case)."""
            rng = _np.random.default_rng(seed)
            k = int(rng.integers(1, 6))
            q = rng.normal(size=m)
            W = rng.normal(size=(k, m))
            batch = _dtw_cost_batch(q, W, r)
            for i in range(k):
                assert batch[i] == pytest.approx(
                    _dtw_cost(q, W[i], "sqeuclidean", r), rel=1e-12)

        @settings(max_examples=25, deadline=None)
        @given(st.integers(0, 2**32 - 1), st.integers(30, 200),
               st.integers(5, 20), st.integers(0, 6),
               st.booleans(), st.booleans())
        def test_dtwnn_equals_bruteforce(self, seed, n, m, r, pe, pv):
            """Pruned search == brute-force window scan for random series,
            window lengths, radii, and prune-flag combinations."""
            rng = _np.random.default_rng(seed)
            y = _np.cumsum(rng.normal(size=n))
            q = rng.normal(size=min(m, n - 1))
            res = _dtwnn(q, y, "sqeuclidean", r,
                         prune_endpoints=pe, prune_envelope=pv)
            mm = len(q)
            brute = _np.array([
                _dtw_cost(q, y[i:i + mm], "sqeuclidean", r)
                for i in range(n - mm + 1)])
            assert res.cost == pytest.approx(brute.min(), rel=1e-10)
            assert res.loc == int(brute.argmin()) + 1


class TestFallbackSeedContract:
    def test_multichannel_seeded_below_all_returns_inf(self):
        """Fallback (multichannel) path: a seed tighter than every window
        must yield Inf — an early-abandoned partial DP sum (a lower
        bound, not a window's true cost) must never be reported."""
        import numpy as np
        from dynamicaxiswarping_jl_spark.kernels import dtwnn
        rng = np.random.default_rng(21)
        y = rng.normal(size=(2, 300)) + 50.0
        q = np.zeros((2, 40))
        res = dtwnn(q, y, "sqeuclidean", 5, initial_bsf=1e-9)
        assert np.isinf(res.cost)

    def test_multichannel_loose_seed_matches_cold(self):
        import numpy as np
        from dynamicaxiswarping_jl_spark.kernels import dtwnn
        rng = np.random.default_rng(22)
        y = rng.normal(size=(2, 200))
        q = y[:, 60:100].copy()
        cold = dtwnn(q, y, "sqeuclidean", 5)
        seeded = dtwnn(q, y, "sqeuclidean", 5,
                       initial_bsf=cold.cost + 100.0)
        assert seeded.cost == cold.cost and seeded.loc == cold.loc


class TestMultichannelSearch:
    """Multichannel search runs the NumPy exact stage with the endpoint
    bound on: its cost, loc and profile equal a brute force over
    dtw_cost windows in every built-in metric."""

    @staticmethod
    def _window_costs(q, y, dist, rad):
        m = q.shape[-1]
        return np.array([dtw_cost(q, y[..., i:i + m], dist, rad)
                         for i in range(y.shape[-1] - m + 1)])

    @pytest.mark.parametrize("dist", ("sqeuclidean",) + _ABS_METRICS)
    def test_pruned_search_equals_brute_force(self, dist):
        rng = np.random.default_rng(33)
        y = np.cumsum(rng.normal(size=(3, 160)), axis=1)
        q = y[:, 70:94] + 0.05 * rng.normal(size=(3, 24))
        brute = self._window_costs(q, y, dist, 3)
        res = dtwnn(q, y, dist, 3)
        assert res.cost == brute.min()
        assert res.loc == int(brute.argmin()) + 1
        # far windows: the endpoint bound alone prunes them
        far = np.concatenate([y + 40.0, y[:, 60:100]], axis=1)
        res = dtwnn(q, far, dist, 3)
        brute = self._window_costs(q, far, dist, 3)
        assert res.cost == brute.min()
        assert res.loc == int(brute.argmin()) + 1
        assert res.prune_end > 0

    @pytest.mark.parametrize("dist", ("sqeuclidean",) + _ABS_METRICS)
    def test_distance_profile_equals_per_window_cost(self, dist):
        rng = np.random.default_rng(34)
        y = np.cumsum(rng.normal(size=(2, 90)), axis=1)
        q = np.cumsum(rng.normal(size=(2, 15)), axis=1)
        np.testing.assert_array_equal(distance_profile(q, y, dist, 2),
                                      self._window_costs(q, y, dist, 2))


class TestNativeCascadeParity:
    """nn_search_sq (the whole-cascade C fast path) must return cost/loc
    identical to the Python batched cascade backed by the same native
    dtw_cost_batch — across metrics of series shape, radius, znorm, bsf
    seeding and avoid ranges."""

    def _py_dtwnn(self, *a, **kw):
        from dynamicaxiswarping_jl_spark.kernels import native
        real = native.nn_search
        native.nn_search = lambda *aa, **kk: None  # force the batched path
        try:
            return dtwnn(*a, **kw)
        finally:
            native.nn_search = real

    def test_cost_loc_parity_fuzz(self):
        from dynamicaxiswarping_jl_spark.kernels import native
        if not native.available():
            pytest.skip("no C compiler")
        rng = np.random.default_rng(42)
        for trial in range(40):
            m = int(rng.integers(8, 40))
            n = int(rng.integers(m + 1, 600))
            kind = trial % 3
            if kind == 0:
                y = rng.normal(size=n)
                q = rng.normal(size=m)
            elif kind == 1:  # integer grid: exact fp ties everywhere
                y = rng.integers(0, 3, size=n).astype(float)
                q = rng.integers(0, 3, size=m).astype(float)
            else:  # zero-heavy event-rate shape
                y = np.zeros(n)
                y[rng.integers(0, n, size=5)] = rng.normal(size=5)
                q = np.zeros(m)
            rad = int(rng.integers(0, 8))
            norm = "znorm" if (trial % 4 == 0 and kind == 0) else None
            bsf = float(rng.choice([np.inf, 0.5, 0.0, 3.0]))
            avoid = None
            if trial % 5 == 0:
                lo = int(rng.integers(1, max(2, n - m)))
                avoid = (lo, lo + int(rng.integers(0, 10)))
            r1 = dtwnn(q, y, "sqeuclidean", rad, norm, initial_bsf=bsf,
                       avoid=avoid)
            r2 = self._py_dtwnn(q, y, "sqeuclidean", rad, norm,
                                initial_bsf=bsf, avoid=avoid)
            assert r1.cost == r2.cost and r1.loc == r2.loc, (
                trial, m, n, rad, norm, bsf, avoid,
                (r1.cost, r1.loc), (r2.cost, r2.loc))


class TestFloat32Search:
    """dtwnn(dtype=np.float32) runs the NumPy stage in float32: its cost
    and loc are the float32 batched DP's over every window."""

    def test_equals_float32_brute_force(self):
        from dynamicaxiswarping_jl_spark.kernels import dtw_cost_batch
        rng = np.random.default_rng(43)
        for trial in range(20):
            m = int(rng.integers(4, 30))
            n = int(rng.integers(m, 300))
            y = np.cumsum(rng.normal(size=n)).astype(np.float32)
            t = int(rng.integers(0, n - m + 1))
            q = y[t:t + m] + rng.normal(size=m).astype(np.float32)
            rad = int(rng.integers(0, 6))
            costs = dtw_cost_batch(
                q, np.lib.stride_tricks.sliding_window_view(y, m), rad)
            assert costs.dtype == np.float32
            r = dtwnn(q, y, "sqeuclidean", rad, dtype=np.float32)
            assert (r.cost, r.loc) == (float(costs.min()),
                                       int(costs.argmin()) + 1), trial


class TestScanParity:
    """dtwnn_scan, the task loop of dtwnn_search, against the per-pair
    loop it replaces: dtwnn of each query in each series at least as
    long, series by series, each query's best-so-far threaded — record by
    record, by repr, prune counters included."""

    @staticmethod
    def _corpus():
        rng = np.random.default_rng(17)
        ys = []
        for i in range(24):
            n = int(rng.integers(6, 150))
            if i % 3 == 0:
                ys.append(np.cumsum(rng.normal(size=n)))
            elif i % 3 == 1:  # integer grid: exact fp ties everywhere
                ys.append(rng.integers(0, 3, size=n).astype(float))
            else:  # zero-heavy event-rate shape
                y = np.zeros(n)
                y[rng.integers(0, n, size=3)] = rng.normal(size=3)
                ys.append(y)
        # some queries are longer than some series
        qs = [np.cumsum(rng.normal(size=m)) for m in (5, 12, 40)]
        qs += [rng.integers(0, 3, size=10).astype(float), np.zeros(7),
               ys[0][3:11].copy()]
        return qs, ys

    @staticmethod
    def _per_pair(qs, ys, dist, norm, bsf):
        out = []
        for s, y in enumerate(ys):
            for i, q in enumerate(qs):
                if len(y) < len(q):
                    continue
                r = dtwnn(q, y, dist, 3, norm, initial_bsf=bsf[i])
                if np.isfinite(r.cost):
                    bsf[i] = min(bsf[i], r.cost)
                    out.append((s, i, r.cost, r.loc, r.prune_end,
                                r.prune_env))
        return out

    @pytest.mark.parametrize("norm", [None, "znorm"])
    @pytest.mark.parametrize("dist", ["sqeuclidean", "cityblock"])
    def test_equals_per_pair_threaded_loop(self, dist, norm):
        from dynamicaxiswarping_jl_spark.kernels.dtwnn import dtwnn_scan
        qs, ys = self._corpus()
        seeds = np.full(len(qs), np.inf)
        seeds[1] = 4.0  # an incoming best-so-far, as a later batch has
        want_bsf = seeds.copy()
        want = self._per_pair(qs, ys, dist, norm, want_bsf)
        got = dtwnn_scan(qs, ys, dist, 3, norm, seeds)
        assert len(got) == len(want) > 0
        for g, w in zip(got, want):
            assert repr(g) == repr(w)
        assert repr(seeds.tolist()) == repr(want_bsf.tolist())

    def test_nn_scan_makes_one_native_call_per_batch(self, monkeypatch):
        from dynamicaxiswarping_jl_spark.kernels import native
        from dynamicaxiswarping_jl_spark.operators import dtw_ops
        if not native.available():
            pytest.skip("no C compiler")
        qs, ys = self._corpus()
        want = self._per_pair(qs, ys, "sqeuclidean", "znorm",
                              np.full(len(qs), np.inf))
        real, calls = native.nn_search, []

        def counted(*a, **kw):
            calls.append(1)
            return real(*a, **kw)

        monkeypatch.setattr(native, "nn_search", counted)
        qlist = [(i, q) for i, q in enumerate(qs)]
        bsf, got = {}, []
        for lo, hi in ((0, 10), (10, 24)):  # two Arrow batches of a task
            got += dtw_ops._nn_scan(
                ((s, ys[s]) for s in range(lo, hi)), qlist, bsf, 3,
                "sqeuclidean", "znorm", "conv_id")
            assert len(calls) == (1 if lo == 0 else 2)
        assert [repr((r["conv_id"], r["query_id"], r["cost"], r["loc"],
                      r["prune_end"], r["prune_env"])) for r in got] == \
            [repr(w) for w in want]


class TestShortQuerySoundness:
    """Regression: the reference's endpoint LB (src/dtwnn.jl:99-119) is NOT
    a lower bound for m == 1 (the two-term sum double-counts the single
    shared cell) or m == 3 (both refinement terms can bound the diagonal
    path's one interior cell). Until fixed, the C cascade pruned TRUE
    nearest neighbors for length-1/3 queries — results depended on whether
    a compiler was present. The engine now uses the single exact term at
    m == 1 and applies refinements only for m >= 4, in lb_endpoints,
    _lb_endpoints_all, nn_search_sq (C), and the naive oracle alike."""

    @pytest.mark.parametrize("m", [1, 2, 3, 4])
    def test_dtwnn_matches_brute_force_short_m(self, m):
        rng = np.random.default_rng(2)
        for trial in range(300):
            q = rng.normal(size=m)
            y = rng.normal(size=m + int(rng.integers(3, 20)))
            rad = int(rng.integers(0, 4))
            res = dtwnn(q, y, SqEuclidean(), rad)
            bcost, bloc, _ = brute_force(q, y, rad)
            assert res.cost == pytest.approx(bcost, rel=1e-12), (m, trial)
            assert res.loc == bloc, (m, trial)

    @pytest.mark.parametrize("m", [1, 2, 3, 5])
    def test_lb_endpoints_is_a_lower_bound(self, m):
        from dynamicaxiswarping_jl_spark.kernels.dtwnn import lb_endpoints
        rng = np.random.default_rng(3)
        for _ in range(2000):
            a = rng.normal(size=m)
            b = rng.normal(size=m)
            lb = lb_endpoints("sqeuclidean", a, b)
            cost = dtw_cost(a, b, SqEuclidean(), r=m)  # unconstrained
            assert lb <= cost + 1e-12 * max(1.0, cost), (m, lb, cost)

    def test_vectorized_endpoint_lb_is_a_lower_bound(self):
        from dynamicaxiswarping_jl_spark.kernels.dtwnn import (
            _lb_endpoints_all)
        rng = np.random.default_rng(4)
        for m in (1, 2, 3, 4):
            q = rng.normal(size=m)
            y = rng.normal(size=60)
            lbs = _lb_endpoints_all("sqeuclidean", q, y, m, None, None)
            for i in range(len(y) - m + 1):
                cost = dtw_cost(q, y[i:i + m], SqEuclidean(), r=m)
                assert lbs[i] <= cost + 1e-12, (m, i)

    def test_residue_pairs_keep_cost_equal_to_tau(self):
        """k-best loop contract: a cross-length pair whose true cost
        EQUALS the seed (the k-th best) must come back finite — LB gates
        compare with <=, so a sound LB never drops it (the unsound m==3
        LB did)."""
        from dynamicaxiswarping_jl_spark.kernels import native
        if not native.available():
            pytest.skip("no C compiler")
        rng = np.random.default_rng(7)
        for trial in range(300):
            a = rng.normal(size=3)
            b = rng.normal(size=20)
            true = dtwnn(a, b, SqEuclidean(), 5).cost
            out = native.nn_search(
                native.Block(a, [[0, 3]], *lower_upper_envs(a, 5)),
                native.Block(b, [[0, 20]]), [[0, 0, 0]], [true], 5)
            assert out is not None
            out = out[0]
            assert np.isfinite(out[0]) and out[0] == pytest.approx(
                true, rel=1e-12), trial

    def test_negative_radius_raises_on_every_path(self):
        rng = np.random.default_rng(5)
        q, y = rng.normal(size=8), rng.normal(size=50)
        for pv in (True, False):
            with pytest.raises(ValueError, match="radius"):
                dtwnn(q, y, SqEuclidean(), -1, prune_envelope=pv)

    def test_naive_oracle_lb_matches_engine_short_m(self):
        import os
        import sys
        sys.path.insert(0, os.path.join(os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))), "scripts"))
        import naive_dtw as NV
        from dynamicaxiswarping_jl_spark.kernels.dtwnn import lb_endpoints
        rng = np.random.default_rng(6)
        for m in (1, 2, 3, 4, 7):
            for _ in range(200):
                a = rng.normal(size=m)
                b = rng.normal(size=m)
                assert NV.lb_endpoints("sqeuclidean", a, b) == pytest.approx(
                    lb_endpoints("sqeuclidean", a, b), rel=1e-12)


class TestKnnKbest:
    """The k-best task loop of knn_topk (kernels.knn_kbest): its rows must
    equal a brute force over every pair, whatever the bounds pruned."""

    @staticmethod
    def _cost(a, b, d, rad):
        # banded DTW for equal lengths, else the best window of the
        # shorter series inside the longer, with no bound anywhere
        if a.shape[-1] == b.shape[-1]:
            return dtw_cost(a, b, d, rad)
        s, l = sorted((a, b), key=lambda x: x.shape[-1])
        m = s.shape[-1]
        return min(dtw_cost(s, l[..., t:t + m], d, rad)
                   for t in range(l.shape[-1] - m + 1))

    def _brute(self, ys, k, d, rad):
        rows = []
        for i, a in enumerate(ys):
            top = sorted((self._cost(a, b, d, rad), j)
                         for j, b in enumerate(ys) if j != i)[:k]
            rows += [(i, j, c) for c, j in top]
        return rows

    def _check(self, ys, k, dist, rad):
        from dynamicaxiswarping_jl_spark.kernels import knn_kbest
        from dynamicaxiswarping_jl_spark.kernels.distances import get_dist
        ids = list(range(len(ys)))
        rows, _, _ = knn_kbest(zip(ids, ys), zip(ids, ys), k, rad, dist)
        want = self._brute(ys, k, get_dist(dist), rad)
        assert [r[:2] for r in rows] == [w[:2] for w in want]
        np.testing.assert_allclose([r[2] for r in rows],
                                   [w[2] for w in want], rtol=1e-12)

    def test_equals_sparse_distmat_on_equal_lengths(self):
        from dynamicaxiswarping_jl_spark.kernels import knn_kbest
        rng = np.random.default_rng(12)
        for N, L, k, rad in ((30, 24, 4, 5), (25, 7, 3, 2), (12, 40, 11, 5)):
            ys = [np.cumsum(rng.normal(size=L)) for _ in range(N)]
            DISTS, INDS = sparse_distmat(ys, k, SqEuclidean(), rad)
            rows, _, _ = knn_kbest(zip(range(N), ys), zip(range(N), ys),
                                   k, rad)
            got = np.array([r[2] for r in rows]).reshape(N, k)
            inds = np.array([r[1] + 1 for r in rows]).reshape(N, k)
            np.testing.assert_array_equal(inds, INDS)
            np.testing.assert_allclose(got, DISTS, rtol=1e-12)

    def test_mixed_lengths_singletons_and_zero_ties(self):
        """Singletons (one-term endpoint bound), duplicates and verbatim
        embeddings (exact-zero costs that tie, in both length
        directions): the ids, their (cost, id) order and the costs match
        brute force."""
        rng = np.random.default_rng(8)
        ys = [np.cumsum(rng.normal(size=int(n)))
              for n in rng.integers(2, 20, size=24)]
        ys += [np.array([1.0]), np.array([1.0]), np.array([0.5]),
               ys[3].copy(), ys[5][1:4].copy(),
               np.concatenate([ys[7], ys[7]])]
        for k in (1, 3, 6):
            self._check(ys, k, "sqeuclidean", 3)

    @pytest.mark.parametrize("dist", _ABS_METRICS)
    def test_mixed_lengths_in_other_metrics(self, dist):
        """Cross-length pairs score the subsequence NN cost in the given
        metric, as brute force over dtw_cost windows does."""
        rng = np.random.default_rng(10)
        ys = [np.cumsum(rng.normal(size=int(n)))
              for n in rng.integers(3, 22, size=22)]
        for k in (1, 4):
            self._check(ys, k, dist, 3)

    def test_custom_metric_runs_unpruned_and_equals_brute_force(self):
        from dynamicaxiswarping_jl_spark.kernels import CustomDist
        d = CustomDist(lambda s1, s2: np.abs(s1[:, None] - s2[None, :]) ** 1.5,
                       name="l1.5")
        rng = np.random.default_rng(3)
        ys = [np.cumsum(rng.normal(size=16)) for _ in range(20)]
        ys.append(ys[4].copy())
        self._check(ys, 3, d, 2)

    def test_multichannel_runs_unpruned_and_equals_brute_force(self):
        rng = np.random.default_rng(4)
        ys = [np.cumsum(rng.normal(size=(2, int(n))), axis=1)
              for n in rng.integers(4, 12, size=14)]
        ys.append(ys[2].copy())
        self._check(ys, 3, "sqeuclidean", 2)

    def test_equal_lengths_in_cityblock_verify_in_batches(self, monkeypatch):
        """Equal-length pairs in a metric other than SqEuclidean go through
        the batched verifier, never one dtw_cost call per pair, and the
        rows equal brute force exactly."""
        import importlib
        from dynamicaxiswarping_jl_spark.kernels import knn_kbest
        from dynamicaxiswarping_jl_spark.kernels.distances import get_dist
        rng = np.random.default_rng(14)
        ys = [np.cumsum(rng.normal(size=24)) for _ in range(30)]
        want = self._brute(ys, 4, get_dist("cityblock"), 5)
        calls = []

        def counted(*a, **kw):
            calls.append(1)
            return dtw_cost(*a, **kw)

        # the module, not the dtwnn function the package exports
        module = importlib.import_module(
            "dynamicaxiswarping_jl_spark.kernels.dtwnn")
        monkeypatch.setattr(module, "dtw_cost", counted)
        ids = list(range(len(ys)))
        rows, _, _ = knn_kbest(zip(ids, ys), zip(ids, ys), 4, 5, "cityblock")
        assert len(calls) == 0
        assert rows == want

    def test_verified_and_pruned_counters_sum_to_candidates(self):
        from dynamicaxiswarping_jl_spark.kernels import knn_kbest
        rng = np.random.default_rng(6)
        ys = [np.cumsum(rng.normal(size=int(n)))
              for n in rng.choice([24, 24, 24, 30], size=80)]
        ids = [f"s{i}" for i in range(80)]
        # candidates on the other side, with a copy of s0: its self-pair
        # is excluded, its twin is not
        cands = list(zip(ids, ys)) + [("twin", ys[0])]
        rows, verified, pruned = knn_kbest(zip(ids, ys), cands, 4, 5)
        assert verified + pruned == 80 * 80
        assert verified >= 80 * 4 and pruned > 0
        assert rows[0][1:] == ("twin", 0.0)


class TestKnnKbestCrossLengthBatch:
    """Cross-length k-NN pairs without the C cascade (another metric, a
    custom one, or no compiler) are verified in one batched NumPy pass
    per step of each query's k-best loop; rows equal a per-pair brute
    force."""

    def test_mixed_lengths_in_cityblock_make_no_dtwnn_call(self,
                                                            monkeypatch):
        """No per-pair dtwnn call, and the rows equal brute force exactly,
        exact-zero ties in both length directions included."""
        import importlib
        from dynamicaxiswarping_jl_spark.kernels import knn_kbest
        from dynamicaxiswarping_jl_spark.kernels.distances import get_dist
        rng = np.random.default_rng(15)
        ys = [np.cumsum(rng.normal(size=int(n)))
              for n in rng.integers(6, 26, size=30)]
        # verbatim embeddings: exact-zero costs in both length directions
        ys += [ys[3][1:5].copy(), np.concatenate([ys[5], ys[5]])]
        want = TestKnnKbest()._brute(ys, 4, get_dist("cityblock"), 3)
        module = importlib.import_module(
            "dynamicaxiswarping_jl_spark.kernels.dtwnn")
        real, calls = module.dtwnn, []

        def counted(*a, **kw):
            calls.append(1)
            return real(*a, **kw)

        monkeypatch.setattr(module, "dtwnn", counted)
        ids = list(range(len(ys)))
        rows, _, _ = knn_kbest(zip(ids, ys), zip(ids, ys), 4, 3, "cityblock")
        assert len(calls) == 0
        assert rows == want

    def test_custom_metric_mixed_lengths_equal_brute_force(self):
        """A custom metric has no sound bound: every window of every
        cross-length pair is verified."""
        from dynamicaxiswarping_jl_spark.kernels import CustomDist
        d = CustomDist(lambda s1, s2: np.abs(s1[:, None] - s2[None, :]) ** 1.5,
                       name="l1.5")
        rng = np.random.default_rng(16)
        ys = [np.cumsum(rng.normal(size=int(n)))
              for n in rng.integers(4, 18, size=16)]
        ys.append(ys[2][3:9].copy())
        TestKnnKbest()._check(ys, 3, d, 2)
