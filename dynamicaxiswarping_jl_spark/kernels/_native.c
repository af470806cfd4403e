/* Native kernels on float64: the SqEuclidean banded-DTW dynamic programs
 * and the NN search cascade over 1-D series, and the Gorilla chunk codec.
 *
 * Plain-C restatements of the NumPy DP sweeps in dtw.py — same
 * recurrence, same boundary rules, same early-abandon semantics
 * (reference src/dtw.jl:40-111,176-237; the DP itself is the public
 * textbook/UCR-suite algorithm). Compiled at first use with the system
 * gcc by native.py and loaded via ctypes; every entry point has a NumPy
 * fallback, so this file is an accelerator, not a dependency.
 *
 * Orientation notes (match dtw.py exactly):
 *  - full matrix D is (m, n) with rows indexing seq2, cols indexing seq1;
 *  - the banded path uses 0-based per-column row windows lo[c]..hi[c];
 *  - dtw_cost rows index `a`, band columns index `b` (equal lengths);
 *  - transportcost tc multiplies the non-diagonal moves; first row/column
 *    boundary cells follow each function's documented exception.
 */

#include <math.h>
#include <stdlib.h>

#define INF INFINITY

static inline double dmin(double x, double y) { return x < y ? x : y; }

/* Full (m, n) cumulative cost matrix, rows = seq2, cols = seq1.
 * First row and first column are plain cumulative sums (no tc) —
 * src/dtw.jl:51-56. */
void dtw_full_sq(const double *s1, long n, const double *s2, long m,
                 double tc, double *D)
{
    double dv = s2[0] - s1[0];
    D[0] = dv * dv;
    for (long c = 1; c < n; c++) {
        dv = s2[0] - s1[c];
        D[c] = D[c - 1] + dv * dv;
    }
    for (long r = 1; r < m; r++) {
        dv = s2[r] - s1[0];
        D[r * n] = D[(r - 1) * n] + dv * dv;
    }
    if (tc == 1.0) {
        /* tc == 1 specialization: x*1.0 == x, so dropping the tc
         * multiplies is bit-identical — and the kernel's cost is the
         * loop-carried min+add latency chain, so rows are processed as a
         * 4-row WAVEFRONT with columns staggered by 2: cell (r+1, c-2)
         * needs (r, c-2), (r, c-3), (r+1, c-3), all already written when
         * row r is at column c. Four independent chains in flight give
         * the out-of-order core ~4x ILP; every cell still evaluates the
         * exact same expression on the same operands, so results are
         * bit-identical to the single-row loop. */
        long r = 1;
        for (; r + 3 < m; r += 4) {
            const double *pv = D + (r - 1) * n;
            double *w0 = D + r * n, *w1 = w0 + n, *w2 = w1 + n,
                   *w3 = w2 + n;
            const double b0 = s2[r], b1 = s2[r + 1], b2 = s2[r + 2],
                         b3 = s2[r + 3];
            double l0 = w0[0], l1 = w1[0], l2 = w2[0], l3 = w3[0];
            long c;
            for (c = 1; c < n + 6; c++) {
                long c0 = c, c1 = c - 2, c2 = c - 4, c3 = c - 6;
                if (c0 < n) {
                    double d0 = b0 - s1[c0];
                    l0 = dmin(dmin(pv[c0], pv[c0 - 1]), l0) + d0 * d0;
                    w0[c0] = l0;
                }
                if (c1 >= 1 && c1 < n) {
                    double d1 = b1 - s1[c1];
                    l1 = dmin(dmin(w0[c1], w0[c1 - 1]), l1) + d1 * d1;
                    w1[c1] = l1;
                }
                if (c2 >= 1 && c2 < n) {
                    double d2 = b2 - s1[c2];
                    l2 = dmin(dmin(w1[c2], w1[c2 - 1]), l2) + d2 * d2;
                    w2[c2] = l2;
                }
                if (c3 >= 1 && c3 < n) {
                    double d3 = b3 - s1[c3];
                    l3 = dmin(dmin(w2[c3], w2[c3 - 1]), l3) + d3 * d3;
                    w3[c3] = l3;
                }
            }
        }
        for (; r < m; r++) {
            const double *prev = D + (r - 1) * n;
            double *row = D + r * n;
            const double br = s2[r];
            double left = row[0];
            for (long c = 1; c < n; c++) {
                dv = br - s1[c];
                double b = dmin(prev[c], prev[c - 1]);
                left = dmin(b, left) + dv * dv;
                row[c] = left;
            }
        }
        return;
    }
    for (long r = 1; r < m; r++) {
        const double *prev = D + (r - 1) * n;
        double *row = D + r * n;
        const double br = s2[r];
        double left = row[0];
        for (long c = 1; c < n; c++) {
            dv = br - s1[c];
            double best = dmin(dmin(tc * prev[c], prev[c - 1]), tc * left);
            left = best + dv * dv;
            row[c] = left;
        }
    }
}

/* Trackback from D[m-1, n-1] (reference src/dtw.jl:123-152 via the
 * src/utils.jl:1-15 tie rule: diagonal, then up, then left). Fills ti1
 * (cols into seq1) / ti2 (rows into seq2), both 1-based, in REVERSE
 * order (end -> start); the caller reverses. Returns the path length
 * (<= m + n). Works on banded dense matrices too: out-of-band +inf
 * cells lose every <= comparison exactly like the NumPy path. */
long dtw_trackback(const double *D, long m, long n,
                   long long *ti1, long long *ti2)
{
    long r = m - 1, c = n - 1, k = 0;
    ti2[k] = r + 1; ti1[k] = c + 1; k++;
    while (r > 0 && c > 0) {
        double a = D[(r - 1) * n + (c - 1)];
        double b = D[(r - 1) * n + c];
        double cc = D[r * n + (c - 1)];
        if (a <= b) { if (a <= cc) { r--; c--; } else c--; }
        else { if (b <= cc) r--; else c--; }
        ti2[k] = r + 1; ti1[k] = c + 1; k++;
    }
    while (r > 0) { r--; ti2[k] = r + 1; ti1[k] = 1; k++; }
    while (c > 0) { c--; ti1[k] = c + 1; ti2[k] = 1; k++; }
    return k;
}

static inline double band_get(const double *band, const long *off,
                              const long *lo, const long *hi,
                              long r, long c)
{
    return (r >= lo[c] && r <= hi[c]) ? band[off[c] + r - lo[c]] : INF;
}

/* Banded DTW cost + path WITHOUT the dense (m, n) matrix: the DP runs on
 * compact per-column band storage (off[c] = start of column c's segment,
 * total sum(hi-lo+1) doubles — for radiuslimits(r) that is O((2r+1+d)*n)
 * instead of O(m*n)), then the trackback reads through band_get with
 * out-of-band = +inf. Same recurrence, boundary rules and exact mins as
 * banded_dtw_cost_matrix's NumPy sweep in dtw.py, so costs and paths are
 * bit-identical to the dense path. Caller guarantees lo[0] == 0 and
 * hi[n-1] == m-1. */
double dtw_banded_path_sq(const double *s1, long n, const double *s2,
                          long m, const long *lo, const long *hi,
                          const long *off, double tc, double *band,
                          long long *ti1, long long *ti2, long long *plen)
{
    double acc = 0.0;
    for (long r = 0; r <= hi[0]; r++) {
        double dv = s1[0] - s2[r];
        acc += dv * dv;
        band[off[0] + r] = acc;
    }
    for (long c = 1; c < n; c++) {
        const long l = lo[c], h = hi[c];
        const long pl = lo[c - 1], ph = hi[c - 1];
        const double *pcol = band + off[c - 1];
        double *cur = band + off[c];
        const double ac = s1[c];
        double up = INF;
        if (tc == 1.0) {
            for (long r = l; r <= h; r++) {
                double dv = ac - s2[r];
                dv *= dv;
                double dg = (r - 1 >= pl && r - 1 <= ph)
                            ? pcol[r - 1 - pl] : INF;
                double lf = (r >= pl && r <= ph) ? pcol[r - pl] : INF;
                double best = dmin(dmin(dg, lf), up);
                up = best + dv;
                cur[r - l] = up;
            }
        } else {
            for (long r = l; r <= h; r++) {
                double dv = ac - s2[r];
                dv *= dv;
                double dg = (r - 1 >= pl && r - 1 <= ph)
                            ? pcol[r - 1 - pl] : INF;
                double lf = (r >= pl && r <= ph) ? pcol[r - pl] : INF;
                double best = dmin(dmin(dg, tc * lf), tc * up);
                up = best + dv;
                cur[r - l] = up;
            }
        }
    }
    long r = m - 1, c = n - 1, k = 0;
    double cost = band_get(band, off, lo, hi, r, c);
    ti2[k] = r + 1; ti1[k] = c + 1; k++;
    while (r > 0 && c > 0) {
        double a = band_get(band, off, lo, hi, r - 1, c - 1);
        double b = band_get(band, off, lo, hi, r - 1, c);
        double cc = band_get(band, off, lo, hi, r, c - 1);
        if (a <= b) { if (a <= cc) { r--; c--; } else c--; }
        else { if (b <= cc) r--; else c--; }
        ti2[k] = r + 1; ti1[k] = c + 1; k++;
    }
    while (r > 0) { r--; ti2[k] = r + 1; ti1[k] = 1; k++; }
    while (c > 0) { c--; ti1[k] = c + 1; ti2[k] = 1; k++; }
    *plen = k;
    return cost;
}

/* The banded cost recurrence (reference src/dtw.jl:176-237): the one DP
 * body behind every O(r)-memory banded cost in this file, and the twin of
 * _band_rows in dtw.py. Row 0 is a plain cumsum; column-0 cells take `up`
 * without tc; the other `up` moves and the left move within a row are
 * tc'd. `buf` is caller scratch of 2*min(2r+1, m) doubles.
 *
 * Instantiated with or without the early-abandon test: ABANDON == 1
 * tracks the row minimum and returns the partial lower bound
 * min_cost + cb[i+r] once it reaches bsf (src/dtw.jl:227-229);
 * ABANDON == 0 compiles both away. always_inline lets a constant tc fold:
 * the search cascade passes tc == 1 and its hot loop carries no multiply
 * (x*1.0 == x, so the result is bit-identical). */
#define BAND_COST_IMPL(NAME, ABANDON)                                    \
static inline __attribute__((always_inline))                             \
double NAME(const double *a, const double *b, long m, long r, double tc, \
            double bsf, const double *cb, double *buf)                   \
{                                                                        \
    long w = 2 * r + 1;                                                  \
    if (w > m) w = m;                                                    \
    double *prev = buf, *cur = buf + w;                                  \
    long plo = 0, phi = -1, lo = 0, hi = 0;                              \
    for (long i = 0; i < m; i++) {                                       \
        lo = i - r > 0 ? i - r : 0;                                      \
        hi = i + r < m - 1 ? i + r : m - 1;                              \
        const double ai = a[i];                                          \
        double min_cost = INF;                                           \
        if (i == 0) {                                                    \
            double s = 0.0;                                              \
            for (long j = lo; j <= hi; j++) {                            \
                double dv = ai - b[j];                                   \
                s += dv * dv;                                            \
                cur[j - lo] = s;                                         \
            }                                                            \
            min_cost = cur[0];                                           \
        } else {                                                         \
            double acc = INF;                                            \
            for (long j = lo; j <= hi; j++) {                            \
                double dv = ai - b[j];                                   \
                dv *= dv;                                                \
                double up = (j >= plo && j <= phi) ? prev[j - plo] : INF; \
                double dg = (j - 1 >= plo && j - 1 <= phi)               \
                            ? prev[j - 1 - plo] : INF;                   \
                double ups = (j == 0) ? up : tc * up;                    \
                double best = ups < dg ? ups : dg;                       \
                double y = (j > lo) ? tc * acc : INF;                    \
                if (y < best) best = y;                                  \
                acc = best + dv;                                         \
                if (ABANDON && acc < min_cost) min_cost = acc;           \
                cur[j - lo] = acc;                                       \
            }                                                            \
        }                                                                \
        if (ABANDON && i + r < m - 1 && min_cost + cb[i + r] >= bsf)     \
            return min_cost + cb[i + r];                                 \
        double *t = prev; prev = cur; cur = t;                           \
        plo = lo; phi = hi;                                              \
    }                                                                    \
    return prev[hi - lo];  /* prev holds the last row after the swap */  \
}

BAND_COST_IMPL(band_cost_abandon, 1)
BAND_COST_IMPL(band_cost, 0)

/* O(r)-memory banded cost with early abandon — mirrors dtw_cost(). */
double dtw_cost_band_sq(const double *a, const double *b, long m, long r,
                        double tc, double bsf, const double *cb,
                        double *buf)
{
    return band_cost_abandon(a, b, m, r, tc, bsf, cb, buf);
}

/* Batched banded costs: q is (m,) when pairwise==0 (one query vs k
 * windows) or (k, m) when pairwise==1 (k independent pairs); W is (k, m).
 * No early abandon (batch semantics). */
void dtw_cost_batch_sq(const double *q, int pairwise, const double *W,
                       long k, long m, long r, double tc, double *out,
                       double *buf)
{
    for (long p = 0; p < k; p++)
        out[p] = band_cost(pairwise ? q + p * m : q, W + p * m, m, r, tc,
                           INF, NULL, buf);
}

/* LB_Keogh totals for a subset of window starts (mirrors
 * _lb_env_subset in dtwnn.py): per-step envelope excess
 * e = max(x-u_raw, 0) + max(l_raw - x, 0), rescaled by 1/sd under
 * z-normalization, squared for SqEuclidean. No window gather, no
 * temporaries — one streaming pass per candidate. */
void lb_env_subset(const double *y, long m, const double *l,
                   const double *u, const double *mu, const double *sd,
                   int use_norm, int squared, const long *cand, long k,
                   double *out)
{
    for (long p = 0; p < k; p++) {
        const long c = cand[p];
        const double *x = y + c;
        double acc = 0.0;
        if (use_norm) {
            const double scale = sd[c], off = mu[c];
            for (long j = 0; j < m; j++) {
                double ur = u[j] * scale + off;
                double lr = l[j] * scale + off;
                double e = x[j] > ur ? x[j] - ur
                         : (lr > x[j] ? lr - x[j] : 0.0);
                e /= scale;  /* divide, not multiply-by-reciprocal:
                                keeps ulp parity with the NumPy path */
                acc += squared ? e * e : e;
            }
        } else {
            for (long j = 0; j < m; j++) {
                double e = x[j] > u[j] ? x[j] - u[j]
                         : (l[j] > x[j] ? l[j] - x[j] : 0.0);
                acc += squared ? e * e : e;
            }
        }
        out[p] = acc;
    }
}

/* Whole-cascade subsequence NN search for one (query, series) pair —
 * the C twin of the NumPy exact stage of dtwnn() in dtwnn.py (reference
 * src/dtwnn.jl:162-238), called by nn_search_sq for each of its pairs.
 *
 * RESULT parity contract (tests/test_kernels_dtwnn.py): cost and loc are
 * identical to the NumPy exact stage — every window whose true cost
 * equals the final minimum has lb <= cost <= running threshold at every
 * point of any sound scan, so it is always computed; the DP is
 * band_cost, the body of dtw_cost_batch_sq (full evaluation, no early
 * abandon), on the same normalized operands, hence bit-equal costs; this
 * scan runs in window order, so the earliest minimum wins ties exactly
 * like flatnonzero(dists == best)[0]. Prune counters keep the deterministic
 * final-threshold semantics (count windows NOT computed whose stored LB
 * exceeds bsf_mult * final_best), but the NumPy stage verifies in
 * ascending-bound chunks, so its computed SET and hence its counter
 * VALUES may differ from this scan's — both are observability metrics,
 * not golden values (dtwnn.py docstring caveat).
 *
 * qn: normalized query (znorm already applied by the caller when
 * use_znorm); lenv/uenv: its envelopes; mu/sd: per-window-start sliding
 * stats (length nw, sd zero-replaced), unused when !use_znorm.
 * avoid_lo/hi: 1-based inclusive window-start mask (0,0 = none). Returns
 * 0, or -1 on allocation failure. */
static int nn_cascade(const double *qn, long m, const double *y, long n,
                      long rad, const double *lenv, const double *uenv,
                      const double *mu, const double *sd,
                      int use_znorm, int use_end, int use_env,
                      double bsf_in, double bsf_mult,
                      long avoid_lo, long avoid_hi,
                      double *out_cost, long long *out_loc,
                      long long *out_prune_end, long long *out_prune_env)
{
    const long nw = n - m + 1;
    long w = 2 * rad + 1;
    if (w > m) w = m;
    double *lbe = NULL, *lbv = NULL;
    unsigned char *comp = NULL;
    double *scratch = NULL;
    lbe = (double *)calloc((size_t)nw, sizeof(double));
    lbv = (double *)calloc((size_t)nw, sizeof(double));
    comp = (unsigned char *)calloc((size_t)nw, 1);
    scratch = (double *)malloc((size_t)(2 * w + m) * sizeof(double));
    if (!lbe || !lbv || !comp || !scratch) {
        free(lbe); free(lbv); free(comp); free(scratch);
        return -1;
    }
    double *wn = scratch + 2 * w;  /* band scratch, then the window */
    long mask_lo = avoid_lo > 0 ? avoid_lo - 1 : nw;
    long mask_hi = avoid_hi > 0 ? (avoid_hi - 1 < nw - 1
                                   ? avoid_hi - 1 : nw - 1) : -1;
    if (mask_lo < 0) mask_lo = 0;
    /* endpoint LB for every window — the full (non-early-out) sum of
     * _lb_endpoints_all, src/dtwnn.jl:99-119, with the short-m
     * soundness fix (see lb_endpoints in dtwnn.py): m == 1 is the
     * single exact term (the reference double-counts the one shared
     * cell) and refinements only apply for m >= 4 (at m == 3 the two
     * refinement terms can both bound the diagonal path's single
     * interior cell, so their sum is NOT a lower bound and pruned
     * true nearest neighbors) */
    if (use_end) {
        const double q0 = qn[0], qm = qn[m - 1];
        const double q1 = m > 3 ? qn[1] : 0.0;
        const double qm2 = m > 3 ? qn[m - 2] : 0.0;
        for (long i = 0; i < nw; i++) {
            double x1 = y[i], ylast = y[i + m - 1];
            if (use_znorm) {
                x1 = (x1 - mu[i]) / sd[i];
                ylast = (ylast - mu[i]) / sd[i];
            }
            double d1 = q0 - x1;
            double lb = d1 * d1;
            if (m > 1) {
                double d2 = qm - ylast;
                lb += d2 * d2;
            }
            if (m > 3) {
                double x2 = y[i + 1], y2 = y[i + m - 2];
                if (use_znorm) {
                    x2 = (x2 - mu[i]) / sd[i];
                    y2 = (y2 - mu[i]) / sd[i];
                }
                double a = x2 - q0, b = x1 - q1, c = x2 - q1;
                a *= a; b *= b; c *= c;
                double mn = a < b ? a : b;
                if (c < mn) mn = c;
                lb += mn;
                a = y2 - qm; b = ylast - qm2; c = y2 - qm2;
                a *= a; b *= b; c *= c;
                mn = a < b ? a : b;
                if (c < mn) mn = c;
                lb += mn;
            }
            lbe[i] = lb;
        }
    }
    double bsf = bsf_in;
    double best = INF;
    long long loc = 1;
    for (long i = 0; i < nw; i++) {
        if (i >= mask_lo && i <= mask_hi) continue;
        double thresh = bsf_mult * bsf;
        if (use_end && lbe[i] > thresh) continue;
        const double *x = y + i;
        if (use_env) {
            double acc = 0.0;
            if (use_znorm) {
                const double scale = sd[i], off = mu[i];
                for (long j = 0; j < m; j++) {
                    double ur = uenv[j] * scale + off;
                    double lr = lenv[j] * scale + off;
                    double e = x[j] > ur ? x[j] - ur
                             : (lr > x[j] ? lr - x[j] : 0.0);
                    e /= scale;
                    acc += e * e;
                }
            } else {
                for (long j = 0; j < m; j++) {
                    double e = x[j] > uenv[j] ? x[j] - uenv[j]
                             : (lenv[j] > x[j] ? lenv[j] - x[j] : 0.0);
                    acc += e * e;
                }
            }
            lbv[i] = acc;
            if (lbv[i] > thresh) continue;
        }
        const double *b = x;
        if (use_znorm) {
            const double scale = sd[i], off = mu[i];
            for (long j = 0; j < m; j++)
                wn[j] = (x[j] - off) / scale;
            b = wn;
        }
        /* full band DP, no abandon, tc == 1 folded away */
        double cost = band_cost(qn, b, m, rad, 1.0, INF, NULL, scratch);
        comp[i] = 1;
        if (cost < best) { best = cost; loc = i + 1; }
        if (best < bsf) bsf = best;
    }
    /* deterministic final-threshold counters, as dtwnn() counts */
    double thresh = bsf_mult * best;
    long long pe = 0, pv = 0;
    for (long i = 0; i < nw; i++) {
        if (comp[i] || (i >= mask_lo && i <= mask_hi)) continue;
        if (use_end && lbe[i] > thresh) { pe++; continue; }
        if (use_env && lbv[i] > thresh) pv++;
    }
    *out_cost = best;
    *out_loc = loc;
    *out_prune_end = pe;
    *out_prune_env = pv;
    free(lbe); free(lbv); free(comp); free(scratch);
    return 0;
}

/* The one search entry: the cascade for a caller-ordered list of
 * (query, series) pairs — one call per dtwnn, per batch of dtwnn_search's
 * task loop, or per step of the k-NN loop, instead of one per pair.
 * q/lenv/uenv: normalized queries and their envelopes, packed end to
 * end; y: series packed end to end; qix, yix: (offset, length) per row.
 * pairs: (query row, series row, offset of the pair's sliding stats in
 * mu/sd; mu == NULL: no z-normalization). Pair p starts from seed[p],
 * lowered, when `thread`, to the least cost of its query's earlier pairs
 * (the reference's sequential best-so-far, src/dtwnn.jl:231-234). Writes
 * cost[p] and rec[p] = (loc, prune_end, prune_env). Returns 0, or -1 on
 * allocation failure. */
int nn_search_sq(const double *q, const double *lenv, const double *uenv,
                 const long long *qix, long nq, const double *y,
                 const long long *yix, const double *mu, const double *sd,
                 const long long *pairs, const double *seed, long np,
                 long rad, int use_end, int use_env, int thread,
                 double bsf_mult, long avoid_lo, long avoid_hi,
                 double *cost, long long *rec)
{
    double *run = NULL;
    if (thread) {
        run = (double *)malloc((size_t)(nq > 0 ? nq : 1) * sizeof(double));
        if (!run) return -1;
        for (long i = 0; i < nq; i++) run[i] = INF;
    }
    for (long p = 0; p < np; p++) {
        const long long *pr = pairs + 3 * p;
        const long long *qi = qix + 2 * pr[0], *yi = yix + 2 * pr[1];
        double bsf = seed[p];
        if (thread && run[pr[0]] < bsf) bsf = run[pr[0]];
        if (nn_cascade(q + qi[0], (long)qi[1], y + yi[0], (long)yi[1], rad,
                       lenv + qi[0], uenv + qi[0],
                       mu ? mu + pr[2] : NULL, sd ? sd + pr[2] : NULL,
                       mu != NULL, use_end, use_env, bsf, bsf_mult,
                       avoid_lo, avoid_hi, cost + p, rec + 3 * p,
                       rec + 3 * p + 1, rec + 3 * p + 2) != 0) {
            free(run);
            return -1;
        }
        if (thread && cost[p] < run[pr[0]]) run[pr[0]] = cost[p];
    }
    free(run);
    return 0;
}

/* ---------------------------------------------------------------------
 * Gorilla / delta-of-delta codec (operators/compression.py bit format,
 * per the Gorilla paper VLDB'15 §4.1/4.2). MSB-first bit stream,
 * BIT-IDENTICAL to the Python _BitWriter/_BitReader implementation —
 * asserted by tests/test_native.py cross-parity (same bytes, same CRC).
 * ------------------------------------------------------------------- */

#include <string.h>

typedef struct {
    unsigned char *buf;
    long cap, len;
    unsigned long long acc;
    int nbits;
} BW;

static int bw_put(BW *w, unsigned long long v, int bits)
{
    while (bits > 0) {
        int take = bits > 32 ? 32 : bits;
        unsigned long long piece =
            (take >= 64) ? v : ((v >> (bits - take)) & ((1ULL << take) - 1));
        w->acc = (w->acc << take) | piece;
        w->nbits += take;
        while (w->nbits >= 8) {
            if (w->len >= w->cap) return -1;
            w->nbits -= 8;
            w->buf[w->len++] = (unsigned char)((w->acc >> w->nbits) & 0xFF);
        }
        w->acc &= (1ULL << w->nbits) - 1;
        bits -= take;
    }
    return 0;
}

static int bw_zeros(BW *w, long k)
{
    if (w->nbits) {
        int t = 8 - w->nbits;
        if (t > k) t = (int)k;
        if (bw_put(w, 0, t)) return -1;
        k -= t;
    }
    long nb = k >> 3;
    if (nb) {
        if (w->len + nb > w->cap) return -1;
        memset(w->buf + w->len, 0, (size_t)nb);
        w->len += nb;
        k -= nb << 3;
    }
    if (k) return bw_put(w, 0, (int)k);
    return 0;
}

/* Encode (ts, vals) into out; returns payload byte length or -1 on
 * insufficient cap. t0/v0 live outside the payload (chunk struct). */
long gorilla_encode_c(const long long *ts, const double *vals, long n,
                      unsigned char *out, long cap)
{
    BW w = {out, cap, 0, 0, 0};
    long run = 0;
    long long prev_delta = 0;
    for (long i = 0; i < n - 1; i++) {
        long long delta = ts[i + 1] - ts[i];
        long long dod = (i == 0) ? delta : delta - prev_delta;
        prev_delta = delta;
        if (dod == 0) { run++; continue; }
        if (run && bw_zeros(&w, run)) return -1;
        run = 0;
        if (-63 <= dod && dod <= 64) {
            if (bw_put(&w, 2, 2) || bw_put(&w, (unsigned long long)(dod + 63), 7))
                return -1;
        } else if (-255 <= dod && dod <= 256) {
            if (bw_put(&w, 6, 3) || bw_put(&w, (unsigned long long)(dod + 255), 9))
                return -1;
        } else if (-2047 <= dod && dod <= 2048) {
            if (bw_put(&w, 14, 4) || bw_put(&w, (unsigned long long)(dod + 2047), 12))
                return -1;
        } else {
            unsigned long long zz =
                ((unsigned long long)dod << 1) ^ (unsigned long long)(dod >> 63);
            if (bw_put(&w, 15, 4) || bw_put(&w, zz, 64)) return -1;
        }
    }
    if (run && bw_zeros(&w, run)) return -1;

    int prev_lead = 65, prev_mean = 0;
    run = 0;
    unsigned long long bprev, bcur;
    memcpy(&bprev, &vals[0], 8);  /* memcpy, not a pointer cast: the cast
                                     is a strict-aliasing violation the
                                     -O3 build may miscompile */
    for (long i = 0; i < n - 1; i++) {
        memcpy(&bcur, &vals[i + 1], 8);
        unsigned long long x = bcur ^ bprev;
        bprev = bcur;
        if (!x) { run++; continue; }
        if (run && bw_zeros(&w, run)) return -1;
        run = 0;
        int lead = __builtin_clzll(x);
        if (lead > 31) lead = 31;
        int trail = __builtin_ctzll(x);
        int mean = 64 - lead - trail;
        if (bw_put(&w, 1, 1)) return -1;
        int prev_trail = 64 - prev_lead - prev_mean;
        if (lead >= prev_lead && trail >= prev_trail) {
            if (bw_put(&w, 0, 1) || bw_put(&w, x >> prev_trail, prev_mean))
                return -1;
        } else {
            if (bw_put(&w, 1, 1) || bw_put(&w, (unsigned long long)lead, 5)
                || bw_put(&w, (unsigned long long)(mean - 1), 6)
                || bw_put(&w, x >> trail, mean))
                return -1;
            prev_lead = lead;
            prev_mean = mean;
        }
    }
    if (run && bw_zeros(&w, run)) return -1;
    if (w.nbits) {
        if (w.len >= w.cap) return -1;
        w.buf[w.len++] = (unsigned char)((w.acc << (8 - w.nbits)) & 0xFF);
    }
    return w.len;
}

typedef struct {
    const unsigned char *d;
    long nbits, pos;
} BR;

static inline int br_bit(BR *r)
{
    if (r->pos >= r->nbits) return -1;
    int b = (r->d[r->pos >> 3] >> (7 - (r->pos & 7))) & 1;
    r->pos++;
    return b;
}

static int br_read(BR *r, int k, unsigned long long *out)
{
    if (r->pos + k > r->nbits) return -1;
    unsigned long long v = 0;
    for (int j = 0; j < k; j++) {
        v = (v << 1) | (unsigned long long)((r->d[r->pos >> 3]
                                            >> (7 - (r->pos & 7))) & 1);
        r->pos++;
    }
    *out = v;
    return 0;
}

/* Decode payload into ts/vals (both length n). 0 = ok, -1 = overrun. */
int gorilla_decode_c(long n, long long t0, double v0,
                     const unsigned char *payload, long nbytes,
                     long long *ts_out, double *vals_out)
{
    ts_out[0] = t0;
    memcpy(&vals_out[0], &v0, 8);
    if (n == 1) return 0;
    BR r = {payload, nbytes * 8, 0};
    long long delta = 0, t = t0;
    for (long i = 0; i < n - 1;) {
        /* zero-run control bits: one per unchanged record */
        int b;
        while (i < n - 1) {
            /* byte-aligned all-zero fast path */
            if ((r.pos & 7) == 0 && i + 8 <= n - 1 && r.pos + 8 <= r.nbits
                && r.d[r.pos >> 3] == 0) {
                r.pos += 8;
                for (int z = 0; z < 8; z++) {
                    delta += 0; t += delta; ts_out[++i] = t;
                }
                continue;
            }
            b = br_bit(&r);
            if (b < 0) return -1;
            if (b) break;
            t += delta;
            ts_out[++i] = t;
        }
        if (i >= n - 1) break;
        long long dod;
        unsigned long long u;
        b = br_bit(&r);
        if (b < 0) return -1;
        if (b == 0) {
            if (br_read(&r, 7, &u)) return -1;
            dod = (long long)u - 63;
        } else {
            b = br_bit(&r);
            if (b < 0) return -1;
            if (b == 0) {
                if (br_read(&r, 9, &u)) return -1;
                dod = (long long)u - 255;
            } else {
                b = br_bit(&r);
                if (b < 0) return -1;
                if (b == 0) {
                    if (br_read(&r, 12, &u)) return -1;
                    dod = (long long)u - 2047;
                } else {
                    if (br_read(&r, 64, &u)) return -1;
                    dod = (long long)(u >> 1) ^ -(long long)(u & 1);
                }
            }
        }
        delta += dod;
        t += delta;
        ts_out[++i] = t;
    }

    unsigned long long acc;
    memcpy(&acc, &v0, 8);
    int lead = 0, mean = 0;
    for (long i = 0; i < n - 1;) {
        int b;
        while (i < n - 1) {
            if ((r.pos & 7) == 0 && i + 8 <= n - 1 && r.pos + 8 <= r.nbits
                && r.d[r.pos >> 3] == 0) {
                r.pos += 8;
                for (int z = 0; z < 8; z++)
                    memcpy(&vals_out[++i], &acc, 8);
                continue;
            }
            b = br_bit(&r);
            if (b < 0) return -1;
            if (b) break;
            memcpy(&vals_out[++i], &acc, 8);
        }
        if (i >= n - 1) break;
        b = br_bit(&r);
        if (b < 0) return -1;
        if (b == 1) {
            unsigned long long u;
            if (br_read(&r, 5, &u)) return -1;
            lead = (int)u;
            if (br_read(&r, 6, &u)) return -1;
            mean = (int)u + 1;
            if (lead + mean > 64) return -1;  /* corrupt header: a valid
                encoder never emits this, and the shift below would be UB */
        }
        if (mean < 1) return -1;  /* corrupt payload: window reuse ('1','0')
            before any window header would leave lead=mean=0 and the shift
            below would be by 64 — UB */
        unsigned long long x;
        if (br_read(&r, mean, &x)) return -1;
        acc ^= x << (64 - lead - mean);
        memcpy(&vals_out[++i], &acc, 8);
    }
    return 0;
}
