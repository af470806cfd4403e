"""Distributed DTW analytics over assembled tier series.

Maps the reference's query entry points onto Spark (SURVEY.md §3):

- ``dtw_pairs``: per-pair full DTW (cost + warp paths) —
  ``Exchange(hash key) → FlatMapGroupsInPandas(dtw_kernel)``; the cost
  matrix only ever exists as a NumPy array inside one Arrow batch
  (reference src/dtw.jl:40-71 semantics, distributed per pair).
- ``drift_scores``: tier-to-tier drift per conversation — banded
  ``dtw_cost`` with an endpoint-LB prescreen so cheap (identical) convs
  skip the DP entirely; prune counters surface as columns (north rule:
  per-partition metrics).
- ``dtwnn_search``: the reference's dtwnn (src/dtwnn.jl:168-238) fanned
  out as query × series groups; each task runs the full 3-stage prune
  cascade vectorized and keeps one winner per query; the per-task
  winners fold by min on the driver (small query sets) or in a shuffle
  reduce (large ones). best-so-far starts at +inf in every task and
  threads across that task's series, as the reference threads it across
  its scan — result-identical, prune counts per-partition (SURVEY §2.3
  note).
- ``knn_topk``: sparse_distmat's k-NN (src/dtwnn.jl:261-297) as
  pair-generation → vectorized cost UDF → window top-k.

Scale notes: queries/centers are broadcast (small side); series fan out by
key hash; skewed long series are pre-chunked by the rollup tiers themselves
(a 1m-tier month is ~43k points — one Arrow batch).
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import dtw, dtw_cost, dtwnn, radiuslimits
from ..kernels.dtwnn import lb_endpoints, query_envelopes
from ..plans.fanout import known_max_rows, spread
from .topk import topk_per_key


def _closure_queries(queries: DataFrame, max_closure_queries: int,
                     n_queries: Optional[int]) -> Optional[list]:
    """The query router of dtwnn_search and distance_profile_op: the
    collected ``[(query_id, q float64 array)]`` for a set small enough to
    ship in the UDF closure, or None for the blocked cogroup plan.

    Path selection should not cost a Spark job on the dominant small-Q
    path: prefer the caller's size hint, then Catalyst's free maxRows()
    bound (defined for true local relations / limits — NOT for
    createDataFrame's LogicalRDD). Only an unbounded, unhinted plan pays
    a count() — and a limit(N+1).collect() probe is NOT cheaper:
    CollectLimit's scale-up ran several sequential mini-jobs (~0.8 s vs
    0.3 s measured in local mode)."""
    if n_queries is not None:
        bound = int(n_queries)
    else:
        bound = known_max_rows(queries)
        if bound is None or bound > max_closure_queries:
            bound = queries.count()
    if bound > max_closure_queries:
        return None
    return [(r["query_id"], np.asarray(r["q"], dtype=np.float64))
            for r in queries.select("query_id", "q").collect()]


def _block_cogroup(series: DataFrame, queries: DataFrame, key: str, S: int,
                   block_fn, schema: T.StructType) -> DataFrame:
    """The blocked plan of both query operators: series hash into ``S``
    blocks (``xxhash64(key)``), queries replicate to every block through a
    broadcast crossJoin, and each cogroup task runs ``block_fn(series
    block, all queries)`` on pandas frames without the block column. An
    empty side yields no rows.

    Both cogroup inputs get an explicit ``repartition(S, sb)`` BEFORE
    the cogroup: the shuffles are byte-tiny (MBs of arrays) but carry ALL
    the DP CPU, so AQE's byte-based coalescing would otherwise fuse the
    FlatMapCoGroupsInPandas input to ONE task and serialize the whole
    search (the trap ``plans.fanout.spread`` guards — measured: 1024
    queries x 1500 series ran 188 s at local[8] AND local[2], wall
    independent of cores, single (0+1)/1 stage). A user-specified
    repartition(S, sb) satisfies the cogroup's required distribution,
    adds no extra exchange, and AQE neither folds nor coalesces it."""
    spark = series.sparkSession
    blocks = spark.range(S).select(F.col("id").cast("int").alias("sb"))
    qrep = queries.crossJoin(F.broadcast(blocks))
    ser_b = (series.select(F.col(key), "points")
             .withColumn("sb", F.pmod(F.xxhash64(key),
                                      F.lit(S)).cast("int")))
    out_cols = [f.name for f in schema.fields]

    def task(sdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if sdf.empty or qdf.empty:
            return pd.DataFrame(columns=out_cols)
        return block_fn(sdf.drop(columns=["sb"]), qdf.drop(columns=["sb"]))

    return (ser_b.repartition(S, "sb").groupby("sb")
            .cogroup(qrep.repartition(S, "sb").groupby("sb"))
            .applyInPandas(task, schema))


def _dp_pairs_tiled(pairs: DataFrame, series: DataFrame, key: str,
                    run_pdf, schema: T.StructType, n_blocks: int,
                    with_tau: bool = False,
                    fast_batch=None,
                    chunk_rows: int = 32768) -> DataFrame:
    """Exact-DP an (id_a, id_b[, tau]) pair list without shipping arrays
    per pair.

    The naive plan (pairs ⋈ arrays ⋈ arrays → mapInPandas) moves BOTH
    full series across the shuffle and Arrow for EVERY candidate pair —
    O(pairs × series_bytes). Measured at 1e5 × 128-pt series (the
    round-3 k-NN scale run, BASELINE.md): 273M phase-2 pairs × ~2 KB ≈
    0.5 TB of array traffic for a 100 MB corpus, ~60× over the C
    kernel's DP rate.

    Block-tiled evaluation instead (block-nested-loop layout for
    similarity joins): series hash into ``n_blocks`` blocks; each
    (block_a, block_b) tile that actually contains pairs receives its
    two array blocks ONCE plus its pair ids, and one COGROUP group
    evaluates all the tile's pairs from in-memory dicts through the
    batched C kernel. Array traffic is O(n_series × B) rows
    corpus-wide — independent of the pair count — and no task ever holds
    more than 2/B-th of the corpus, so (unlike a corpus broadcast) the
    layout survives corpora that cannot fit on one executor.

    Cogroup (two per-side schemas), NOT a union into one schema: the
    union forces a NULL array<double> ``pts`` column onto every pair
    row, and the JVM Arrow writer spends ~2.5 µs/row on a null array
    column — measured 5× the entire remaining serialization cost of a
    pair row, and the dominant cost of the whole eval stage (11.3k
    cpu·s at 277M pairs, unchanged by any Python-side optimization).

    ``run_pdf``: pandas DataFrame (id_a, a, id_b, b[, tau]) → DataFrame
    matching ``schema``. ``with_tau`` forwards a per-pair ``tau`` column
    for seeded/bounded kernels. ``fast_batch`` (optional): a
    ``(A_block, B_block, ia, ib) -> costs`` indexed batch kernel used
    when every array in a tile shares one length — the hot loop then
    reads pair operands straight out of the two stacked block matrices,
    no per-pair gather copies or per-chunk DataFrames.
    """
    B = int(max(1, n_blocks))

    def blk(c):
        return F.pmod(F.xxhash64(F.col(c)), F.lit(B)).cast("int")

    # arrays go to ALL B² tiles unconditionally: deriving the live-tile
    # list from `pairs` re-evaluates the (expensive) pair enumeration
    # once per broadcast — measured as 3 identical 2k-cpu-sec stages at
    # 1e5 series. The all-tiles fanout is the already-budgeted O(n·B)
    # array rows, produced by a joinless explode(sequence); `pairs` is
    # consumed exactly once (the pair rows).
    fan = F.explode(F.sequence(F.lit(0), F.lit(B - 1)))
    arr = series.select(F.col(key).alias("id"), "points")
    a_rows = (arr.withColumn("ta", blk("id"))
              .withColumn("tb", fan)
              .select("ta", "tb", F.lit(0).alias("role"),
                      F.col("id").alias("id"),
                      F.col("points").alias("pts")))
    b_rows = (arr.withColumn("tb", blk("id"))
              .withColumn("ta", fan)
              .select("ta", "tb", F.lit(1).alias("role"),
                      F.col("id").alias("id"),
                      F.col("points").alias("pts")))
    arr_rows = a_rows.unionByName(b_rows)
    tau_col = (F.col("tau") if with_tau
               else F.lit(None).cast("double"))
    p_rows = pairs.select(blk("id_a").alias("ta"), blk("id_b").alias("tb"),
                          "id_a", "id_b", tau_col.alias("tau"))

    def eval_tile(arrs: pd.DataFrame, prs: pd.DataFrame) -> pd.DataFrame:
        # numpy object-array extraction throughout: a tile holds millions
        # of pair rows, and pandas scalar .iloc / assign / boolean-iloc
        # copies cost more CPU than the DP kernel itself (measured 53
        # µs/pair vs the kernel's ~2 µs at 1e5 series before this shape)
        p_a = prs["id_a"].to_numpy()
        p_b = prs["id_b"].to_numpy()
        p_tau = prs["tau"].to_numpy()
        if len(p_a) == 0:
            return pd.DataFrame({"id_a": pd.Series(dtype=object),
                                 "id_b": pd.Series(dtype=object),
                                 "cost": pd.Series(dtype=np.float64)})
        roles = arrs["role"].to_numpy()
        ids = arrs["id"].to_numpy()
        pts = arrs["pts"].to_numpy()
        amap = dict(zip(ids[roles == 0], pts[roles == 0]))
        bmap = dict(zip(ids[roles == 1], pts[roles == 1]))
        if fast_batch is not None and amap and bmap:
            lens = {len(v) for v in amap.values()}
            lens |= {len(v) for v in bmap.values()}
            if len(lens) == 1:
                # uniform-length tile: stack each block once, ONE
                # vectorized pd.Index.get_indexer over all pairs (C-hash
                # lookups), then hand the blocks + index arrays to the
                # indexed batch kernel — no per-pair row gather at all.
                # The eval stage is memory-bandwidth bound at full
                # parallelism; the 2×m×8 B/pair gather copy cost as much
                # as the DP itself.
                Ablk = np.stack(list(amap.values()))
                Bblk = np.stack(list(bmap.values()))
                ia_all = pd.Index(list(amap)).get_indexer(p_a)
                ib_all = pd.Index(list(bmap)).get_indexer(p_b)
                costs = fast_batch(Ablk, Bblk, ia_all, ib_all)
                return pd.DataFrame({"id_a": p_a, "id_b": p_b,
                                     "cost": costs})
        outs = []
        # chunked: bound the stacked kernel batches to chunk_rows at a time
        for lo in range(0, len(p_a), chunk_rows):
            hi = lo + chunk_rows
            sl = pd.DataFrame({
                "id_a": p_a[lo:hi], "id_b": p_b[lo:hi],
                "tau": p_tau[lo:hi],
                "a": [amap[i] for i in p_a[lo:hi]],
                "b": [bmap[i] for i in p_b[lo:hi]]})
            outs.append(run_pdf(sl))
        return pd.concat(outs, ignore_index=True)

    return (arr_rows.groupBy("ta", "tb")
            .cogroup(p_rows.groupBy("ta", "tb"))
            .applyInPandas(eval_tile, schema))


__all__ = ["dtw_pairs", "drift_scores", "dtwnn_search", "knn_topk",
           "distance_profile_op", "matrix_profile_op", "align_to_master"]


def _np_series(v) -> np.ndarray:
    """ARRAY<DOUBLE> → 1-D float array; ARRAY<ARRAY<DOUBLE>> (multichannel,
    channels × time, time last per reference README.md:11) → 2-D. Arrow
    hands nested arrays over as object arrays of per-channel ndarrays,
    which np.asarray alone rejects."""
    if len(v) and isinstance(v[0], (list, np.ndarray)):
        return np.stack([np.asarray(ch, dtype=np.float64) for ch in v])
    return np.asarray(v, dtype=np.float64)


def dtw_pairs(pairs: DataFrame, dist: str = "sqeuclidean",
              transportcost: float = 1.0, radius: int | None = None,
              keep_paths: bool = False, method: str = "dtw",
              gamma: float = 1.0) -> DataFrame:
    """(id_a, a ARRAY<DOUBLE>, id_b, b ARRAY<DOUBLE>) → per-pair warping.

    ``method``: 'dtw' (exact, optionally banded via radiuslimits —
    src/utils.jl:22-33), 'fastdtw' (coarse-to-fine, src/fastdtw.jl:12-36),
    'softdtw' (γ-smoothed cost, no path — src/dtw.jl:245-308), or 'gdtw'
    (continuous-time regularized warping, cost only — src/gdtw.jl:147-151).
    """
    fields = [
        T.StructField("id_a", T.StringType()),
        T.StructField("id_b", T.StringType()),
        T.StructField("cost", T.DoubleType()),
    ]
    if keep_paths:
        fields += [T.StructField("i1", T.ArrayType(T.IntegerType())),
                   T.StructField("i2", T.ArrayType(T.IntegerType()))]
    schema = T.StructType(fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels import fastdtw, soft_dtw_cost
        from ..kernels.gdtw import gdtw as gdtw_kernel

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                a = _np_series(row.a)
                b = _np_series(row.b)
                if method == "softdtw":
                    cost = soft_dtw_cost(a, b, dist, gamma=gamma,
                                         transportcost=transportcost,
                                         radius=radius)
                    i1 = i2 = np.zeros(0, dtype=np.int64)
                elif method == "gdtw":
                    cost, _phi, _psi = gdtw_kernel(a, b)
                    i1 = i2 = np.zeros(0, dtype=np.int64)
                elif method == "fastdtw":
                    cost, i1, i2 = fastdtw(a, b, dist, radius or 1,
                                           transportcost=transportcost)
                else:
                    kw = {}
                    if radius is not None:
                        imin, imax = radiuslimits(radius, len(a), len(b))
                        kw = {"i2min": imin, "i2max": imax}
                    cost, i1, i2 = dtw(a, b, dist,
                                       transportcost=transportcost, **kw)
                rec = {"id_a": row.id_a, "id_b": row.id_b, "cost": cost}
                if keep_paths:
                    rec["i1"] = i1.astype("int32").tolist()
                    rec["i2"] = i2.astype("int32").tolist()
                out.append(rec)
            yield pd.DataFrame(out, columns=[f.name for f in fields])

    return spread(pairs).mapInPandas(run, schema)


def _profile_frames(sdf_rows, qlist, radius, dist, key):
    """Shared per-task profile loop for both distance_profile_op paths —
    one definition so closure and blocked plans are trivially identical
    (the dtwnn _combine_task_winners precedent)."""
    from ..kernels import distance_profile

    frames = []
    for row in sdf_rows:
        y = np.asarray(row.points, dtype=np.float64)
        for qid, q in qlist:
            if len(y) < len(q):
                continue
            prof = distance_profile(q, y, dist, radius)
            frames.append(pd.DataFrame({
                "query_id": qid, key: getattr(row, key),
                "loc": np.arange(1, len(prof) + 1, dtype=np.int32),
                "dist": prof}))
    return frames


def _distance_profile_blocked(queries: DataFrame, series: DataFrame,
                              radius: int, dist: str, key: str,
                              partitions: Optional[int],
                              schema: T.StructType) -> DataFrame:
    """Large-query-set distance profile: the query set never rides the
    driver (VERDICT r04 #2 — same shape as _dtwnn_search_blocked, minus
    the best-so-far, which a dense profile has no use for: every window's
    distance is reported, nothing prunes). Series hash into S
    blocks; queries replicate to every block through one shuffle; each
    cogroup task emits its (series block x all queries) profile rows.
    No reduce stage — (query, series) cells are disjoint across blocks."""
    S = int(partitions
            or series.sparkSession.sparkContext.defaultParallelism * 2)
    out_cols = [f.name for f in schema.fields]

    def block_fn(sdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        qlist = [(r.query_id, np.asarray(r.q, dtype=np.float64))
                 for r in qdf.itertuples(index=False)]
        frames = _profile_frames(sdf.itertuples(index=False), qlist,
                                 radius, dist, key)
        if not frames:
            return pd.DataFrame(columns=out_cols)
        return pd.concat(frames, ignore_index=True)[out_cols]

    return _block_cogroup(series, queries.select("query_id", "q"), key, S,
                          block_fn, schema)


def distance_profile_op(queries: DataFrame, series: DataFrame,
                        radius: int = 5, dist: str = "sqeuclidean",
                        key: str = "conv_id",
                        partitions: Optional[int] = None,
                        max_closure_queries: int = 512,
                        n_queries: Optional[int] = None) -> DataFrame:
    """Dense DTW distance profile of each query against every window of
    each series (reference src/distance_interface.jl:103-110), exploded to
    (query_id, key, loc, dist) rows — loc 1-based.

    Path selection mirrors dtwnn_search: small query sets (bounded by
    ``n_queries`` hint, Catalyst maxRows, or a count) ship in the UDF
    closure so each series crosses Arrow once; larger sets take the
    blocked cogroup plan (queries stay distributed, series hash-blocked,
    both cogroup inputs explicitly repartitioned past AQE coalescing)."""
    schema = T.StructType([
        T.StructField("query_id", T.StringType()),
        T.StructField(key, T.StringType()),
        T.StructField("loc", T.IntegerType()),
        T.StructField("dist", T.DoubleType()),
    ])
    qlist = _closure_queries(queries, max_closure_queries, n_queries)
    if qlist is None:
        return _distance_profile_blocked(queries, series, radius, dist,
                                         key, partitions, schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = _profile_frames(pdf.itertuples(index=False), qlist,
                                     radius, dist, key)
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return spread(series.select(key, "points")).mapInPandas(run, schema)


def matrix_profile_op(series: DataFrame, m: int, radius: int = 5,
                      dist: str = "sqeuclidean", key: str = "conv_id",
                      chunk_windows: int = 32768,
                      max_len: Optional[int] = None) -> DataFrame:
    """Per-series DTW matrix profile (reference src/matrix_profile.jl:2-19):
    (key, loc, nn_dist, nn_loc), trivial band |i-j|<=radius excluded.

    Long-series scale path (VERDICT r03 #3): one series' O(nw²) window
    pairs must not land on one core. When any eligible series has more
    than ``chunk_windows`` windows, the window axis is TILED: each
    (query-chunk, candidate-chunk) pair becomes a row carrying its two
    overlapping segments (m-1 halo), a task computes the tile's partial
    profile with the trivial band translated into tile-local window
    coordinates, and partial rows merge by lexicographic
    (nn_dist, nn_loc) struct-min. Identical to the one-task scan: dtwnn
    reports the LOWEST tying loc and exact ties always survive its
    <=-LB gates, so min-of-tile-minima reproduces both the value and
    the tie winner. Segment traffic is O(n x tiles-per-axis) — the
    standard similarity-tile trade for distributing a quadratic."""
    schema = T.StructType([
        T.StructField(key, T.StringType()),
        T.StructField("loc", T.IntegerType()),
        T.StructField("nn_dist", T.DoubleType()),
        T.StructField("nn_loc", T.IntegerType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels import matrix_profile

        for pdf in batches:
            frames = []
            for row in pdf.itertuples(index=False):
                y = np.asarray(row.points, dtype=np.float64)
                if len(y) < m + radius + 1:
                    continue
                P, I = matrix_profile(y, m, radius, dist)
                frames.append(pd.DataFrame({
                    key: getattr(row, key),
                    "loc": np.arange(1, len(P) + 1, dtype=np.int32),
                    "nn_dist": P, "nn_loc": I.astype(np.int32)}))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    # one pre-scan decides the plan: the tiled path adds a merge shuffle
    # the (dominant) short-series workload shouldn't pay. A caller who
    # knows the length bound passes ``max_len`` and skips the probe; a
    # probed input is localCheckpointed FIRST so an expensive upstream
    # (e.g. assemble_series over the tiers) computes once, not once for
    # the probe and again for the actual pass (r04 review).
    proj = series.select(key, "points")
    if max_len is None:
        proj = proj.localCheckpoint(eager=True)
        longest = (proj.agg(F.max(F.size("points")).alias("_n"))
                   .first()["_n"]) or 0
    else:
        longest = int(max_len)
    if longest - m + 1 <= chunk_windows:
        return spread(proj).mapInPandas(run, schema)

    C = int(chunk_windows)
    e = (proj.filter(F.size("points") >= m + radius + 1)
         .select(F.col(key), "points",
                 (F.size("points") - m + 1).alias("nw")))
    nt = F.ceil(F.col("nw") / F.lit(C)).cast("int")
    t = (e.withColumn("qt", F.explode(F.sequence(F.lit(0), nt - 1)))
         .withColumn("jt", F.explode(F.sequence(F.lit(0), nt - 1))))
    qlen = F.least(F.lit(C), F.col("nw") - F.col("qt") * C)
    jlen = F.least(F.lit(C), F.col("nw") - F.col("jt") * C)
    tiles = t.select(
        F.col(key), (F.col("qt") * C).alias("qoff"),
        (F.col("jt") * C).alias("joff"),
        F.slice("points", F.col("qt") * C + 1,
                qlen + m - 1).alias("qseg"),
        F.slice("points", F.col("jt") * C + 1,
                jlen + m - 1).alias("jseg"))

    def run_tiles(batches: Iterator[pd.DataFrame]
                  ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for row in pdf.itertuples(index=False):
                qseg = np.asarray(row.qseg, dtype=np.float64)
                jseg = np.asarray(row.jseg, dtype=np.float64)
                qoff, joff = int(row.qoff), int(row.joff)
                nq = len(qseg) - m + 1
                locs, dists_, nls = [], [], []
                for i in range(nq):
                    gi = qoff + i
                    res = dtwnn(qseg[i:i + m], jseg, dist, radius,
                                avoid=(gi + 1 - radius - joff,
                                       gi + 1 + radius - joff))
                    if np.isfinite(res.cost):
                        locs.append(gi + 1)
                        dists_.append(float(res.cost))
                        nls.append(res.loc + joff)
                if locs:
                    frames.append(pd.DataFrame({
                        key: getattr(row, key),
                        "loc": np.asarray(locs, np.int32),
                        "nn_dist": dists_,
                        "nn_loc": np.asarray(nls, np.int32)}))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    part = spread(tiles, factor=1).mapInPandas(run_tiles, schema)
    return (part.groupBy(key, "loc")
            .agg(F.min(F.struct("nn_dist", "nn_loc")).alias("_b"))
            .select(key, "loc", F.col("_b.nn_dist").alias("nn_dist"),
                    F.col("_b.nn_loc").alias("nn_loc")))


def align_to_master(series: DataFrame, master_points, dist: str = "sqeuclidean",
                    key: str = "conv_id", method: str = "dtw") -> DataFrame:
    """Align every series to a broadcast master (reference src/utils.jl:46-80
    per-series step): per-series delay from the DTW warp-path median
    (``method='dtw'``) or cross-correlation argmax (``method='xcorr'``,
    the reference's DSP.finddelay path). Returns (key, delay, n). The
    global trim window is two cheap aggs on the result (driver-side
    min/max), matching the reference's lp/rp."""
    master = np.asarray(master_points, dtype=np.float64)
    schema = T.StructType([
        T.StructField(key, T.StringType()),
        T.StructField("delay", T.IntegerType()),
        T.StructField("n", T.IntegerType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for row in pdf.itertuples(index=False):
                y = np.asarray(row.points, dtype=np.float64)
                if method in ("xcorr", "crosscorr", "dsp"):
                    from ..kernels.align import _finddelay
                    delay = _finddelay(master, y)
                else:
                    _, i1, i2 = dtw(y, master, dist)
                    delay = int(np.round(np.median(i2 - i1)))
                recs.append({key: getattr(row, key),
                             "delay": delay, "n": len(y)})
            yield pd.DataFrame(recs, columns=[key, "delay", "n"])

    return spread(series.select(key, "points")).mapInPandas(run, schema)


def drift_scores(fine: DataFrame, coarse: DataFrame, radius: int = 5,
                 key: str = "conv_id", dist: str = "sqeuclidean") -> DataFrame:
    """Tier-to-tier drift per conversation (SURVEY.md §2.8).

    Both inputs are assembled series ``(key, points ARRAY<DOUBLE>)``. The
    coarse series is linearly resampled onto the fine length (time-axis
    alignment, not warping), then banded ``dtw_cost`` scores residual shape
    drift. An endpoint lower bound prescreens each pair: when even the LB
    is ~0 the series are bit-identical after resampling and the DP is
    skipped (prune_end=1).
    """
    joined = (fine.select(F.col(key), F.col("points").alias("a"))
              .join(coarse.select(F.col(key), F.col("points").alias("b")), key))
    schema = T.StructType([
        T.StructField(key, T.StringType()),
        T.StructField("cost", T.DoubleType()),
        T.StructField("n_fine", T.IntegerType()),
        T.StructField("n_coarse", T.IntegerType()),
        T.StructField("pruned_lb", T.IntegerType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for row in pdf.itertuples(index=False):
                a = np.asarray(row.a, dtype=np.float64)
                b = np.asarray(row.b, dtype=np.float64)
                nb = len(b)
                # resample coarse onto the fine grid
                bi = np.interp(np.linspace(0, 1, len(a)),
                               np.linspace(0, 1, nb), b) if nb > 1 else np.full(len(a), b[0])
                lb = lb_endpoints(dist, a, bi)
                if lb == 0.0 and np.array_equal(a, bi):
                    cost, pruned = 0.0, 1
                else:
                    cost, pruned = dtw_cost(a, bi, dist, radius), 0
                recs.append({key: getattr(row, key), "cost": cost,
                             "n_fine": len(a), "n_coarse": nb,
                             "pruned_lb": pruned})
            yield pd.DataFrame(recs, columns=[f.name for f in schema.fields])

    return spread(joined).mapInPandas(run, schema)


def _nn_reduce(per_block: DataFrame, key: str) -> DataFrame:
    """Global per-query winner from per-task winner rows. struct-min:
    lexicographic (cost, key, loc) — deterministic winner even when
    several series tie on the exact minimum cost (min_by alone picks an
    arbitrary tied row, which breaks golden-value checks)."""
    return (per_block.groupBy("query_id")
            .agg(F.min(F.struct("cost", key, "loc")).alias("_b"),
                 F.sum("prune_end").alias("prune_end"),
                 F.sum("prune_env").alias("prune_env"))
            .select("query_id", F.col("_b.cost").alias("cost"),
                    F.col(f"_b.{key}").alias(key),
                    F.col("_b.loc").alias("loc"),
                    "prune_end", "prune_env"))


def _combine_task_winners(recs, key: str,
                          out_cols: list) -> pd.DataFrame:
    """Winner fold shared by BOTH dtwnn_search paths: one row per query
    from ``recs`` (candidate records or a frame of them) by the same
    lexicographic (cost, key, loc) rule as _nn_reduce's struct-min — min
    of per-task minima ≡ global min — plus summed prune counters. Tasks
    of both paths apply it map-side; the closure path applies it again on
    the driver to the collected per-task winners. One definition on
    purpose: the golden tie winners depend on every fold applying an
    identical rule."""
    part = pd.DataFrame(recs, columns=out_cols)
    best = (part.sort_values(["cost", key, "loc"])
            .groupby("query_id", sort=False).head(1))
    sums = part.groupby("query_id", sort=False, as_index=False)[
        ["prune_end", "prune_env"]].sum()
    return best.drop(columns=["prune_end", "prune_env"]).merge(
        sums, on="query_id")[out_cols]


def _nn_scan(rows, qlist, bsf: dict, envs: dict, radius: int, dist,
             normalizer, dt, key: str) -> list:
    """The one dtwnn_search loop, shared by both paths' tasks: each query
    of ``qlist`` ((query_id, float64 q) pairs) against each (key value,
    points) of ``rows`` in order.

    Per-query best-so-far starts at Inf (both callers pass an empty
    ``bsf``) and threads ACROSS series (the reference's sequential bsf,
    src/dtwnn.jl:231-234): later series prune against the running
    minimum instead of cold-starting at Inf. Result-identical — every LB
    gate compares with <=, so a series tying the minimum
    still reports it, and a series whose windows all prune cannot hold
    the argmin, so it yields no record. ``bsf`` (query_id -> finite best
    cost) and ``envs`` (query_id -> the query's envelopes, computed once:
    the short-query workload is numpy-dispatch-bound) are updated in
    place, so a caller scanning several batches keeps both. Returns one
    candidate record per (query, series) with a finite cost."""
    recs = []
    for kv, pts in rows:
        y = np.asarray(pts, dtype=dt)
        for qid, q in qlist:
            if len(y) < len(q):
                continue  # series shorter than query: no window
            if qid not in envs:
                envs[qid] = query_envelopes(q, radius, normalizer, dt)
            res = dtwnn(q, y, dist, radius, normalizer,
                        initial_bsf=bsf.get(qid, np.inf), dtype=dt,
                        envs=envs[qid])
            if np.isfinite(res.cost):
                bsf[qid] = min(bsf.get(qid, np.inf), float(res.cost))
                recs.append({"query_id": qid, key: kv,
                             "cost": res.cost, "loc": res.loc,
                             "prune_end": res.prune_end,
                             "prune_env": res.prune_env})
    return recs


def _dtwnn_search_blocked(queries: DataFrame, series: DataFrame,
                          radius: int, normalizer, dist, key: str,
                          float32: bool, partitions: Optional[int],
                          schema: T.StructType) -> DataFrame:
    """Large-query-set dtwnn_search (see dtwnn_search docstring): the
    query set never rides the driver. Series hash into S blocks; queries
    are replicated to every block through one shuffle; each cogroup task
    runs the full 3-stage cascade for its (series block x all queries)
    slab, each query's bsf carried across the block's series. Exact:
    min of per-block exact minima == global minimum, and every block
    keeps its exact-tie rows because every LB gate compares with <=."""
    spark = series.sparkSession
    dt = np.float32 if float32 else np.float64
    S = int(partitions or spark.sparkContext.defaultParallelism * 2)

    out_cols = [f.name for f in schema.fields]

    def block_fn(sdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        qlist = [(qid, np.asarray(q, dtype=np.float64))
                 for qid, q in zip(qdf["query_id"], qdf["q"])]
        recs = _nn_scan(zip(sdf[key], sdf["points"]), qlist, {}, {},
                        radius, dist, normalizer, dt, key)
        if not recs:
            return pd.DataFrame(columns=out_cols)
        return _combine_task_winners(recs, key, out_cols)

    per_block = _block_cogroup(series, queries.select("query_id", "q"), key,
                               S, block_fn, schema)
    return _nn_reduce(per_block, key)


def dtwnn_search(queries: DataFrame, series: DataFrame, radius: int = 5,
                 normalizer: str | None = None, dist: str = "sqeuclidean",
                 key: str = "conv_id", float32: bool = False,
                 partitions: Optional[int] = None,
                 max_closure_queries: int = 512,
                 n_queries: Optional[int] = None) -> DataFrame:
    """NN of each query subsequence across every series.

    ``n_queries``: caller-known query-set size (or upper bound). When
    given, the small-vs-large path selection costs no Spark job; when
    omitted, an unbounded plan pays one count() (see below).

    Plan, small query sets (<= ``max_closure_queries``): queries are
    collected and shipped in the UDF closure, so each series crosses the
    Arrow boundary exactly once and every task runs all queries against its
    series — no crossJoin, no 8x data duplication. Each task folds its
    candidates to one winner per query; the driver collects those (at
    most tasks x queries rows) and folds them by the same (cost, key,
    loc) rule — the distributed Base.findmin (src/dtwnn.jl:41-50). This
    path is EAGER: the search runs inside the call and the result is a
    local relation, so the caller's collect() on it runs no job. A
    repeated request over a cached corpus runs at most 3 jobs: the
    query collect, and the search pass (a shuffle-map job plus its
    result job when ``spread`` repartitions).

    Plan, large query sets: the queries never touch the driver (VERDICT
    r03 #2). Queries stay a DataFrame; one pass cogroups hash-blocked
    series with block-replicated queries, so any block's work fits one
    task and the query set is never materialized in one place.
    Replication cost is |Q| x S rows of query payload — linear, chosen
    over a corpus broadcast because the corpus side is the one that
    cannot fit anywhere at scale. A repeated request over a cached
    corpus runs at most 5 jobs.

    Best-so-far: every task starts each query at Inf and tightens it
    across its own series in scan order, as the reference's dtwnn does
    (src/dtwnn.jl:231-234). There is no cross-task or cross-request
    seed. Prune counters are summed as global metrics columns. NOTE:
    cost/loc are exact and deterministic, but the counters depend on
    which series each task saw first, i.e. on task scheduling — treat
    them as observability metrics, not golden values (same caveat as the
    reference's scan-order-dependent prunestats).

    ``partitions`` pins the series task count (default: one task per
    core). Because the running bsf tightens within a task, per-task work
    depends on task size — pin this when comparing walls across
    different core counts so both runs prune identically.
    """
    schema = T.StructType([
        T.StructField("query_id", T.StringType()),
        T.StructField(key, T.StringType()),
        T.StructField("cost", T.DoubleType()),
        T.StructField("loc", T.IntegerType()),
        T.StructField("prune_end", T.LongType()),
        T.StructField("prune_env", T.LongType()),
    ])
    qlist = _closure_queries(queries, max_closure_queries, n_queries)
    if qlist is None:
        return _dtwnn_search_blocked(queries, series, radius, normalizer,
                                     dist, key, float32, partitions, schema)

    dt = np.float32 if float32 else np.float64

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        task_bsf: dict = {}
        env_cache: dict = {}
        for pdf in batches:
            recs = _nn_scan(zip(pdf[key], pdf["points"]), qlist, task_bsf,
                            env_cache, radius, dist, normalizer, dt, key)
            if not recs:
                continue
            # map-side combine: <= |queries| rows per task reach the
            # driver instead of one row per improving series
            yield _combine_task_winners(recs, key, out_cols)

    out_cols = [f.name for f in schema.fields]
    per_task = (spread(series.select(F.col(key), F.col("points")),
                       factor=1, target=partitions)
                .mapInPandas(run, schema).toPandas())
    spark = series.sparkSession
    if per_task.empty:
        return spark.createDataFrame([], schema)
    # at most tasks x queries rows: fold them here with the same rule the
    # tasks used, instead of a shuffle reduce job and its AQE re-plan
    return spark.createDataFrame(
        _combine_task_winners(per_task, key, out_cols), schema)


_SKETCH_BAND_CAP = 8  # largest sketch window = 2^8 = 256 points
# window-axis chunk budget for the band-sketch scan: sliding var
# materializes an (n_windows, w) deviations temporary, ~2 GB for a
# 1e6-point series at w=256 if unchunked (r04 review) — cap the
# temporary at ~16 MB (2^21 float64) per band; per-window numbers are
# bitwise identical to the unchunked pass (pinned by test)
_SKETCH_CHUNK = 1 << 21


def _band_stats(x: np.ndarray, w: int) -> tuple:
    """(coremax, coremin, constw, minvar_raw) for one band window size,
    computed over the window axis in chunks of <= _SKETCH_CHUNK/w
    windows so no temporary exceeds the chunk budget."""
    from numpy.lib.stride_tricks import sliding_window_view
    n_win = len(x) - w + 1
    ch = max(1, _SKETCH_CHUNK // w)
    cx, cn, cw, mv = np.inf, -np.inf, False, np.inf
    for lo in range(0, n_win, ch):
        sw = sliding_window_view(x[lo:min(lo + ch, n_win) + w - 1], w)
        wmax = sw.max(axis=1)
        wmin = sw.min(axis=1)
        cx = min(cx, float(wmax.min()))
        cn = max(cn, float(wmin.max()))
        cw = cw or bool((wmax == wmin).any())
        mv = min(mv, float(sw.var(axis=1).min()))
    return cx, cn, cw, mv


def _band_sketch(series: DataFrame, key: str) -> DataFrame:
    """Per-series band sketch backing two sound scalar lower bounds on
    the cross-length subsequence DTW cost (knn_topk residue admission).

    The subsequence DP aligns the shorter side s (length m) against a
    CONTIGUOUS length-m window w of the longer side l, and the banded
    path covers every element of both (kernels/dtwnn.py:217). For band
    window sizes w_b = 2^b (b = 0..min(floor(log2(n)), CAP)), any
    length-m window with m >= w_b contains a length-w_b sub-window, so
    per-band sliding statistics over l give bounds valid for EVERY
    partner length m in [w_b, 2*w_b) (and, by containment, any m >=
    w_b):

      coremax[b] = min over length-w_b windows of (window max): the best
        window's max is >= coremax and must be matched to a value of s
        <= smax, contributing (coremax - smax)+^2 to the cost.
      coremin[b] = max over windows of (window min): symmetric,
        (smin - coremin)+^2. The two contributions sit on distinct path
        cells unless the optimal window is constant — constw[b] records
        whether ANY length-w_b window is constant; when set the bound
        degrades from the sum to the max of the two terms.
      minvar[b] = min over windows of the population variance: every
        window element is matched to a value inside s's range (width W),
        and for any interval of width W with center c,
        (w_j - c)^2 <= W^2/2 + 2*d(w_j, I)^2, so summing over one
        length-w_b sub-window,
        cost >= w_b * max(0, minvar - W^2/2) / 2.
        Two-pass variance per window, shaved by a scale-aware epsilon so
        the stored minimum can only UNDERestimate (fp-sound).

    These prune the range-nested pairs (s's values inside l's global
    range) that the endpoint/extrema bounds are blind to — the 0.305
    admitted fraction of round 3's 50k mixed-length probe: a wide-swing
    window can't hide inside a narrow query range, and its guaranteed
    core range [coremin, coremax] must be covered by s's range.
    """
    schema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("minvar", T.ArrayType(T.DoubleType())),
        T.StructField("coremax", T.ArrayType(T.DoubleType())),
        T.StructField("coremin", T.ArrayType(T.DoubleType())),
        T.StructField("constw", T.ArrayType(T.BooleanType())),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, mvs, cxs, cns, cws = [], [], [], [], []
            for row in pdf.itertuples(index=False):
                x = np.asarray(row.points, dtype=np.float64)
                n = len(x)
                scale2 = float(np.abs(x).max()) ** 2 if n else 0.0
                nb = (min(n.bit_length() - 1, _SKETCH_BAND_CAP) + 1
                      if n else 0)
                mv, cx, cn, cw = [], [], [], []
                for b in range(nb):
                    cxv, cnv, cwv, v = _band_stats(x, 1 << b)
                    cx.append(cxv)
                    cn.append(cnv)
                    cw.append(cwv)
                    mv.append(max(0.0, v - 1e-9 * (1.0 + scale2)))
                ids.append(row.id)
                mvs.append(mv)
                cxs.append(cx)
                cns.append(cn)
                cws.append(cw)
            yield pd.DataFrame({"id": ids, "minvar": mvs, "coremax": cxs,
                                "coremin": cns, "constw": cws})

    return (series.select(F.col(key).alias("id"), "points")
            .mapInPandas(gen, schema))


def _sketch_band_idx():
    """1-based element_at index of the band for a cross-length pair:
    the largest sketch window <= min(na, nb). Integer bit-length math
    (conv to binary), NOT floor(log2(double)) — Spark's LOG2 is not
    correctly rounded at powers of two, and a band off by one in either
    direction silently weakens or (upward) UNsounds the bound."""
    m = F.least("na", "nb")
    band = F.least(F.lit(_SKETCH_BAND_CAP),
                   (F.length(F.conv(m.cast("string"), 10, 2))
                    - F.lit(1)).cast("int"))
    return band


def _sketch_bounds(s_vmin, s_vmax):
    """(core_lb, var_lb) Catalyst expressions over a pair row joined to
    the LONGER side's band sketch columns (minvar/coremax/coremin/
    constw) — see _band_sketch for the soundness argument. ``s_vmin`` /
    ``s_vmax``: the shorter side's global value range."""
    band = _sketch_band_idx()
    idx = band + F.lit(1)
    lmv = F.element_at("minvar", idx)
    lcx = F.element_at("coremax", idx)
    lcn = F.element_at("coremin", idx)
    lcw = F.element_at("constw", idx)
    c1 = F.greatest(lcx - s_vmax, F.lit(0.0))
    c2 = F.greatest(s_vmin - lcn, F.lit(0.0))
    core_lb = F.when(lcw, F.greatest(c1 * c1, c2 * c2)) \
        .otherwise(c1 * c1 + c2 * c2)
    mb = F.pow(F.lit(2.0), band.cast("double"))
    wid = s_vmax - s_vmin
    var_lb = 0.5 * mb * F.greatest(lmv - 0.5 * wid * wid, F.lit(0.0))
    return core_lb, var_lb


def knn_topk(series: DataFrame, k: int = 4, radius: int = 5,
             dist: str = "sqeuclidean", key: str = "conv_id",
             lb_prefilter: bool = True, oversample: int = 4,
             grid_cells: int = 1024,
             stats_out: Optional[dict] = None) -> DataFrame:
    """k nearest neighbors among series (sparse_distmat, src/dtwnn.jl:261-297).

    Exact top-k via window row_number — identical to the dense-matrix
    partialsort oracle (runtests.jl:633-644).

    ``lb_prefilter=True`` (default; scale path, result-identical):
    **sub-quadratic, grid-bucketed candidate generation** — no full
    self-join anywhere in the plan for uniform-length corpora.

    1. Project each series to the 3 scalars ``(first, last, length)``.
       The DTW path always aligns (1,1) and (m,m), so for SqEuclidean
       ``cost ≥ (a₁-b₁)² + (aₘ-bₘ)²`` (lb_endpoints, src/dtwnn.jl:180-195;
       valid for m ≥ 2).
    2. Hash the stats onto an adaptive 2-D grid over (first, last)
       (cell count scales with corpus size, occupancy ≈ max(4k, 16)).
       Phase-1 candidates come from the 3×3 cell neighborhood — an
       equi-join on cell ids over the tiny scalar table, no arrays.
    3. Exact DP on the ``k·oversample`` lowest-LB neighbors per id gives
       a per-id bound τ = k-th exact cost. Any pair with LB > τ cannot
       enter the top-k (cost ≥ LB > τ ≥ final k-th best).
    4. Phase 2 range-joins only the cells within √τ of (first, last)
       (a necessary condition for LB ≤ τ), filters LB ≤ τ on scalars,
       and DPs the survivors. Ids with fewer than k phase-1 neighbors
       get τ = ∞ (full-grid range) — exactness never depends on the
       grid being well-populated.

    Length-1 series (endpoint LB invalid: first==last double-counts) and
    cross-length pairs route through a **τ-bounded residue**: a bounded
    length-banded bootstrap gives every id k·oversample exact candidates
    (so τ is finite corpus-wide), enumeration runs on scalar stats with a
    sound value-range endpoint LB, and survivors' subsequence DPs are
    seeded with best_so_far = nextafter(τ) so the kernel's own LB cascade
    abandons non-top-k pairs after an O(n) scan. The residue is *skipped
    entirely* (not even planned) when a cheap pre-scan shows all series
    share one length ≥ 2 — the dominant engine case (fixed-step rollup
    grids / windowed assembly).

    ``lb_prefilter=False``: legacy all-pairs enumeration (testing oracle).

    ``stats_out``: pass a dict to record measured candidate-set sizes
    (grid cells, phase-1/phase-2/bootstrap/residue pair counts) for
    scale validation against the PLANS.md sizing model. Probe-only: the
    counts run extra Spark jobs (intermediates are localCheckpointed so
    nothing is computed twice); leave ``None`` in production plans.
    """
    left = series.select(F.col(key).alias("id_a"), F.col("points").alias("a"))
    right = series.select(F.col(key).alias("id_b"), F.col("points").alias("b"))
    schema = T.StructType([
        T.StructField("id_a", T.StringType()),
        T.StructField("id_b", T.StringType()),
        T.StructField("cost", T.DoubleType()),
    ])

    def run_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..kernels import dtw_cost_batch

        # object-ndarray access only: per-element pandas .iloc in this
        # loop once cost ~25× the DP kernel (10⁵-series k-NN stage report)
        a_objs = pdf["a"].to_numpy()
        b_objs = pdf["b"].to_numpy()
        n_rows = len(a_objs)
        lens_a = np.fromiter((len(x) for x in a_objs), np.int64, n_rows)
        lens_b = np.fromiter((len(x) for x in b_objs), np.int64, n_rows)
        costs = np.empty(n_rows)
        # equal-length pairs batch through the vectorized pairwise DP,
        # grouped by length (amortizes the python DP rows across pairs)
        eq = lens_a == lens_b
        if (dist in ("sqeuclidean", None)) and eq.any():
            for L in np.unique(lens_a[eq]):
                sel = np.flatnonzero(eq & (lens_a == L))
                A = np.stack(a_objs[sel].tolist())
                B = np.stack(b_objs[sel].tolist())
                costs[sel] = dtw_cost_batch(A, B, radius)
            rest = np.flatnonzero(~eq)
        else:
            rest = np.arange(n_rows)
        for i in rest:
            a = np.asarray(a_objs[i], dtype=np.float64)
            b = np.asarray(b_objs[i], dtype=np.float64)
            costs[i] = dtw_cost(a, b, dist, radius) if len(a) == len(b) \
                else dtwnn(*(sorted((a, b), key=len)), dist, radius,
                           prune_endpoints=False).cost
        return pd.DataFrame({"id_a": pdf["id_a"].to_numpy(),
                             "id_b": pdf["id_b"].to_numpy(),
                             "cost": costs})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield run_pdf(pdf)

    def final_topk(costs_df: DataFrame) -> DataFrame:
        # deterministic k-NN: ties on exact cost break by id_b, so the
        # returned neighbor SET is stable across partitionings/runs
        return topk_per_key(costs_df, "id_a", "cost", k, tie_col="id_b")

    multichannel = isinstance(series.schema["points"].dataType.elementType,
                              T.ArrayType)
    if not (lb_prefilter and dist in ("sqeuclidean", None)) or multichannel:
        pairs = left.join(right, F.col("id_a") != F.col("id_b"))
        costs = spread(pairs).mapInPandas(run, schema)
        return final_topk(costs)

    # --- grid-bucketed two-phase exact k-NN (see docstring) ---
    # per-series scalar stats; localCheckpoint: this tiny table anchors one
    # pre-scan agg plus four joins — don't recompute the series lineage 5×.
    # SCALARS ONLY, deliberately: a round-3 experiment attached 8-segment
    # PAA/Keogh-envelope sketches here and admitted phase-2 pairs with
    # max(endpoint LB, segment-mean envelope LB). Measured at 1e5
    # cluster-structured series (BASELINE.md scale run) the extra bound
    # pruned 1.84× of phase-2 pairs (274M → 148M) but made the ~10⁹-row
    # enumeration join 10× more expensive (20,567 vs 1,950 cpu·s): every
    # joined row copies the four 8-double array payloads whether or not
    # the bound fires, and the enumeration stream is ~7× larger than the
    # survivor set it was trimming. Net total CPU 45k vs 17k cpu·s in
    # favour of scalars — candidate enumeration stays on 8-byte scalars
    # and the saved pairs are cheaper to DP than to pre-screen.
    # full-series population variance (fp-shaved downward so the bound
    # built on it can only underestimate): backs the equal-length
    # variance admission bound in phase 2 — every element of one side is
    # matched to a value inside the other side's range, so
    # cost >= n * max(0, var - width^2/2) / 2 (see _band_sketch). The
    # shave must scale with n: F.aggregate is a SEQUENTIAL fold, so the
    # one-pass E[x²]−mean² cancellation error grows ~n·ulp·E[x²] and a
    # fixed 1e-9 stops covering it past n ≈ 4.5e6 (r04 review) — add an
    # 8×-margin n·ulp term so the downward shave dominates the fp error
    # at any length
    _n = F.size("points").cast("double")
    _s2 = F.aggregate("points", F.lit(0.0), lambda a, v: a + v * v) / _n
    _vr = _s2 - (F.aggregate("points", F.lit(0.0),
                             lambda a, v: a + v) / _n) ** 2
    _shave = (F.lit(1e-9) + _n * F.lit(8.0 * 2.220446049250313e-16)) \
        * (F.lit(1.0) + _s2)
    st = (series.select(F.col(key).alias("id"),
                        F.element_at("points", 1).alias("p1"),
                        F.element_at("points", -1).alias("pm"),
                        F.size("points").alias("n"),
                        F.array_min("points").alias("vmin"),
                        F.array_max("points").alias("vmax"),
                        F.greatest(F.lit(0.0), _vr - _shave).alias("var"))
          .localCheckpoint(eager=True))
    # one pre-scan job answers everything: LB-eligible (n>=2) extent +
    # length diversity via conditional aggs, short-series presence via the
    # unconditional min
    ok = F.col("n") >= 2
    g = st.agg(
        F.count(F.when(ok, 1)).alias("cnt"),
        F.min(F.when(ok, F.col("p1"))).alias("lo1"),
        F.max(F.when(ok, F.col("p1"))).alias("hi1"),
        F.min(F.when(ok, F.col("pm"))).alias("lom"),
        F.max(F.when(ok, F.col("pm"))).alias("him"),
        F.countDistinct(F.when(ok, F.col("n"))).alias("nlens"),
        F.count(F.lit(1)).alias("allcnt"),
        F.min("n").alias("minn"),
        F.sum("n").alias("totn"),
        F.min("vmin").alias("vlo"),
        F.max("vmax").alias("vhi")).first()
    n_short = 1 if (g["minn"] is not None and g["minn"] < 2) else 0
    if g["cnt"] == 0:  # nothing with a valid LB: pure residue
        pairs = left.join(right, F.col("id_a") != F.col("id_b"))
        costs = spread(pairs).mapInPandas(run, schema)
        return final_topk(costs)

    # adaptive grid: occupancy ≈ max(4k, 16) per cell so the 3×3
    # neighborhood usually holds ≥ k·oversample candidates (finite τ)
    G = max(1, min(grid_cells,
                   int(np.ceil(np.sqrt(g["cnt"] / max(4 * k, 16))))))
    # tile-block count for the pair-DP stages: blocks of ~32 MB of array
    # payload, but at least enough tiles (B²) to use 2× the cores
    sc = series.sparkSession.sparkContext
    n_blocks = int(min(64, max(
        np.ceil((g["totn"] or 0) * 8 / (32 << 20)),
        np.ceil(np.sqrt(2.0 * sc.defaultParallelism)))))
    w1 = max((g["hi1"] - g["lo1"]) / G, 1e-300)
    wm = max((g["him"] - g["lom"]) / G, 1e-300)
    cell = (lambda p, lo, w: F.least(F.lit(G - 1), F.greatest(F.lit(0),
            F.floor((F.col(p) - F.lit(lo)) / F.lit(w)))).cast("long"))
    stg = (st.filter(F.col("n") >= 2)
           .withColumn("c1", cell("p1", g["lo1"], w1))
           .withColumn("cm", cell("pm", g["lom"], wm)))
    sta = stg.select(F.col("id").alias("id_a"), F.col("p1").alias("p1a"),
                     F.col("pm").alias("pma"), F.col("n").alias("na"),
                     F.col("c1").alias("c1a"), F.col("cm").alias("cma"),
                     F.col("vmin").alias("vmina"),
                     F.col("vmax").alias("vmaxa"),
                     F.col("var").alias("vara"))
    stb = stg.select(F.col("id").alias("id_b"), F.col("p1").alias("p1b"),
                     F.col("pm").alias("pmb"), F.col("n").alias("nb"),
                     F.col("c1").alias("c1b"), F.col("cm").alias("cmb"),
                     F.col("vmin").alias("vminb"),
                     F.col("vmax").alias("vmaxb"),
                     F.col("var").alias("varb"))
    lbe = ((F.col("p1a") - F.col("p1b")) ** 2
           + (F.col("pma") - F.col("pmb")) ** 2)

    # LB_Kim-style min/max bound for EQUAL-length alignments (phase 2):
    # the full (banded) path visits every index of both series, so each
    # side's extrema must match values inside the other side's
    # [vmin, vmax]; two distinct positions when vmax > vmin, one term
    # otherwise (constant series). Sound in BOTH directions — the
    # conjunction of all three bounds <= τ is required for a true top-k
    # member, so filtering on it stays result-identical. Scalars only
    # (the PLANS.md negative result is about carrying sketch ARRAYS).
    def _lb_minmax_dir(vmin_s, vmax_s, lo_l, hi_l):
        dx = F.greatest(lo_l - vmax_s, vmax_s - hi_l, F.lit(0.0))
        dn = F.greatest(lo_l - vmin_s, vmin_s - hi_l, F.lit(0.0))
        return dx * dx + F.when(vmax_s > vmin_s,
                                dn * dn).otherwise(F.lit(0.0))

    lb_mm_uniform = F.greatest(
        _lb_minmax_dir(F.col("vmina"), F.col("vmaxa"),
                       F.col("vminb"), F.col("vmaxb")),
        _lb_minmax_dir(F.col("vminb"), F.col("vmaxb"),
                       F.col("vmina"), F.col("vmaxa")))
    # variance bound for EQUAL-length alignments (phase 2): the full
    # path covers every element of each side, and each is matched to a
    # value inside the other side's range (width W), so
    # cost >= n * max(0, var - W^2/2) / 2 in both directions (see
    # _band_sketch for the interval-center argument). Discriminates the
    # range-nested pairs (one side's range inside the other's) that the
    # endpoint and extrema bounds cannot see. Scalars only.
    _wa = F.col("vmaxa") - F.col("vmina")
    _wb = F.col("vmaxb") - F.col("vminb")
    lb_var_uniform = 0.5 * F.col("na").cast("double") * F.greatest(
        F.col("vara") - 0.5 * _wb * _wb,
        F.col("varb") - 0.5 * _wa * _wa,
        F.lit(0.0))
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    # explicit equi-keys + fixed-width repartition on them: the stats
    # tables are byte-tiny, so AQE coalesces the join shuffle to a
    # handful of tasks — and the ~900×n-row join OUTPUT (the expensive
    # part) is then produced on those few threads. A user repartition
    # with an explicit partition count is not coalesced.
    p_join = sc.defaultParallelism * 2
    # phase-1 enumeration stays on the original thin scalar set — the
    # min/max columns are only consumed by phase 2's τ filter
    nb_l = (sta.drop("vmina", "vmaxa", "vara")
            .withColumn("dx", off).withColumn("dy", off)
            .withColumn("k1", F.col("c1a") + F.col("dx"))
            .withColumn("k2", F.col("cma") + F.col("dy"))
            .repartition(p_join, "k1", "k2"))
    nb_r = (stb.drop("vminb", "vmaxb", "varb")
            .withColumn("k1", F.col("c1b"))
            .withColumn("k2", F.col("cmb"))
            .repartition(p_join, "k1", "k2"))
    nbhd = (nb_l.join(nb_r, ["k1", "k2"])
            .filter((F.col("na") == F.col("nb"))
                    & (F.col("id_a") != F.col("id_b")))
            .withColumn("_lbe", lbe))
    # cand is small (≤ k·oversample·n rows) but its lineage is the 9-cell
    # neighborhood join + top-k window over it — checkpoint so neither
    # exact1 nor phase 2's left_anti re-runs that window
    cand = (topk_per_key(nbhd, "id_a", "_lbe", k * oversample)
            .select("id_a", "id_b")
            .localCheckpoint(eager=True))
    if stats_out is not None:
        stats_out["n_series"] = st.count()
        stats_out["n_grid_eligible"] = g["cnt"]
        stats_out["grid_cells_per_axis"] = G
        stats_out["phase1_enum_pairs"] = nbhd.count()
        stats_out["phase1_pairs"] = cand.count()

    def fast_batch(Ablk, Bblk, ia, ib):
        from ..kernels import dtw_cost_batch_indexed
        return dtw_cost_batch_indexed(Ablk, Bblk, ia, ib, radius)
    # localCheckpoint (not cache): exact1 feeds both the τ bound and the
    # final union; eager materialization avoids recompute without pinning
    # an entry in the session cache registry for the session's lifetime
    exact1 = _dp_pairs_tiled(cand, series, key, run_pdf, schema,
                             n_blocks,
                             fast_batch=fast_batch).localCheckpoint(
                                 eager=True)

    # --- residue bootstrap (cross-length + short series) ---------------
    # Length-diverse corpora (the engine's own per-conv-span assembly)
    # put MOST pairs in the residue, where the equal-length grid gives no
    # τ. Bootstrap a bounded candidate set per id — length-banded,
    # hash-sub-bucketed scalar self-join, O(n·k·oversample) pairs total —
    # and DP it exactly, so τ below is finite for (almost) every id and
    # both phase 2 AND the residue get a real cut.
    has_residue = g["nlens"] > 1 or n_short > 0
    resid_cond = ((F.col("id_a") != F.col("id_b"))
                  & ((F.col("na") != F.col("nb")) | (F.col("na") < 2)))
    # Valid LB for the cross-length cost (subsequence NN of the shorter s
    # inside the longer l): the DTW path pins s₁ to the window's first
    # element and sₘ to its last, both of which are VALUES OF l, so
    #   cost ≥ dist(s₁,[min l, max l])² + dist(sₘ,[min l, max l])²
    # (single term when |s| < 2 — endpoints coincide). Weak when value
    # ranges overlap, but sound — and the τ-seeded DP below prunes the
    # overlap case instead.
    short_a = F.col("na") <= F.col("nb")
    s_p1 = F.when(short_a, F.col("p1a")).otherwise(F.col("p1b"))
    s_pm = F.when(short_a, F.col("pma")).otherwise(F.col("pmb"))
    l_lo = F.when(short_a, F.col("vminb")).otherwise(F.col("vmina"))
    l_hi = F.when(short_a, F.col("vmaxb")).otherwise(F.col("vmaxa"))
    d1 = F.greatest(l_lo - s_p1, s_p1 - l_hi, F.lit(0.0))
    dm = F.greatest(l_lo - s_pm, s_pm - l_hi, F.lit(0.0))
    lb_resid = d1 * d1 + F.when(F.least("na", "nb") >= F.lit(2),
                                dm * dm).otherwise(F.lit(0.0))
    # Complementary sound bound on the same scalars (LB_Kim-style): every
    # element of the shorter side matches window values ⊆ [min l, max l],
    # and DISTINCT s-positions occupy distinct path cells, so
    #   cost ≥ d(max s, [min l, max l])² + d(min s, [min l, max l])²
    # (single term when min s == max s — the two extrema may be one
    # position: constant or length-1 series). Catches the case the
    # endpoint bound is blind to — a mid-series excursion outside the
    # longer side's value range with calm endpoints. Filter with BOTH
    # bounds: each is individually sound, so a true top-k member
    # (cost ≤ τ) passes both.
    s_vmin = F.when(short_a, F.col("vmina")).otherwise(F.col("vminb"))
    s_vmax = F.when(short_a, F.col("vmaxa")).otherwise(F.col("vmaxb"))
    dmx = F.greatest(l_lo - s_vmax, s_vmax - l_hi, F.lit(0.0))
    dmn = F.greatest(l_lo - s_vmin, s_vmin - l_hi, F.lit(0.0))
    lb_minmax = dmx * dmx + F.when(s_vmax > s_vmin,
                                   dmn * dmn).otherwise(F.lit(0.0))

    def _sc(s):
        return st.select(
            F.col("id").alias(f"id_{s}"), F.col("p1").alias(f"p1{s}"),
            F.col("pm").alias(f"pm{s}"), F.col("n").alias(f"n{s}"),
            F.col("vmin").alias(f"vmin{s}"), F.col("vmax").alias(f"vmax{s}"))

    if has_residue:
        # band sketch of every series (small: ~5 arrays of <= 9 entries
        # per id) — backs the window-core + window-variance bounds that
        # prune range-nested cross-length pairs (the round-3 residue's
        # 0.305 admitted fraction). Joined onto pair streams by the
        # LONGER side's id; broadcast while the sketch table stays in
        # the tens-of-MB range every executor JVM + the driver can hold
        # (~300 B/id → 100k ids ≈ 30 MB; r04 review: the old 1M cutoff
        # risked ~300 MB per JVM), else a plain shuffled join — at that
        # scale the pair stream it prunes dwarfs the sketch exchange
        # either way. Size comes from the pre-scan agg row (no extra
        # count job per call).
        sketch = _band_sketch(series, key).localCheckpoint(eager=True)
        sk_long = sketch.select(F.col("id").alias("_lid"), "minvar",
                                "coremax", "coremin", "constw")
        if g["allcnt"] <= 100_000:
            sk_long = F.broadcast(sk_long)
        _long_id = F.when(F.col("na") <= F.col("nb"),
                          F.col("id_b")).otherwise(F.col("id_a"))

        def _with_long_sketch(pairs_df: DataFrame) -> DataFrame:
            return (pairs_df.withColumn("_lid", _long_id)
                    .join(sk_long, "_lid"))

        lb_core_res, lb_var_res = _sketch_bounds(s_vmin, s_vmax)
        bucket = max(8 * k * oversample, 32)
        bands = (st.withColumn("band", F.floor(F.log2(F.col("n")
                                                      .cast("double")))))
        bcnt = bands.groupBy("band").agg(F.count(F.lit(1)).alias("_bc"))
        bands = (bands.join(F.broadcast(bcnt), "band")
                 .withColumn("sub", F.pmod(
                     F.xxhash64("id"),
                     F.greatest(F.lit(1),
                                F.floor(F.col("_bc") / bucket)))))

        def _bd(s):
            return bands.select(
                "band", "sub",
                F.col("id").alias(f"id_{s}"), F.col("p1").alias(f"p1{s}"),
                F.col("pm").alias(f"pm{s}"), F.col("n").alias(f"n{s}"),
                F.col("vmin").alias(f"vmin{s}"),
                F.col("vmax").alias(f"vmax{s}"))

        # rank candidates by the TIGHTEST available scalar bound (max of
        # endpoint and extrema LBs): among the zero-endpoint-LB ties that
        # dominate overlapping-range corpora the extrema term still
        # discriminates, so the DP'd seeds are closer to true neighbors
        # and τ comes out tighter. Candidate CHOICE never affects
        # exactness (τ is an upper-bound filter with ties kept) — only
        # how much the τ cut prunes downstream.
        boot = (topk_per_key(
            _with_long_sketch(_bd("a").join(_bd("b"), ["band", "sub"])
                              .filter(resid_cond))
            .withColumn("_lbr", F.greatest(lb_resid, lb_minmax,
                                           lb_core_res, lb_var_res))
            # project the sketch arrays away BEFORE the top-k window:
            # the window sort materializes whole rows
            .select("id_a", "id_b", "_lbr"),
            "id_a", "_lbr", k * oversample, tie_col="id_b")
                .select("id_a", "id_b")
                .localCheckpoint(eager=True))  # small; reused by the
        # residue left_anti — don't re-run the banded bootstrap window
        if stats_out is not None:
            stats_out["boot_pairs"] = boot.count()
        exact_boot = _dp_pairs_tiled(boot, series, key, run_pdf, schema,
                                     n_blocks,
                                     fast_batch=fast_batch).localCheckpoint(
                                         eager=True)
        tau_src = exact1.unionByName(exact_boot)
    else:
        tau_src = exact1
    # τ = k-th best exact cost; NULL (→ unbounded full-grid range) when
    # fewer than k candidates were computed — exactness never depends on
    # grid/bucket occupancy
    # one row per id — checkpoint: three consumers (phase-2 range join,
    # the exact2 post-filter broadcast, the residue filter) would each
    # re-run the top-k window over the exact costs otherwise
    tau = (topk_per_key(tau_src, "id_a", "cost", k)
           .groupBy("id_a").agg(F.max("cost").alias("_t"),
                                F.count(F.lit(1)).alias("_c"))
           .select("id_a", F.when(F.col("_c") >= k, F.col("_t"))
                   .alias("_tau"))
           .localCheckpoint(eager=True))
    # phase 2: explode only the cells within √τ on each axis (necessary
    # for LBE ≤ τ), equi-join on cell ids, exact-filter on scalars.
    # τ NULL (an id with fewer than k phase-1 candidates — isolated grid
    # region) must widen to the FULL axis, and the null test must be
    # EXPLICIT: Spark's greatest/least skip nulls, so floor(NULL) inside
    # them collapses to cell 0 rather than reaching a coalesce — which
    # silently shrank a τ-less id's probe window to cell (0,0) and lost
    # its true neighbors (caught by
    # test_tau_less_isolated_id_full_grid_scan).
    rad = F.sqrt(F.col("_tau"))
    rng = (lambda p, lo, w, sgn: F.when(
        F.col("_tau").isNull(),
        F.lit(0) if sgn < 0 else F.lit(G - 1)).otherwise(
        F.least(F.lit(G - 1), F.greatest(F.lit(0), F.floor(
            (F.col(p) + sgn * rad - F.lit(lo)) / F.lit(w))))).cast("long"))
    # round-robin repartition of the (tiny) query side BEFORE the
    # explodes: the explode + cell join + LB filter (the ~10⁹-row hot
    # loop at 1e5 series) otherwise run on a handful of threads —
    # measured 9 tasks × 770+ s. A repartition ON THE JOIN KEY is not
    # enough: Catalyst folds it into the join's ENSURE_REQUIREMENTS
    # exchange, and AQE then swaps in a LOCAL shuffle read under the
    # broadcast join, putting parallelism back at the map-side count.
    # Round-robin with an explicit count matches no downstream
    # requirement, so it can be neither collapsed nor coalesced.
    ranged = (sta.join(tau, "id_a", "left")
              .repartition(p_join)
              .withColumn("qc1", F.explode(F.sequence(
                  rng("p1a", g["lo1"], w1, -1), rng("p1a", g["lo1"], w1, 1))))
              .withColumn("qcm", F.explode(F.sequence(
                  rng("pma", g["lom"], wm, -1), rng("pma", g["lom"], wm, 1)))))
    rest = (ranged.join(stb, (F.col("qc1") == F.col("c1b"))
                        & (F.col("qcm") == F.col("cmb"))
                        & (F.col("na") == F.col("nb"))
                        & (F.col("id_a") != F.col("id_b")))
            .filter(F.col("_tau").isNull()
                    | ((lbe <= F.col("_tau"))
                       & (lb_mm_uniform <= F.col("_tau"))
                       & (lb_var_uniform <= F.col("_tau"))))
            .join(cand, ["id_a", "id_b"], "left_anti")
            .select("id_a", "id_b"))
    if stats_out is not None:
        # count WITHOUT checkpointing: the phase-2 pair list can be
        # hundreds of millions of rows (measured 273M at 1e5 series) —
        # pinning it in the block manager evicts itself mid-stage; the
        # scalar enumeration is cheap to recompute for the eval pass
        stats_out["phase2_pairs"] = rest.count()
    exact2 = _dp_pairs_tiled(rest, series, key, run_pdf, schema, n_blocks,
                             fast_batch=fast_batch)
    # cost > τ can never reach the final top-k (k exact candidates with
    # cost ≤ τ already exist per id; == τ kept for deterministic ties), so
    # drop those rows before the global top-k window — the phase-2 cost
    # table is the largest union input (hundreds of millions of rows at
    # 1e5 series) and most survivors exceed τ
    exact2 = (exact2.join(F.broadcast(tau), "id_a", "left")
              .filter(F.col("_tau").isNull()
                      | (F.col("cost") <= F.col("_tau")))
              .drop("_tau"))
    parts = [exact1, exact2]

    # --- τ-bounded residue: cross-length pairs + length<2 series -------
    # Enumeration runs on the SCALAR stats only (a few dozen bytes/row,
    # never the arrays): the range LB + τ filter on scalars first, arrays
    # fetched only for survivors, and the per-pair subsequence DP is
    # seeded with best_so_far = nextafter(τ) so its own 3-stage LB
    # cascade abandons any pair whose true cost exceeds τ after an O(n)
    # scan instead of the full DP. Pairs reported > τ (incl. the Inf
    # all-pruned result) cannot enter the final top-k (k candidates with
    # cost ≤ τ already exist for that id) and are dropped. Seeding with
    # nextafter keeps exact-τ ties computed exactly, so deterministic
    # tie-breaks match the brute-force oracle. Skipped — not even
    # planned — for uniform-length corpora (fixed-step rollup grids, the
    # recommended windowed-assembly config).
    if has_residue:

        def run_resid_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
            a_objs = pdf["a"].to_numpy()
            b_objs = pdf["b"].to_numpy()
            n_rows = len(a_objs)
            taus = pdf["tau"].to_numpy(dtype=np.float64, na_value=np.nan)
            seeded = np.isfinite(taus)
            seeds = np.where(seeded, np.nextafter(taus, np.inf), np.inf)
            costs = None
            if dist in ("sqeuclidean", None) and n_rows:
                # batched C path: one call per chunk instead of one
                # dtwnn wrapper per pair — the per-pair Python/ctypes
                # overhead (~100 µs: envelope recompute + dispatch) was
                # the dominant cost of the whole residue stage
                from ..kernels import native
                if native.available():
                    lens_a = np.fromiter((len(x) for x in a_objs),
                                         np.int64, n_rows)
                    lens_b = np.fromiter((len(x) for x in b_objs),
                                         np.int64, n_rows)
                    flat_a = np.concatenate(
                        [np.asarray(x, dtype=np.float64) for x in a_objs])
                    flat_b = np.concatenate(
                        [np.asarray(x, dtype=np.float64) for x in b_objs])
                    offs_a = np.concatenate(([0], np.cumsum(lens_a)[:-1]))
                    offs_b = np.concatenate(([0], np.cumsum(lens_b)[:-1]))
                    idx = np.arange(n_rows, dtype=np.int64)
                    costs = native.nn_search_pairs(
                        flat_a, offs_a, lens_a, flat_b, offs_b, lens_b,
                        idx, idx, radius, seeds)
            if costs is None:  # non-sqeuclidean metric or no C compiler
                costs = np.empty(n_rows)
                for i in range(n_rows):
                    a = np.asarray(a_objs[i], dtype=np.float64)
                    b = np.asarray(b_objs[i], dtype=np.float64)
                    if len(a) == len(b):  # only length<2 reaches here
                        costs[i] = dtw_cost(a, b, dist, radius)
                    else:
                        s, l = sorted((a, b), key=len)
                        costs[i] = dtwnn(s, l, dist, radius,
                                         prune_endpoints=len(s) >= 2,
                                         initial_bsf=seeds[i]).cost
            keep = np.isfinite(costs) & (~seeded | (costs <= taus))
            return pd.DataFrame({"id_a": pdf["id_a"].to_numpy()[keep],
                                 "id_b": pdf["id_b"].to_numpy()[keep],
                                 "cost": costs[keep]})

        # Value-grid equi-join enumeration, NOT a broadcast nested loop:
        # the BNLJ form evaluates all n² row combinations — measured
        # 10¹⁰ probe rows at 1e5 mixed-length series with the per-row τ
        # hash lookup dominating entire probe walls (~27 cpu·s per 10⁸
        # rows). lb_resid ≤ τ requires its FIRST term alone to pass:
        #   d(s_p1, [l_lo, l_hi])² ≤ τ_a
        # i.e. the shorter side's first value must land inside the
        # longer side's [vmin, vmax] padded by √τ_a — an interval
        # condition on one value axis. Bucketize that axis into the
        # adaptive G cells: any admissible pair shares ≥1 cell between
        # the padded probe interval and the candidate interval, so an
        # equi-join on cell ids enumerates an exact SUPERSET with
        # O(n × interval_cells) compute, never O(n²). τ NULL (no finite
        # bound for that id) degrades that id — and only it — to a
        # full-axis interval, preserving exactness.
        wv = max((g["vhi"] - g["vlo"]) / G, 1e-300)
        vcell = (lambda c: F.least(F.lit(G - 1), F.greatest(F.lit(0),
                 F.floor((c - F.lit(g["vlo"])) / F.lit(wv)))).cast("long"))
        # cell span of [lo_expr, hi_expr]; a NULL bound (τ-less id: no
        # finite radius) must widen to the FULL axis. The null test is
        # explicit — Spark's greatest/least SKIP nulls, so a NULL inside
        # vcell silently collapses to cell 0 instead of propagating to a
        # coalesce, shrinking the probe window and missing neighbors.
        vspan = (lambda lo_e, hi_e: F.explode(F.sequence(
            F.when(lo_e.isNull(), F.lit(0)).otherwise(vcell(lo_e)),
            F.when(hi_e.isNull(), F.lit(G - 1)).otherwise(vcell(hi_e)))))
        rad_v = F.sqrt(F.col("_tau"))
        vlo_cell = (lambda lo_e: F.when(lo_e.isNull(), F.lit(0))
                    .otherwise(vcell(lo_e)))
        qa = (_sc("a").join(tau, "id_a", "left")
              .repartition(p_join))  # same AQE local-read trap as phase 2
        # case A (na <= nb: a is the shorter/query side): probe interval
        # is p1a ± √τ_a, candidate interval is b's [vminb, vmaxb]. Both
        # sides are multi-cell, so a pair can share several cells — keep
        # only the CANONICAL one (max of the two lo cells = the leftmost
        # shared cell of two contiguous spans): every admissible pair is
        # emitted exactly once and no dedupe shuffle is needed.
        caseA = (qa.withColumn("alo", vlo_cell(F.col("p1a") - rad_v))
                 .withColumn("vc", vspan(F.col("p1a") - rad_v,
                                         F.col("p1a") + rad_v))
                 .join(_sc("b").withColumn("blo", vcell(F.col("vminb")))
                       .withColumn("vc", vspan(F.col("vminb"),
                                               F.col("vmaxb"))),
                       "vc")
                 .filter(F.col("vc") == F.greatest("alo", "blo"))
                 .filter(F.col("na") <= F.col("nb")))
        # case B (na > nb: b is the shorter side): probe interval is a's
        # [vmina, vmaxa] padded by √τ_a, candidate point is p1b — the b
        # side is a single cell, so each pair matches at most once
        caseB = (qa.withColumn("vc", vspan(F.col("vmina") - rad_v,
                                           F.col("vmaxa") + rad_v))
                 .join(_sc("b").withColumn("vc", vcell(F.col("p1b"))), "vc")
                 .filter(F.col("na") > F.col("nb")))
        resid_pairs = (_with_long_sketch(
            caseA.drop("alo", "blo").unionByName(caseB)
            .filter(resid_cond)
            # cheap scalar bounds first (no join needed), then the
            # sketch-backed window-core + window-variance bounds — the
            # discriminators for range-nested pairs the scalar extrema
            # bounds admit
            .filter(F.col("_tau").isNull()
                    | ((lb_resid <= F.col("_tau"))
                       & (lb_minmax <= F.col("_tau")))))
            .filter(F.col("_tau").isNull()
                    | ((lb_core_res <= F.col("_tau"))
                       & (lb_var_res <= F.col("_tau"))))
            .select("id_a", "id_b", F.col("_tau").alias("tau"))
            .join(boot, ["id_a", "id_b"], "left_anti"))
        if stats_out is not None:
            # count-only, no checkpoint: same block-manager-size reasoning
            # as the phase-2 count above
            stats_out["residue_pairs"] = resid_pairs.count()
        exact_resid = _dp_pairs_tiled(resid_pairs, series, key,
                                      run_resid_pdf, schema, n_blocks,
                                      with_tau=True)
        parts += [exact_boot, exact_resid]

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return final_topk(out)
