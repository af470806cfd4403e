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
  out as (series partition × query slice) tasks for small query sets
  and (whole corpus × query partition) tasks for large ones; each task
  gathers its series and queries once, runs the full 3-stage prune
  cascade over them in one scan, and keeps one winner per query. The
  small sets' per-task winners fold by min on the driver; the large
  sets need no fold, since each query is in one task. best-so-far
  starts at +inf in every task and threads across that task's series,
  as the reference threads it across its scan — result-identical; the
  closure path's prune counts depend on its partitioning (SURVEY §2.3
  note).
- ``knn_topk``: sparse_distmat's k-NN (src/dtwnn.jl:261-297) on the
  large-query plan with the corpus as one partition: each task runs the
  k-best loop (``kernels.knn_kbest``) for its slice of the ids against
  the whole corpus, so no fold is needed.

Scale notes: an exchange-free corpus (a cache, a file scan) is read in
place, never shuffled by a search. Small query sets ride the UDF closure and fan out
by query slices (``plans.fanout.fan_out``); large ones, and the ids of
``knn_topk``, stay distributed and cross the corpus in one narrow
``CartesianProduct`` of packed blocks (``plans.fanout.block_product``)
of about one task per core, so a task ships each side once per
partition pair, not once per (series, query) pair. Either way a search
task reads its inputs once, through its plan's reader, and makes one
kernel call. Skewed long series are
pre-chunked by the rollup tiers themselves (a 1m-tier month is ~43k
points — one Arrow batch).
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..kernels import dtw, dtw_cost, radiuslimits
from ..kernels.dtwnn import dtwnn_scan, lb_endpoints
from ..plans.fanout import (block_product, fan_out, known_max_rows,
                            product_sides, sliced_rows, spread)


def _search_plan(queries: DataFrame, series: DataFrame, key: str,
                 partitions: Optional[int], max_closure_queries: int,
                 n_queries: Optional[int]):
    """The plan of dtwnn_search and distance_profile_op: ``(frame,
    inputs, closure)``. A ``mapInArrow`` task over ``frame`` reads its
    batches once with ``inputs(batches)``, which returns ``(rows,
    qlist)``: the task's ``(key value, points)`` series in scan order and
    its ``(query_id, float64 q)`` queries.

    - ``closure`` True: a set of at most ``max_closure_queries`` is
      collected, shipped in the UDF closure, and fanned out over the
      corpus to ``partitions`` tasks (default one per core) by
      ``plans.fanout.fan_out``. A task holds a corpus partition and a
      query slice, so a query spans every corpus partition.
    - ``closure`` False: a larger set stays a DataFrame and crosses the
      corpus in ``plans.fanout.block_product`` at one task per core. A
      task holds the whole corpus and a slice of one query partition,
      so each query lives in exactly one task.

    Routing should not cost a Spark job on the dominant small-Q path:
    prefer the caller's size hint ``n_queries``, then Catalyst's free
    maxRows() bound (defined for true local relations / limits — NOT for
    createDataFrame's LogicalRDD). Only an unbounded, unhinted plan pays
    a count() — and a limit(N+1).collect() probe is NOT cheaper:
    CollectLimit's scale-up ran several sequential mini-jobs (~0.8 s vs
    0.3 s measured in local mode). The set is collected with
    ``collect()``, not ``toPandas()``: on a true local relation (e.g.
    ``createDataFrame`` of a pandas frame) ``collect()`` runs no job and
    ``toPandas()`` runs one."""
    corpus = series.select(key, "points")
    cores = series.sparkSession.sparkContext.defaultParallelism
    if n_queries is not None:
        bound = int(n_queries)
    else:
        bound = known_max_rows(queries)
        if bound is None or bound > max_closure_queries:
            bound = queries.count()
    # the readers' dicts hold the selected columns in order: (key,
    # points) and (query_id, q)
    if bound > max_closure_queries:
        frame, k = block_product(corpus, queries.select("query_id", "q"),
                                 cores)

        def inputs(batches):
            rows, qs, s = product_sides(batches)
            return list(zip(*rows.values())), [
                (qid, np.asarray(q, dtype=np.float64))
                for qid, q in list(zip(*qs.values()))[s::k]]

        return frame, inputs, False
    qlist = [(r["query_id"], np.asarray(r["q"], dtype=np.float64))
             for r in queries.select("query_id", "q").collect()]
    frame, k = fan_out(corpus, len(qlist), int(partitions or cores))

    def inputs(batches):
        rows, s = sliced_rows(batches)
        return list(zip(*rows.values())), qlist[s::k]

    return frame, inputs, True


def _arrow(pdf: pd.DataFrame, schema: T.StructType):
    """``pdf`` as one Arrow batch of ``schema``, a task function's
    output."""
    import pyarrow as pa
    return pa.RecordBatch.from_pandas(pdf, schema=to_arrow_schema(schema),
                                      preserve_index=False)


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


def distance_profile_op(queries: DataFrame, series: DataFrame,
                        radius: int = 5, dist: str = "sqeuclidean",
                        key: str = "conv_id",
                        partitions: Optional[int] = None,
                        max_closure_queries: int = 512,
                        n_queries: Optional[int] = None) -> DataFrame:
    """Dense DTW distance profile of each query against every window of
    each series (reference src/distance_interface.jl:103-110), exploded to
    (query_id, key, loc, dist) rows — loc 1-based.

    The plan is dtwnn_search's (``_search_plan``): small query sets
    (bounded by ``n_queries`` hint, Catalyst maxRows, or a count) ship in
    the UDF closure and fan out over the series with
    ``plans.fanout.fan_out`` to ``partitions`` tasks (default: one per
    core); larger sets stay distributed and cross the corpus in
    ``plans.fanout.block_product``, and a repeated request over a cached
    corpus runs 1 job. Each task runs every query of its slice against
    every series it holds. A dense profile has no best-so-far and no
    fold: every window's distance is reported, so splitting the queries
    into slices is exact."""
    schema = T.StructType([
        T.StructField("query_id", T.StringType()),
        T.StructField(key, T.StringType()),
        T.StructField("loc", T.IntegerType()),
        T.StructField("dist", T.DoubleType()),
    ])
    frame, inputs, _ = _search_plan(queries, series, key, partitions,
                                    max_closure_queries, n_queries)

    def run(batches):
        from ..kernels import distance_profile

        rows, qlist = inputs(batches)
        frames = []
        for kv, pts in rows:
            y = np.asarray(pts, dtype=np.float64)
            for qid, q in qlist:
                if len(y) >= len(q):
                    prof = distance_profile(q, y, dist, radius)
                    frames.append(pd.DataFrame({
                        "query_id": qid, key: kv,
                        "loc": np.arange(1, len(prof) + 1, dtype=np.int32),
                        "dist": prof}))
        if frames:
            yield _arrow(pd.concat(frames, ignore_index=True), schema)

    return frame.mapInArrow(run, schema)


def matrix_profile_op(series: DataFrame, m: int, radius: int = 5,
                      dist: str = "sqeuclidean",
                      key: str = "conv_id") -> DataFrame:
    """Per-series DTW matrix profile (reference src/matrix_profile.jl:2-19):
    (key, loc, nn_dist, nn_loc), trivial band |i-j|<=radius excluded.

    One scan per series, as the reference does, each series whole inside
    one task. Series shorter than ``m + radius + 1`` yield no rows."""
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

    return spread(series.select(key, "points")).mapInPandas(run, schema)


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


def _combine_task_winners(recs, key: str,
                          out_cols: list) -> pd.DataFrame:
    """Winner fold shared by BOTH dtwnn_search plans: one row per query
    from ``recs`` (candidate records or a frame of them) by the
    lexicographic (cost, key, loc) rule — min of per-task minima ≡
    global min, and a deterministic winner when several series tie on
    the exact minimum cost — plus summed prune counters, those of
    whole-pruned (cost Inf) records included; a query with no finite
    cost gets no row. Every task applies it map-side; the closure plan
    applies it again on the driver to the collected per-task winners.
    One definition on purpose: the golden tie winners depend on every
    fold applying an identical rule."""
    part = pd.DataFrame(recs, columns=out_cols)
    best = (part[np.isfinite(part["cost"])].sort_values(["cost", key, "loc"])
            .groupby("query_id", sort=False).head(1))
    sums = part.groupby("query_id", sort=False, as_index=False)[
        ["prune_end", "prune_env"]].sum()
    return best.drop(columns=["prune_end", "prune_env"]).merge(
        sums, on="query_id")[out_cols]


def _nn_scan(rows: list, qlist: list, radius: int, dist, normalizer,
             key: str) -> list:
    """The one dtwnn_search task scan: each query of ``qlist``
    ((query_id, float64 q) pairs) against each (key value, points) of
    ``rows`` in order, in one ``kernels.dtwnn.dtwnn_scan`` call (one
    native call for SqEuclidean).

    Each query's best-so-far starts at +inf and threads ACROSS series
    (the reference's sequential bsf, src/dtwnn.jl:231-234): later series
    prune against the running minimum instead of cold-starting at Inf.
    Result-identical — every LB gate compares with <=, so a series tying
    the minimum still reports it, and a series whose windows all prune
    cannot hold the argmin: its record has cost Inf and carries only its
    prune counters. Returns one candidate record per (query, series)
    pair."""
    found = dtwnn_scan([q for _, q in qlist], [pts for _, pts in rows],
                       dist, radius, normalizer)
    return [{"query_id": qlist[i][0], key: rows[s][0], "cost": cost,
             "loc": loc, "prune_end": pe, "prune_env": pv}
            for s, i, cost, loc, pe, pv in found]


def dtwnn_search(queries: DataFrame, series: DataFrame, radius: int = 5,
                 normalizer: str | None = None, dist: str = "sqeuclidean",
                 key: str = "conv_id", partitions: Optional[int] = None,
                 max_closure_queries: int = 512,
                 n_queries: Optional[int] = None) -> DataFrame:
    """NN of each query subsequence across every series.

    ``n_queries``: caller-known query-set size (or upper bound). When
    given, the small-vs-large path selection costs no Spark job; when
    omitted, an unbounded plan pays one count() (``_search_plan``).

    Both plans run one task function: it reads the task's series and
    queries once, scans them in one ``_nn_scan`` (one
    ``kernels.dtwnn.dtwnn_scan`` call, one native call for SqEuclidean),
    and folds the records to one winner per query with
    ``_combine_task_winners``. The plans differ in how the queries
    arrive and how much of the corpus a task holds.

    Plan, small query sets (<= ``max_closure_queries``): queries are
    collected and shipped in the UDF closure, so each series crosses the
    Arrow boundary exactly once and every task runs its query slice
    against its series — no 8x data duplication. The driver collects the
    per-task winners (at most tasks x queries rows) and folds them by the
    same (cost, key, loc) rule — the distributed Base.findmin
    (src/dtwnn.jl:41-50). This path is EAGER: the search runs inside the
    call and the result is a local relation, so the caller's collect() on
    it runs no job. A repeated request over a cached corpus runs 2 jobs:
    the query collect and the search pass. ``plans.fanout.fan_out`` reads
    the cached series in place: a corpus with fewer partitions than
    ``partitions`` is crossed with slices of the query list instead of
    shuffled, so cache read, slicing and the search run as one stage.

    Plan, large query sets: the queries never touch the driver (VERDICT
    r03 #2). Queries stay a DataFrame, and ``plans.fanout.block_product``
    crosses them with the corpus in one narrow stage: the corpus as one
    partition and the queries read in place, packed one row per Arrow
    batch, and crossed by a ``CartesianProduct`` of one task per query
    partition, widened by query slices only when that is fewer tasks
    than cores. Each query meets the whole corpus in exactly one task,
    so a repeated request over a cached corpus runs 1 job of one stage
    and no fold.

    Best-so-far: every task starts each query at Inf and tightens it
    across its own series in scan order, as the reference's dtwnn does
    (src/dtwnn.jl:231-234). There is no cross-task or cross-request
    seed. Prune counters are summed as global metrics columns. NOTE:
    cost/loc are exact and deterministic, but on the closure path the
    counters depend on which series each task saw first, i.e. on the
    task decomposition — treat them as observability metrics, not golden
    values (same caveat as the reference's scan-order-dependent
    prunestats). The search is float64.

    ``partitions`` is the task target of the closure path (default: one
    task per core), reached as series partitions × query slices. Because
    the running bsf tightens within a task, per-task work there depends
    on how much of the corpus a task scans — pin it when comparing walls
    across different core counts so both runs prune identically. The
    large-query path has no such knob: each query scans the whole corpus
    in scan order in one task, so its pruning depends on neither the
    corpus partitioning nor the core count. How the queries are split
    does not change it either.
    """
    schema = T.StructType([
        T.StructField("query_id", T.StringType()),
        T.StructField(key, T.StringType()),
        T.StructField("cost", T.DoubleType()),
        T.StructField("loc", T.IntegerType()),
        T.StructField("prune_end", T.LongType()),
        T.StructField("prune_env", T.LongType()),
    ])
    out_cols = [f.name for f in schema.fields]
    frame, inputs, closure = _search_plan(queries, series, key, partitions,
                                          max_closure_queries, n_queries)

    def run(batches):
        rows, qlist = inputs(batches)
        recs = _nn_scan(rows, qlist, radius, dist, normalizer, key)
        if recs:
            # map-side combine: <= |queries| rows per task
            yield _arrow(_combine_task_winners(recs, key, out_cols), schema)

    found = frame.mapInArrow(run, schema)
    if not closure:
        return found  # each query lives in exactly one task
    spark = series.sparkSession
    per_task = found.toPandas()
    if per_task.empty:
        return spark.createDataFrame([], schema)
    # a query spans every corpus partition: fold its at most tasks rows
    # here with the same rule the tasks used, instead of a shuffle reduce
    # job and its AQE re-plan
    return spark.createDataFrame(
        _combine_task_winners(per_task, key, out_cols), schema)


def knn_topk(series: DataFrame, k: int = 4, radius: int = 5,
             dist: str = "sqeuclidean", key: str = "conv_id") -> DataFrame:
    """k nearest neighbours of every series among the others
    (sparse_distmat, src/dtwnn.jl:261-297): ``(id_a, id_b, cost, rk)``,
    ranked by ``(cost, id_b)`` per ``id_a``, self-pairs excluded by key,
    so the keys must be unique.

    The pair cost is banded DTW for equal lengths and the subsequence NN
    cost of the shorter series inside the longer otherwise. Plan:
    ``plans.fanout.block_product`` of the corpus, coalesced to one
    partition, and the ids, in one narrow stage of one task per core.
    Each task reads the whole corpus and its slice of the ids once
    (``plans.fanout.product_sides``), then makes one ``knn_kbest`` call,
    so every id's k-best frontier sees all candidates in one task and no
    fold is needed. (Blocking the candidates instead gives each id one
    looser frontier per block, which verified more pairs for more CPU —
    measured in PLANS.md.) The bounds cost O(N²·m) vectorized work; only
    verified pairs pay a DTW. One call plus collect over a cached corpus
    runs 1 job.
    """
    from ..kernels import knn_kbest

    schema = T.StructType([
        T.StructField("id_a", T.StringType()),
        T.StructField("id_b", T.StringType()),
        T.StructField("cost", T.DoubleType()),
        T.StructField("rk", T.IntegerType()),
    ])
    cores = series.sparkSession.sparkContext.defaultParallelism
    frame, n_slices = block_product(
        series.select(F.col(key).alias("id_b"), F.col("points").alias("b")),
        series.select(key, "points"), cores)

    def run(batches):
        corpus, ids, s = product_sides(batches)
        rows, _, _ = knn_kbest(
            ((a, _np_series(y))
             for a, y in list(zip(*ids.values()))[s::n_slices]),
            ((b, _np_series(y)) for b, y in zip(*corpus.values())),
            k, radius, dist)
        if rows:
            out = pd.DataFrame(rows, columns=["id_a", "id_b", "cost"])
            out["rk"] = out.groupby("id_a").cumcount().astype("int32") + 1
            yield _arrow(out, schema)

    return frame.mapInArrow(run, schema)
