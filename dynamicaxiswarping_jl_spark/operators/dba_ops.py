"""DBA representatives per group (SURVEY.md §2.4).

``dba_per_group`` runs each group's whole DBA loop inside one grouped
pandas task: the reference's sequential loop (src/dba.jl:28-102) in NumPy,
one task per group. Determinism: members are sorted by key before
accumulation, and the init center is the member with the smallest key (the
reference pins init the same way in its tests, runtests.jl:479).
``dbaclust_distributed`` is DBA k-means over the same kernels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import dba, dtw

__all__ = ["dba_per_group", "dbaclust_distributed"]

_REP_SCHEMA = T.StructType([
    T.StructField("group_id", T.StringType()),
    T.StructField("center", T.ArrayType(T.DoubleType())),
    T.StructField("cost", T.DoubleType()),
    T.StructField("converged", T.BooleanType()),
    T.StructField("iterations", T.IntegerType()),
    T.StructField("n_members", T.IntegerType()),
])


def dba_per_group(series: DataFrame, group_col: str, key: str = "conv_id",
                  dist: str = "sqeuclidean", iterations: int = 100,
                  rtol: float = 1e-5) -> DataFrame:
    """(group_col, key, points) → one DBA representative per group."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(key)
        seqs = [np.asarray(p, dtype=np.float64) for p in pdf["points"]]
        avg, res = dba(seqs, dist, init_center=seqs[0],
                       iterations=iterations, rtol=rtol)
        return pd.DataFrame([{
            "group_id": str(pdf[group_col].iloc[0]),
            "center": avg.tolist(),
            "cost": res.cost,
            "converged": res.converged,
            "iterations": res.iterations,
            "n_members": len(seqs),
        }])

    # Pin the group fan-out: AQE would coalesce this byte-tiny shuffle to
    # one task and run every group's DBA loop serially.
    sc = series.sparkSession.sparkContext
    series = series.repartition(sc.defaultParallelism, group_col)
    return series.groupBy(group_col).applyInPandas(run, _REP_SCHEMA)


def dbaclust_distributed(spark: SparkSession, series: DataFrame,
                         nclust: int, dist: str = "sqeuclidean",
                         iterations: int = 10, inner_iterations: int = 5,
                         rtol: float = 1e-4, key: str = "conv_id",
                         seed: int = 0):
    """Distributed DBA k-means (reference src/dbaclust.jl:123-357 restructured
    Spark-first, SURVEY §3.3):

    - assignment: centers broadcast in the UDF closure; one pass over the
      series computes argmin-DTW-cost cluster per series (mapInPandas);
    - empty-cluster reseed from the worst-assigned series (driver, needs a
      global argmax — one tiny collect);
    - update: per-cluster DBA refinement via grouped applyInPandas with the
      current center as init.

    Returns ``(assign_df, centers list, total_cost, n_iter, converged)``.
    Init centers: the nclust lexicographically-smallest keys (deterministic;
    kmeans++ seeding stays available in the local kernel).
    """
    import pandas as pd
    from ..kernels.dba import dba_iteration as _dba_iter

    init_rows = (series.orderBy(key).limit(nclust).collect())
    centers = [np.asarray(r["points"], dtype=np.float64) for r in init_rows]
    assign_schema = T.StructType([
        T.StructField(key, T.StringType()),
        T.StructField("cluster_id", T.IntegerType()),
        T.StructField("cost", T.DoubleType()),
    ])
    total_cost = np.inf
    converged = False
    it = 0
    assign = None
    while not converged and it < iterations:
        it += 1
        bc = spark.sparkContext.broadcast(centers)

        def assign_fn(batches):
            # batched assignment (VERDICT r01): equal-length (center, series)
            # groups run through the vectorized dtw_cost_batch with a full
            # band (r = m-1 covers the whole matrix — cost-identical to
            # unbanded dtw), amortizing the Python DP dispatch across the
            # batch as the k-NN k-best loop does; unequal lengths /
            # non-sqeuclid metrics fall back to per-pair dtw
            from ..kernels.dtw import dtw_cost_batch
            ctrs = bc.value
            use_batch = dist in ("sqeuclidean", None)
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                pts = [np.asarray(p, dtype=np.float64) for p in pdf["points"]]
                lens = np.array([len(p) for p in pts])
                C = np.full((len(ctrs), n), np.inf)
                for ci, c in enumerate(ctrs):
                    m = len(c)
                    if use_batch and (lens == m).any():
                        sel = np.flatnonzero(lens == m)
                        Y = np.stack([pts[s] for s in sel])
                        C[ci, sel] = dtw_cost_batch(c, Y, r=m - 1)
                        rest = np.flatnonzero(lens != m)
                    else:
                        rest = np.arange(n)
                    for s in rest:
                        C[ci, s] = dtw(c, pts[s], dist)[0]
                cid = C.argmin(axis=0)
                yield pd.DataFrame({
                    key: pdf[key].to_numpy(),
                    "cluster_id": cid.astype(np.int32),
                    "cost": C[cid, np.arange(n)]})

        if assign is not None:
            assign.unpersist()  # superseded: only the last one is returned
        assign = series.select(key, "points").mapInPandas(
            assign_fn, assign_schema).cache()
        counts = {r["cluster_id"]: r["count"]
                  for r in assign.groupBy("cluster_id").count().collect()}
        # reseed empty clusters from the worst-assigned series (sequential,
        # reference src/dbaclust.jl:260-284)
        empties = [c for c in range(nclust) if counts.get(c, 0) == 0]
        if empties:
            worst = (assign.orderBy(F.col("cost").desc(), key)
                     .limit(len(empties)).collect())
            reseed_keys = {w[key]: c for w, c in zip(worst, empties)}
            pts = {r[key]: np.asarray(r["points"], dtype=np.float64)
                   for r in series.filter(
                       F.col(key).isin(list(reseed_keys))).collect()}
            for kk, c in reseed_keys.items():
                centers[c] = pts[kk]
            bc.unpersist()
            continue  # re-assign with reseeded centers
        # per-cluster DBA update
        joined = series.join(assign.select(key, "cluster_id"), key)
        ctr_map = {i: c for i, c in enumerate(centers)}
        bc2 = spark.sparkContext.broadcast(ctr_map)
        upd_schema = T.StructType([
            T.StructField("cluster_id", T.IntegerType()),
            T.StructField("center", T.ArrayType(T.DoubleType())),
            T.StructField("cost", T.DoubleType()),
        ])

        def update_fn(pdf: pd.DataFrame) -> pd.DataFrame:
            cid = int(pdf["cluster_id"].iloc[0])
            ctr = bc2.value[cid]
            pdf = pdf.sort_values(key)
            seqs = [np.asarray(p, dtype=np.float64) for p in pdf["points"]]
            ccost = np.inf
            for _ in range(inner_iterations):
                newctr, icost = _dba_iter(ctr, seqs, dist)
                delta = (ccost - icost) / icost if icost > 0 else 0.0
                ctr = newctr
                if delta < rtol:
                    break
                ccost = icost
            return pd.DataFrame([{"cluster_id": cid, "center": ctr.tolist(),
                                  "cost": float(icost)}])

        sc = joined.sparkSession.sparkContext
        upd = (joined.repartition(sc.defaultParallelism, "cluster_id")
               .groupBy("cluster_id").applyInPandas(
                   update_fn, upd_schema).collect())
        newcost = sum(r["cost"] for r in upd)
        for r in upd:
            centers[r["cluster_id"]] = np.asarray(r["center"], dtype=np.float64)
        delta = (total_cost - newcost) / newcost if newcost > 0 else 0.0
        if delta < rtol:
            converged = True
        total_cost = newcost
        # unpersist (not destroy): the returned ``assign`` plan still
        # references this broadcast — executors drop their copies now, the
        # driver re-sends lazily if the caller re-evaluates the DataFrame
        bc.unpersist()
        bc2.unpersist()
    return assign, centers, float(total_cost), it, converged
