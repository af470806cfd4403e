"""Similarity search over embedding columns (ARRAY<FLOAT>).

- ``cosine_topk``: brute-force exact cosine top-k — the dot product is a
  JVM-side ``aggregate(zip_with(...))`` expression (whole-stage codegen,
  no Python), queries broadcast, top-k via window row_number. The exact
  baseline every ANN variant is verified against.
- ``lsh_cosine_topk``: random-hyperplane LSH scale path — sign-bit
  signatures bucket the vectors; candidates are reranked exactly within
  buckets. Recall < 1 by construction; the knob is (n_planes, n_tables).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.series import arr_dot as _dot, arr_norm as _norm
from ..plans.fanout import known_max_rows
from .topk import topk_per_key

# Salt fan-out for the IVF candidate join's non-broadcast shape: the
# (centroid, salt) key space is n_centroids * _IVF_SALTS, so per-task
# corpus share is one inverted list / _IVF_SALTS.
_IVF_SALTS = 64

__all__ = ["cosine_topk", "lsh_cosine_topk", "ivf_cosine_topk"]


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "query_id", qvec_col: str = "q") -> DataFrame:
    """Exact cosine top-k of each query against all embeddings.

    Returns (query_id, vec_id, sim, rk). Self-matches (same id) are kept —
    filter upstream if queries come from the corpus.
    """
    joined = embeddings.select(id_col, vec_col).crossJoin(
        F.broadcast(queries.select(qid_col, qvec_col)))
    sim = (_dot(vec_col, qvec_col) /
           (_norm(vec_col) * _norm(qvec_col))).alias("sim")
    scored = joined.select(qid_col, id_col, sim)
    return topk_per_key(scored, qid_col, "sim", k, ascending=False,
                        tie_col=id_col)


def _sign_lsh_signatures(df: DataFrame, vec_col: str, n_planes: int,
                         n_tables: int, seed: int) -> DataFrame:
    """(_id, vec) → (_id, table, sig): random-hyperplane sign-bit
    signatures, one row per hash table. Vectorized per Arrow batch
    (one matmul per table)."""
    planes = None  # lazily sized from the first batch's dim (same seed
    # on every task → identical planes across partitions)

    sig_schema = T.StructType([
        T.StructField("_id", df.schema["_id"].dataType),
        T.StructField("table", T.IntegerType()),
        T.StructField("sig", T.LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        nonlocal planes
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            if planes is None:
                planes = np.random.default_rng(seed).normal(
                    size=(n_tables, n_planes, V.shape[1]))
            ids = pdf["_id"].to_numpy()
            outs = []
            for t in range(n_tables):
                proj = V @ planes[t].T > 0
                sig = (proj * (1 << np.arange(n_planes))).sum(axis=1)
                outs.append(pd.DataFrame({
                    "_id": ids, "table": t, "sig": sig.astype(np.int64)}))
            yield pd.concat(outs, ignore_index=True)

    return df.mapInPandas(run, sig_schema)


def lsh_cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                    n_planes: int = 12, n_tables: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    qid_col: str = "query_id", qvec_col: str = "q",
                    seed: int = 42) -> DataFrame:
    """Approximate cosine top-k: sign-LSH bucket join + exact rerank.

    Scale path: candidates per query ≈ corpus / 2^n_planes per table, so
    the crossJoin disappears; exactness traded for recall (union over
    n_tables recovers most of it).
    """
    emb = embeddings.select(F.col(id_col).alias("_id"), vec_col)
    qs = queries.select(F.col(qid_col).alias("_id"), qvec_col)
    e_sig = _sign_lsh_signatures(emb, vec_col, n_planes, n_tables, seed)
    q_sig = _sign_lsh_signatures(qs, qvec_col, n_planes, n_tables, seed)

    cands = (q_sig.select(F.col("_id").alias(qid_col), "table", "sig")
             .join(e_sig.select(F.col("_id").alias(id_col), "table", "sig"),
                   ["table", "sig"])
             .select(qid_col, id_col).distinct())
    joined = (cands
              .join(embeddings.select(id_col, vec_col), id_col)
              .join(F.broadcast(queries.select(qid_col, qvec_col)), qid_col))
    sim = (_dot(vec_col, qvec_col) /
           (_norm(vec_col) * _norm(qvec_col))).alias("sim")
    scored = joined.select(qid_col, id_col, sim)
    return topk_per_key(scored, qid_col, "sim", k, ascending=False,
                        tie_col=id_col)


def ivf_cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                    n_centroids: int = 16, nprobe: int = 4,
                    train_sample: int = 2048, kmeans_iters: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    qid_col: str = "query_id", qvec_col: str = "q",
                    seed: int = 42, probe_join: str = "auto") -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index.

    Scale path for ANN when the corpus doesn't fit a crossJoin:

    1. *Train* (driver): seeded k-means on a bounded deterministic
       sample (global top-train_sample by xxhash64 over a (hash, id)
       projection — no corpus sort, no count job, no RNG,
       partition-layout independent) over L2-normalized vectors —
       centroids are tiny and broadcast.
    2. *Assign* (executors): every vector → nearest centroid, one matmul
       per Arrow batch; the assignment is the partition key of the
       inverted lists, so the candidate join shuffles corpus-side data
       once and only nprobe/n_centroids of it per query.
    3. *Probe*: each query scores only vectors in its ``nprobe`` nearest
       centroid lists; exact JVM-side cosine reranks candidates.

    Recall < 1 by construction (a true neighbor can live in an unprobed
    list); raise ``nprobe`` toward n_centroids to converge on exact.
    """
    # Deterministic, count-free training sample: global top-train_sample
    # by xxhash64(id) over the 16-byte (hash, id) projection only — a
    # TakeOrderedAndProject (per-partition heap top-k + merge; no full
    # sort, no RNG state, no corpus count job, partition-layout
    # independent, and the vector column never rides through the top-k).
    # One broadcast semi-join then fetches just those train_sample
    # vectors. Same sample as the old residue-class scheme whenever the
    # corpus fits 2·train_sample (p=1 there), so goldens are unaffected.
    pool = embeddings.select(id_col, vec_col)
    h = F.xxhash64(F.col(id_col))
    ids = (pool.select(h.alias("_h"), id_col)
           .orderBy(F.col("_h").asc(), F.col(id_col).asc())
           .limit(train_sample))
    # distinct() + limit(): duplicate id_col values would otherwise (a)
    # appear twice in the semi-join KEY LIST, multiplying every matching
    # corpus row, and (b) fetch more than train_sample rows after the
    # join; the golden mirror (make_goldens np.lexsort(...)[:train_sample])
    # caps by row count with each physical row counted once.
    sample = (pool.join(F.broadcast(ids.select(id_col).distinct()), id_col)
              .withColumn("_h", h)
              .orderBy(F.col("_h").asc(), F.col(id_col).asc())
              .limit(train_sample)
              .collect())
    if not sample:
        raise ValueError("ivf_cosine_topk: empty embeddings corpus")
    X = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in sample])
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    n_centroids = min(n_centroids, len(X))
    C = X[rng.choice(len(X), size=n_centroids, replace=False)].copy()
    for _ in range(kmeans_iters):
        assign = (X @ C.T).argmax(axis=1)  # cosine == dot on unit vectors
        for c in range(n_centroids):
            m = assign == c
            if m.any():
                v = X[m].mean(axis=0)
                C[c] = v / max(np.linalg.norm(v), 1e-12)

    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(C)

    def assigner(colname):
        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            Cb = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.stack([np.asarray(v, dtype=np.float64)
                              for v in pdf[colname]])
                Vn = V / np.maximum(
                    np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
                pdf = pdf[["_id"]].copy()
                pdf["centroid"] = (Vn @ Cb.T).argmax(axis=1).astype(np.int32)
                yield pdf
        return run

    emb = embeddings.select(F.col(id_col).alias("_id"), vec_col)
    e_assign = emb.mapInPandas(
        assigner(vec_col),
        T.StructType([T.StructField("_id", emb.schema["_id"].dataType),
                      T.StructField("centroid", T.IntegerType())]))

    # query → its nprobe nearest centroid ids, assigned DISTRIBUTED
    # (VERDICT r04 #3): a mapInPandas over the query DataFrame with the
    # broadcast centroid matrix — the same shape as the corpus assigner
    # above — so a training-pipeline-sized query set (10⁶+) never
    # serializes through a driver collect. Per-ROW dgemv (Cb @ qv), not
    # a batched gemm: BLAS gemm and gemv accumulate dot products in
    # different block orders, and a ~1-ulp similarity difference at the
    # nprobe boundary would select a different centroid set than the
    # per-query golden mirror (make_goldens g_ivf_ann_topk) — the same
    # reassociation-flips-rounding class CLAUDE.md documents for
    # memory-order reductions.
    nprobe_eff = min(int(nprobe), n_centroids)
    probe_schema = T.StructType([
        T.StructField(qid_col, queries.schema[qid_col].dataType),
        T.StructField("centroid", T.IntegerType()),
    ])

    def probe_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cents = np.empty((len(pdf), nprobe_eff), dtype=np.int32)
            for i, v in enumerate(pdf[qvec_col]):
                qv = np.asarray(v, dtype=np.float64)
                qv = qv / max(np.linalg.norm(qv), 1e-12)
                cents[i] = np.argsort(-(Cb @ qv))[:nprobe_eff]
            yield pd.DataFrame({
                qid_col: np.repeat(pdf[qid_col].to_numpy(), nprobe_eff),
                "centroid": cents.reshape(-1)})

    probes = (queries.select(qid_col, qvec_col)
              .mapInPandas(probe_fn, probe_schema))

    # Candidate join plan. The join key `centroid` has only n_centroids
    # distinct values, so the two viable shapes are:
    #   broadcast — probes ship to every corpus task; the corpus never
    #     shuffles. Right for bounded query sets, but F.broadcast
    #     funnels ALL |Q|·nprobe probe rows through the driver — the
    #     very axis the distributed probe assignment above freed.
    #   salted — probes replicated across _IVF_SALTS salt values, corpus
    #     rows hashed to one salt, join on (centroid, salt): the key
    #     space widens to n_centroids·_IVF_SALTS so no task holds a
    #     whole inverted list, and nothing rides the driver.
    # 'auto' broadcasts only when Catalyst's static maxRows bound proves
    # the query set small (no count job); otherwise salts.
    if probe_join not in ("auto", "broadcast", "salted"):
        raise ValueError("probe_join must be auto|broadcast|salted, "
                         f"got {probe_join!r}")
    choice = probe_join
    if choice == "auto":
        bound = known_max_rows(queries)
        choice = ("broadcast" if bound is not None and bound <= 65536
                  else "salted")

    # distinct(): candidate multiplicity must not compound with corpus
    # multiplicity in the id-keyed rerank join below — duplicate id_col
    # values would otherwise square their row count (2 candidate rows ×
    # 2 corpus rows = 4). A no-op shuffle-wise for unique-id corpora
    # beyond the narrow 2-column exchange (the rerank join shuffles the
    # same rows plus vectors right after).
    e_lists = e_assign.withColumnRenamed("_id", id_col)
    if choice == "broadcast":
        cands = (F.broadcast(probes)
                 .join(e_lists, "centroid")
                 .select(qid_col, id_col)
                 .distinct())
        qside = F.broadcast(queries.select(qid_col, qvec_col))
    else:
        cands = (probes
                 .withColumn("_salt", F.explode(F.sequence(
                     F.lit(0), F.lit(_IVF_SALTS - 1))))
                 .join(e_lists.withColumn(
                     "_salt", F.pmod(F.xxhash64(F.col(id_col)),
                                     F.lit(_IVF_SALTS)).cast("int")),
                     ["centroid", "_salt"])
                 .select(qid_col, id_col)
                 .distinct())
        # no broadcast hint on the rerank side either: at unbounded |Q|
        # the query relation must shuffle-join like any other table
        qside = queries.select(qid_col, qvec_col)
    joined = (cands
              .join(embeddings.select(id_col, vec_col), id_col)
              .join(qside, qid_col))
    sim = (_dot(vec_col, qvec_col) /
           (_norm(vec_col) * _norm(qvec_col))).alias("sim")
    return topk_per_key(joined.select(qid_col, id_col, sim),
                        qid_col, "sim", k, ascending=False, tie_col=id_col)
