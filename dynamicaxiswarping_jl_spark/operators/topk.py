"""Top-k per key — the engine's argmin/argmax reduction.

Reference counterpart: Base.findmin over DTWSearchResults
(src/dtwnn.jl:41-50) and sparse_distmat's per-row k-smallest
(src/dtwnn.jl:261-297). Spark form: window row_number (exact) — AQE handles
skewed keys; for k=1 prefer ``min_by``/``max_by`` (no sort, single agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["topk_per_key", "argmin_per_key"]


def topk_per_key(df: DataFrame, key, order_col: str, k: int,
                 ascending: bool = True, rank_col: str = "rk",
                 tie_col: str | None = None) -> DataFrame:
    """``tie_col`` (always ascending) makes rank AND membership
    deterministic when order_col carries exact ties — required for any
    result that feeds a golden-value oracle."""
    keys = [key] if isinstance(key, str) else list(key)
    oc = [F.col(order_col).asc() if ascending else F.col(order_col).desc()]
    if tie_col is not None:
        oc.append(F.col(tie_col).asc())
    w = Window.partitionBy(*keys).orderBy(*oc)
    return (df.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= k))


def argmin_per_key(df: DataFrame, key, order_col: str, payload_cols,
                   tie_col: str | None = None) -> DataFrame:
    """k=1 fast path: min_by per payload column — one hash agg, no sort.

    Without ``tie_col``, exact ties on ``order_col`` are broken by
    partition/merge order: nondeterministic across runs AND potentially
    incoherent across payload columns (each min_by picks its own tied
    row). Pass ``tie_col`` for oracle-fed/golden-checked results — the
    struct-min then picks one deterministic row for every column (the
    same trap dtw_ops._nn_reduce documents).

    Rows whose ``order_col`` is NULL never win, as with plain min_by
    (which skips NULL orderings): a struct with a NULL field is itself
    non-NULL and sorts first, so with ``tie_col`` the ordering is NULL
    whenever ``order_col`` is. A key whose every ``order_col`` is NULL
    keeps its row, with NULL payloads, on both paths."""
    keys = [key] if isinstance(key, str) else list(key)

    def bt(c):
        return "`" + str(c).replace("`", "``") + "`"

    ob = bt(order_col)
    if tie_col is not None:
        ob = f"if({ob} IS NULL, NULL, struct({ob}, {bt(tie_col)}))"
    aggs = [F.min(order_col).alias(order_col)]
    aggs += [F.expr(f"min_by({bt(c)}, {ob})").alias(c)
             for c in payload_cols]
    return df.groupBy(*keys).agg(*aggs)
