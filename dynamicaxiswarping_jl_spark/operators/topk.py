"""Top-k per key — the engine's argmin/argmax reduction.

Reference counterpart: Base.findmin over DTWSearchResults
(src/dtwnn.jl:41-50) and sparse_distmat's per-row k-smallest
(src/dtwnn.jl:261-297). Spark form: window row_number (exact) — AQE handles
skewed keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["topk_per_key"]


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
