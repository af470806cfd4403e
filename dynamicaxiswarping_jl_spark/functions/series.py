"""Array/series column expressions.

Everything here is a pure Catalyst expression (higher-order functions over
arrays) — usable in filters/projections with full codegen, no UDF. These
are the JVM-side analogs of the kernel helpers (norms, dot products) for
cases where the math should stay out of Python entirely.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["arr_dot", "arr_norm"]


def arr_dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0D, (acc, v) -> acc + v)")


def arr_norm(a: str) -> Column:
    return F.sqrt(F.expr(
        f"aggregate({a}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"))
