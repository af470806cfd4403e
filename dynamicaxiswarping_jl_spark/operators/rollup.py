"""Continuous-aggregate rollup tiers (1m/1h/1d) over transcript turns.

The relational core of the engine (SURVEY.md §2.8). All stock Spark:

- ``rollup_turns``: raw turns → a tier in one shuffle
  (``groupBy(key, window(ts, tier))``). Partial aggregation is map-side,
  so the shuffle carries one row per (conv, bucket), not per turn — at
  10^12 turns that is the difference between shuffling 10 TB and 10^12 rows.
- ``cascade``: tier k+1 computed **from tier k** (sum/count are
  re-aggregable) — the 1h tier reads ~60× less than recomputing from raw;
  the 1d tier ~1440× less. This is the continuous-aggregate refresh path.
- ``assemble_series``: tier rows → one dense ``ARRAY<DOUBLE>`` per key for
  the DTW/DBA kernels, ordered by bucket via sort_array (stable
  (conv_id, turn_idx)-derived ordering per the input_hint invariant).

No UDFs anywhere in this module — everything stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["TIERS", "rollup_turns", "cascade", "assemble_series",
           "apply_retention", "quantile_rollup"]

# tier name -> (window duration literal, seconds)
TIERS = {
    "1m": ("1 minute", 60),
    "1h": ("1 hour", 3600),
    "1d": ("1 day", 86400),
}


def rollup_turns(turns: DataFrame, tier: str = "1m", key: str = "conv_id",
                 ts_col: str = "ts", tool_col: str = "tool") -> DataFrame:
    """Raw turns → tier rows ``(key, bucket, n_turns, tool_calls, turn_rate)``.

    turn_rate is turns/minute so the column is comparable across tiers.
    """
    dur, secs = TIERS[tier]
    has_tool = tool_col in turns.columns
    aggs = [
        F.count(F.lit(1)).alias("n_turns"),
        (F.count(F.when(F.col(tool_col).isNotNull(), 1)) if has_tool
         else F.lit(0)).alias("tool_calls"),
    ]
    out = (
        turns.groupBy(F.col(key), F.window(F.col(ts_col), dur).alias("w"))
        .agg(*aggs)
        .select(
            F.col(key),
            F.col("w.start").alias("bucket"),
            "n_turns",
            "tool_calls",
            (F.col("n_turns") * 60.0 / secs).alias("turn_rate"),
        )
    )
    return out


def cascade(tier_df: DataFrame, to_tier: str, key: str = "conv_id") -> DataFrame:
    """Re-aggregate a finer tier into a coarser one (sum/count re-aggregable;
    never touches raw data — the continuous-aggregate property)."""
    dur, secs = TIERS[to_tier]
    return (
        tier_df.groupBy(F.col(key), F.window(F.col("bucket"), dur).alias("w"))
        .agg(F.sum("n_turns").alias("n_turns"),
             F.sum("tool_calls").alias("tool_calls"))
        .select(
            F.col(key),
            F.col("w.start").alias("bucket"),
            "n_turns",
            "tool_calls",
            (F.col("n_turns") * 60.0 / secs).alias("turn_rate"),
        )
    )


def assemble_series(tier_df: DataFrame, value_col: str = "turn_rate",
                    key: str = "conv_id", step_s: int = 60,
                    window: str | None = None) -> DataFrame:
    """Tier rows → ``(key, t0, step_s, points ARRAY<DOUBLE>)``.

    Ordering is enforced inside the row via array_sort on (bucket, value)
    structs — no global sort, no window function, one shuffle.

    ``window`` (e.g. ``'30 days'``) bounds the per-row array: each key
    emits one series segment per tumbling window instead of one
    unbounded array for its whole history. At the 10¹²-turn design point
    a years-long conversation on a 1m grid would otherwise collect a
    multi-million-point (tens of MB) single row — pass a window whenever
    the input isn't already range-filtered. The output shape is
    unchanged (t0 = segment start); downstream DTW operators treat each
    segment as a series.
    """
    grp = [F.col(key)]
    if window is not None:
        grp.append(F.window("bucket", window)["start"].alias("_w0"))
    out = (
        tier_df
        .groupBy(*grp)
        .agg(
            F.min("bucket").alias("t0"),
            F.array_sort(
                F.collect_list(F.struct(F.col("bucket"), F.col(value_col)))
            ).alias("pairs"),
        )
        .select(
            key, "t0", F.lit(step_s).alias("step_s"),
            # backtick-quoted like quantile_rollup below (ADVICE r04):
            # a value_col with dots/spaces/hyphens must parse as one field
            F.expr("transform(pairs, p -> CAST(p.`{}` AS DOUBLE))".format(
                str(value_col).replace("`", "``"))).alias("points"),
        )
    )
    return out


def quantile_rollup(tier_df: DataFrame, to_tier: str, qs,
                    value_col: str = "n_turns", key: str = "conv_id",
                    prefix: str = "q") -> DataFrame:
    """Coarser-tier EXACT interpolated quantiles of a finer tier's values
    (e.g. per-hour p50/p95 of the per-minute turn counts) — the
    percentile continuous-aggregate view.

    Pure JVM ``percentile`` aggregate (linear interpolation at
    ``p*(n-1)``, the same continuous-quantile definition DuckDB's
    ``quantile_cont`` uses, so the oracle matches at full precision for
    integer inputs). One shuffle; exactness costs holding one group's
    values, which is bounded by the tier ratio (60 minute-rows per hour
    bucket, 24 hour-rows per day bucket) — NOT by data volume, so the
    exact form is 100 TB-safe here. For unbounded groups use
    ``approx_percentile`` instead (mergeable sketch, partial-aggregable).

    Output: ``(key, bucket, {prefix}50, {prefix}95, ...)`` one column
    per requested quantile, named by ``round(q*100)``.
    """
    dur, _ = TIERS[to_tier]
    qs = list(qs)
    arr = "array({})".format(",".join(f"{float(q)!r}D" for q in qs))
    # backtick-quote the interpolated identifier (ADVICE r04): a column
    # name with spaces/dots/hyphens must parse, and embedded backticks
    # escape by doubling per the SQL ident rules
    qcol = "`" + str(value_col).replace("`", "``") + "`"
    agg = F.expr(f"percentile({qcol}, {arr})").alias("_qs")
    out = (tier_df.groupBy(F.col(key), F.window("bucket", dur).alias("w"))
           .agg(agg)
           .select(key, F.col("w.start").alias("bucket"),
                   *[F.col("_qs").getItem(i).alias(f"{prefix}{round(q*100)}")
                     for i, q in enumerate(qs)]))
    return out


def apply_retention(tier_df: DataFrame, keep_after, bucket_col: str = "bucket",
                    partition_col: str | None = None) -> DataFrame:
    """Retention: drop tier rows older than ``keep_after`` (timestamp or
    ISO string). The retention triad of the north star is: raw turns expire
    first, 1m next, 1h/1d kept longest — each tier gets its own cutoff and
    coarser tiers are never recomputed from expired finer data (cascade
    ran *before* expiry; manifests record the snapshot lineage).

    Pure predicate → on Iceberg/parquet this prunes whole partitions; no
    shuffle. When the tier checkpoint is hive-partitioned by a date
    column derived as ``to_date(bucket)`` (CheckpointManager
    ``partition_by=["day"]``), pass ``partition_col`` and an equivalent
    predicate is added so the scan's PartitionFilters prune whole
    directories, not just row groups.
    """
    cutoff = F.lit(keep_after).cast("timestamp")
    out = tier_df.filter(F.col(bucket_col) >= cutoff)
    # the partition column must be named explicitly (ADVICE r01: inferring
    # it from a name+type heuristic silently drops rows when a tier carries
    # an unrelated DATE column called 'day')
    if partition_col is not None:
        if dict(tier_df.dtypes).get(partition_col) != "date":
            raise ValueError(
                f"partition_col {partition_col!r} must be a DATE column "
                f"derived as to_date({bucket_col})")
        out = out.filter(F.col(partition_col) >= F.to_date(cutoff))
    return out
