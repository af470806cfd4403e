"""Skew-safe sessionization.

The naive sessionize is one `lag(ts) over (partition by key order by ts)`
window — correct, but the north rule's adversarial shape (ONE
conversation with 1e6+ turns) lands that key's entire history in a
single task. This operator runs a two-phase salted form, salted by
time rather than by hash because a hash salt would break the ordered
scan's adjacency:

1. salt by coarse TIME BLOCK (`window(ts, block)`): within each
   (key, block) a hash aggregate sorts the group's timestamps
   (sort_array) and counts session starts with a JVM zip_with gap scan,
   recording the block's first/last timestamps. Work per task is
   bounded by events per (key, block), not per key.
2. a per-key pass over the tiny block-summary table (one row per
   (key, block)) subtracts the starts that actually continue the
   previous block's session (boundary gap <= gap_s).

Exact: sessions are defined by consecutive-gap thresholds; time blocks
partition each key's ordered event sequence, so only the block-boundary
gaps need the (tiny) second pass. Events with equal timestamps have gap
0 <= gap_s under any tie order, so the count is order-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.fanout import known_max_rows
from .asof import assert_ntz_session_tz_safe

__all__ = ["sessionize_events"]

def _probed_max_rows_per_key(df: DataFrame, key: str) -> int:
    # Catalyst's static maxRows bound (local relations, limits) answers
    # "no key can be hot" without running a job — total rows <= K
    # implies rows-per-key <= K. Only fall through to the count probe
    # (which executes the full input lineage once) when unbounded.
    bound = known_max_rows(df)
    if bound is not None:
        return bound
    row = (df.groupBy(key).agg(F.count(F.lit(1)).alias("_n"))
           .agg(F.max("_n").alias("_m")).first())
    return int(row["_m"] or 0)


def _sessionize_single(df: DataFrame, key: str, ts_col: str,
                       gap_us: int) -> DataFrame:
    """One-window form: lag per key, count gap-exceeding steps. The
    cheapest plan when no key is hot (one exchange, one window sort) —
    and exactly the shape the DuckDB gate oracle uses."""
    d = df.select(
        F.col(key),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"))
    w = Window.partitionBy(key).orderBy("_us")
    lagv = F.lag("_us").over(w)
    new = F.when(lagv.isNull() | (F.col("_us") - lagv > gap_us),
                 1).otherwise(0)
    return (d.withColumn("_new", new).groupBy(key)
            .agg(F.sum("_new").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


def sessionize_events(df: DataFrame, key: str = "user_id",
                      ts_col: str = "ts", gap_s: int = 1800,
                      block: str = "1 day", plan: str = "auto",
                      max_rows_per_key: int | None = None,
                      hot_key_rows: int = 250_000) -> DataFrame:
    """(key, n_sessions, n_events) with sessions split at gaps > gap_s.

    Plan selection (VERDICT r04 #7): the two-phase time-block plan is the
    structural answer to the north rule's 10⁶-turn-conversation skew, but
    it costs an extra shuffle the common no-hot-key workload shouldn't
    pay (measured sf0.1: 0.70 s two-phase vs 0.48 s single window).

    - ``plan='blocked'`` forces the skew-safe two-phase form;
    - ``plan='single'`` forces the one-window form;
    - ``plan='auto'`` (default) picks single when an upper bound on
      rows-per-key is at most ``hot_key_rows``: the caller's
      ``max_rows_per_key`` hint when given, else Catalyst's static row
      bound when the plan has one (no job), else a per-key count probe
      (one cheap partial-agg job, ~0.28 s at sf0.1). Both plans are
      exact; a wrong bound only costs speed, never correctness.
    """
    if plan not in ("auto", "single", "blocked"):
        raise ValueError(f"plan must be auto|single|blocked, got {plan!r}")
    assert_ntz_session_tz_safe(df, ts_col, "sessionize_events")
    # A null timestamp has no position in any gap sequence; drop such
    # rows up front so both plans agree (the single-window form would
    # otherwise count every null-ts row as its own session via the
    # lag().isNull() test, while the blocked form's collect_list drops
    # nulls — the one input on which the two exact plans diverged).
    df = df.filter(F.col(ts_col).isNotNull())
    gap_us = int(gap_s) * 1_000_000
    if plan == "single":
        return _sessionize_single(df, key, ts_col, gap_us)
    if plan == "auto":
        bound = (int(max_rows_per_key) if max_rows_per_key is not None
                 else _probed_max_rows_per_key(df, key))
        if bound <= int(hot_key_rows):
            return _sessionize_single(df, key, ts_col, gap_us)
    d = df.select(
        F.col(key),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.window(F.col(ts_col).cast("timestamp"), block)["start"]
        .alias("_blk"))
    # No explicit repartition: the agg's own exchange hashes on
    # (key, _blk), and the CLAUDE.md AQE trap does not apply — per-group
    # work is bytes-proportional, so AQE coalescing the byte-small
    # exchange keeps per-task work proportional to per-task bytes.
    # Skew safety is structural (a group is block-bounded), not a
    # function of the task count.
    #
    # Phase 1 is a hash AGGREGATE (partial map-side agg, no sort), not a
    # lag() window: sort_array over each (key, block) group replaces the
    # window operator's full partition sort, and the gap scan becomes a
    # JVM zip_with over the sorted array — identical result, measured
    # 15-20% faster warm at sf0.1 (6.3M events: 0.50 vs 0.59 s A/B in
    # one session) and no window sort buffers. `_arr` is bounded by
    # events-per-(key, block), the same bound the window form had.
    per_block = (d.groupBy(key, "_blk")
                 .agg(F.count(F.lit(1)).alias("_n"),
                      F.sort_array(F.collect_list("_us")).alias("_arr"))
                 .select(
                     F.col(key), F.col("_blk"), F.col("_n"),
                     F.element_at("_arr", 1).alias("_first"),
                     F.element_at("_arr", -1).alias("_last"),
                     # starts = first event + strictly-over-gap steps;
                     # zip_with pads the shorter (shifted) side with
                     # null, which filter() drops
                     (F.lit(1) + F.size(F.filter(
                         F.zip_with(
                             F.slice("_arr", F.lit(2), F.col("_n") - 1),
                             F.col("_arr"),
                             lambda a, b: a - b > F.lit(gap_us)),
                         lambda x: x))).alias("_starts"))
                 .drop("_arr"))
    w2 = Window.partitionBy(key).orderBy("_blk")
    merged = per_block.withColumn("_prev_last", F.lag("_last").over(w2))
    cont = F.when(F.col("_prev_last").isNotNull()
                  & (F.col("_first") - F.col("_prev_last") <= gap_us),
                  1).otherwise(0)
    return (merged.groupBy(key)
            .agg(F.sum(F.col("_starts") - cont).alias("n_sessions"),
                 F.sum("_n").alias("n_events")))
