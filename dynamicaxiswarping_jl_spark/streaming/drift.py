"""Streaming tier-drift monitor (SURVEY.md §2.9 — engine-added; the
reference is batch-only).

The batch engine scores tier-to-tier drift with banded DTW
(operators/dtw_ops.tier_drift). This is the streaming form of the same
signal: as 1m-tier buckets arrive, each conversation's turn-rate series
is cut into tumbling windows of ``window_buckets`` consecutive buckets
(zero-filled like gapfill_zero), and when the event-time watermark
closes a window its banded ``dtw_cost`` against the PREVIOUS window is
emitted — "has this conversation's shape drifted vs its own recent
past?".

Determinism contract: the final emitted set depends only on the DATA
(not on micro-batch boundaries) as long as every bucket arrives within
the watermark — a window is scored exactly once, when the watermark
passes its end, from all its <=-watermark buckets; late-beyond-watermark
buckets are dropped (the same contract as streaming_rollup_1m). The
batch-equivalence is pinned by tests: one-batch, three-batch, and
shuffled-arrival runs produce identical rows, equal to a NumPy
re-derivation.

Feed it the FINAL bucket values (the catalog change feed after MERGE) —
the monitor keeps the last value it sees per bucket, so in-watermark
re-emissions of a still-open bucket converge but cross-batch
re-emissions of an already-closed bucket are late data and dropped.

State per conversation is bounded: the last closed window's
``window_buckets`` values plus the open buckets inside the watermark
horizon. State is kept after windows close (the next window's drift
needs the previous values); a conversation that goes silent holds one
small record — drop it with an external retention pass if that matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["streaming_drift"]


def streaming_drift(stream_1m: DataFrame, window_buckets: int = 32,
                    radius: int = 5, dist: str = "sqeuclidean",
                    key: str = "conv_id", bucket_col: str = "bucket",
                    value_col: str = "turn_rate",
                    bucket_seconds: int = 60,
                    watermark: str = "10 minutes") -> DataFrame:
    """(key, window_start, drift, n_obs) per closed tumbling window.

    ``drift`` = banded ``dtw_cost`` (Sakoe-Chiba ``radius``, same kernel
    and default metric as the batch tier_drift) between the window's
    zero-filled length-``window_buckets`` value vector and the previous
    window's. The first window of a conversation's span emits nothing
    (no predecessor); fully-empty windows INSIDE the span are
    synthesized as zero vectors so the emitted stream matches the batch
    gapfill-zero series cut into windows. ``n_obs`` counts the window's
    observed (non-filled) buckets — 0 for synthesized empties.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..kernels import dtw_cost

    W = int(window_buckets)
    if W < 2:
        raise ValueError("window_buckets must be >= 2")
    if not 0 <= radius < W:
        raise ValueError("radius must be in [0, window_buckets)")
    bus = int(bucket_seconds) * 1_000_000      # µs per bucket
    wus = W * bus                              # µs per window

    # the key column keeps the INPUT's type — hardcoding StringType
    # breaks every non-string-keyed caller at the Arrow boundary
    key_type = stream_1m.schema[key].dataType
    out_schema = T.StructType([
        T.StructField(key, key_type),
        T.StructField("window_start", T.TimestampType()),
        T.StructField("drift", T.DoubleType()),
        T.StructField("n_obs", T.IntegerType()),
    ])
    # last closed window (id + zero-filled values) and the open buckets,
    # flattened to parallel arrays; last_wid = -1 means "no window
    # closed yet" (bucket epochs are post-1970, so real ids are >= 0)
    state_schema = T.StructType([
        T.StructField("last_wid", T.LongType()),
        T.StructField("last_vals", T.ArrayType(T.DoubleType())),
        T.StructField("o_wids", T.ArrayType(T.LongType())),
        T.StructField("o_pos", T.ArrayType(T.IntegerType())),
        T.StructField("o_vals", T.ArrayType(T.DoubleType())),
    ])

    def fold(key_tuple, pdfs, state: GroupState):
        if state.exists:
            last_wid, last_vals, o_wids, o_pos, o_vals = state.get
        else:
            last_wid, last_vals, o_wids, o_pos, o_vals = -1, [], [], [], []
        open_map: dict = {}
        for wid, pos, val in zip(o_wids, o_pos, o_vals):
            open_map.setdefault(wid, {})[pos] = val
        if not state.hasTimedOut:
            for pdf in pdfs:
                us = (pd.to_datetime(pdf[bucket_col]).astype("int64")
                      // 1000).to_numpy()
                vs = pdf[value_col].to_numpy(dtype=np.float64)
                for t, v in zip(us, vs):
                    t = int(t)
                    wid = t // wus
                    if wid <= last_wid:
                        continue  # window already scored: late data
                    open_map.setdefault(wid, {})[(t % wus) // bus] = \
                        float(v)
        wm_us = state.getCurrentWatermarkMs() * 1000
        rows = []
        prev = (np.asarray(last_vals, dtype=np.float64)
                if last_wid >= 0 else None)
        for wid in sorted(open_map):
            if (wid + 1) * wus > wm_us:
                break  # still open; later windows are too
            buckets = open_map.pop(wid)
            vals = np.zeros(W, dtype=np.float64)
            for p, v in buckets.items():
                vals[p] = v
            if prev is not None:
                zeros = np.zeros(W, dtype=np.float64)
                for mid in range(last_wid + 1, wid):
                    rows.append((mid, float(dtw_cost(prev, zeros, dist,
                                                     radius)), 0))
                    prev = zeros
                rows.append((wid, float(dtw_cost(prev, vals, dist,
                                                 radius)), len(buckets)))
            prev = vals
            last_wid = wid
        last_vals = prev.tolist() if prev is not None else []
        state.update((last_wid, last_vals,
                      [w for w in sorted(open_map)
                       for _ in open_map[w]],
                      [int(p) for w in sorted(open_map)
                       for p in open_map[w]],
                      [open_map[w][p] for w in sorted(open_map)
                       for p in open_map[w]]))
        if open_map:
            # wake this key when the watermark passes its last open
            # window, so trailing windows close without new events
            state.setTimeoutTimestamp(
                (max(open_map) + 1) * wus // 1000)
        if rows:
            yield pd.DataFrame({
                key: [key_tuple[0]] * len(rows),
                "window_start": [pd.Timestamp(w * wus, unit="us")
                                 for w, _, _ in rows],
                "drift": [d for _, d, _ in rows],
                "n_obs": [n for _, _, n in rows]})

    return (stream_1m.withWatermark(bucket_col, watermark)
            .groupBy(key)
            .applyInPandasWithState(
                fold, out_schema, state_schema, "append",
                GroupStateTimeout.EventTimeTimeout))
