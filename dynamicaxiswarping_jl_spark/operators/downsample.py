"""Tier-series downsampling & smoothing operators (LTTB, EWMA).

Engine-added: the north-star cascade downsamples by time-bucket
averaging (``rollup.cascade``) and the reference by resolution halving
(``compress2``, `src/fastdtw.jl:97-105`); LTTB is the third notion —
keep ``m`` real points that preserve the series' drawn shape (extremes
survive; see ``kernels/lttb.py`` for the pinned algorithm semantics).

Spark shape: one grouped-kernel pass — assembled series in (the
``array<double>`` rows ``assemble_series`` already produces, point data
stays JVM-side until the Arrow batch), NumPy LTTB per series inside
``mapInPandas``, exploded (key, sel_idx, bucket, value) rows out.
Per-row cost is O(n) with tiny constants, so the stage is
embarrassingly parallel; ``plans.fanout.spread`` guards the AQE
byte-coalescing trap like every other kernel stage.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..plans.fanout import spread

__all__ = ["lttb_downsample", "ewma_smooth"]


def lttb_downsample(series: DataFrame, m: int, key: str = "conv_id") -> DataFrame:
    """LTTB-downsample each assembled series to ``m`` points.

    Input: ``(key, t0, step_s, points array<double>)`` rows. Output one
    row per kept point: ``(key, sel_idx int — 0-based position in the
    input series, bucket timestamp — t0 + sel_idx*step_s, value)``.
    Series with ``len(points) <= m`` pass through whole (every point
    kept), mirroring the kernel's short-input rule.
    """
    if m < 3:
        raise ValueError(f"m must be >= 3, got {m}")
    # key keeps its INPUT type (integer conv ids are legal), and rows are
    # read positionally below — itertuples would mangle non-identifier
    # column names like "conv id"
    schema = T.StructType([
        T.StructField(key, series.schema[key].dataType),
        T.StructField("sel_idx", T.IntegerType()),
        T.StructField("bucket", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.lttb import lttb_indices

        for pdf in batches:
            frames = []
            for k, t0, step_s, pts in zip(pdf[key], pdf["t0"],
                                          pdf["step_s"], pdf["points"]):
                y = np.ascontiguousarray(pts, dtype=np.float64)
                idx = lttb_indices(y, m)
                t0 = pd.Timestamp(t0)
                step = pd.to_timedelta(int(step_s), unit="s")
                frames.append(pd.DataFrame({
                    key: k,
                    "sel_idx": idx.astype(np.int32),
                    "bucket": t0 + idx * step,
                    "value": y[idx],
                }))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return spread(series.select(key, "t0", "step_s", "points")).mapInPandas(run, schema)


def ewma_smooth(series: DataFrame, alpha: float, key: str = "conv_id") -> DataFrame:
    """Exponentially weighted moving average of each assembled series
    (``kernels/smoothing.py`` — recurrence order is the pinned
    contract). Output one row per point: ``(key, idx — 0-based position,
    bucket — t0 + idx*step_s, raw, smoothed)``.

    Same grouped-kernel shape as ``lttb_downsample``: point data stays
    JVM-side until the Arrow batch, O(n) per series, no shuffle beyond
    the caller's series assembly. The per-point Python recurrence costs
    ~0.1 µs — a month-long 1m-tier segment (43k points) is ~4 ms, far
    under the task floor; series are bounded by ``assemble_series``'s
    ``window=`` argument, never by turn volume.
    """
    # key type/name handling as in lttb_downsample above
    schema = T.StructType([
        T.StructField(key, series.schema[key].dataType),
        T.StructField("idx", T.IntegerType()),
        T.StructField("bucket", T.TimestampType()),
        T.StructField("raw", T.DoubleType()),
        T.StructField("smoothed", T.DoubleType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.smoothing import ewma

        for pdf in batches:
            frames = []
            for k, t0, step_s, pts in zip(pdf[key], pdf["t0"],
                                          pdf["step_s"], pdf["points"]):
                y = np.ascontiguousarray(pts, dtype=np.float64)
                s = ewma(y, alpha)
                t0 = pd.Timestamp(t0)
                step = pd.to_timedelta(int(step_s), unit="s")
                idx = np.arange(len(y), dtype=np.int32)
                frames.append(pd.DataFrame({
                    key: k, "idx": idx,
                    "bucket": t0 + idx * step, "raw": y, "smoothed": s,
                }))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return spread(series.select(key, "t0", "step_s", "points")).mapInPandas(run, schema)
