"""As-of join, rolling stats, LTTB downsample — the round-4 engine-added
time-series relational operators, against pandas/straight-line oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dynamicaxiswarping_jl_spark.kernels.lttb import lttb_indices, lttb
from dynamicaxiswarping_jl_spark.kernels.smoothing import ewma
from dynamicaxiswarping_jl_spark.operators import (
    asof_join, rolling_stats, lttb_downsample, ewma_smooth,
    assemble_series, quantile_rollup)
from dynamicaxiswarping_jl_spark.operators.rolling import delta_rate


def _mk_asof_frames(spark, seed=7, n_keys=4, n_left=60, n_right=25):
    rng = np.random.default_rng(seed)
    base = pd.Timestamp("2025-01-01")
    lrows = pd.DataFrame({
        "k": rng.integers(0, n_keys, n_left).astype(str),
        "ts": base + pd.to_timedelta(rng.integers(0, 10_000, n_left), unit="s"),
        "lval": rng.normal(size=n_left).round(3),
    })
    rrows = pd.DataFrame({
        "k": rng.integers(0, n_keys, n_right).astype(str),
        "bucket": base + pd.to_timedelta(rng.integers(0, 10_000, n_right), unit="s"),
        "rval": rng.normal(size=n_right).round(3),
    }).drop_duplicates(["k", "bucket"])
    return (spark.createDataFrame(lrows), spark.createDataFrame(rrows),
            lrows, rrows)


def _pandas_asof(lrows, rrows, direction="backward", tolerance=None):
    out = []
    for k, lg in lrows.groupby("k"):
        rg = rrows[rrows["k"] == k]
        lg = lg.sort_values("ts").reset_index(drop=True)
        if rg.empty:
            m = lg.assign(asof_ts=pd.NaT, rval=np.nan)
        else:
            m = pd.merge_asof(
                lg, rg.sort_values("bucket").reset_index(drop=True),
                left_on="ts", right_on="bucket", by="k",
                direction=direction, tolerance=tolerance)
            m = m.rename(columns={"bucket": "asof_ts"})
        out.append(m[["k", "ts", "lval", "asof_ts", "rval"]])
    return pd.concat(out, ignore_index=True)


def _cmp(spark_df, pdf_expect):
    got = (spark_df.toPandas()
           .sort_values(["k", "ts", "lval"]).reset_index(drop=True))
    exp = (pdf_expect.sort_values(["k", "ts", "lval"]).reset_index(drop=True)
           [got.columns.tolist()])
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


class TestAsofJoin:
    def test_backward_matches_pandas_merge_asof(self, spark):
        l, r, lp, rp = _mk_asof_frames(spark)
        out = asof_join(l, r, "k", left_ts="ts", right_ts="bucket", how="left")
        _cmp(out, _pandas_asof(lp, rp))

    def test_forward_matches_pandas(self, spark):
        l, r, lp, rp = _mk_asof_frames(spark, seed=11)
        out = asof_join(l, r, "k", left_ts="ts", right_ts="bucket",
                        direction="forward", how="left")
        _cmp(out, _pandas_asof(lp, rp, direction="forward"))

    def test_tolerance_voids_far_matches(self, spark):
        l, r, lp, rp = _mk_asof_frames(spark, seed=13)
        out = asof_join(l, r, "k", left_ts="ts", right_ts="bucket",
                        tolerance_s=600, how="left")
        _cmp(out, _pandas_asof(lp, rp, tolerance=pd.Timedelta(seconds=600)))

    def test_equal_timestamp_matches(self, spark):
        t = pd.Timestamp("2025-01-01 00:10:00").to_pydatetime()
        l = spark.createDataFrame(
            [("a", t, 1.0)], "k string, ts timestamp, lval double")
        r = spark.createDataFrame(
            [("a", t, 9.0)], "k string, bucket timestamp, rval double")
        row = asof_join(l, r, "k", "ts", "bucket").collect()[0]
        assert row["rval"] == 9.0 and row["asof_ts"] == row["ts"]

    def test_inner_drops_unmatched(self, spark):
        l, r, lp, rp = _mk_asof_frames(spark, seed=17)
        exp = _pandas_asof(lp, rp)
        inner = asof_join(l, r, "k", "ts", "bucket", how="inner")
        assert inner.count() == int(exp["asof_ts"].notna().sum())
        assert inner.filter(F.col("asof_ts").isNull()).count() == 0

    def test_payload_collision_raises(self, spark):
        l, r, _, _ = _mk_asof_frames(spark)
        with pytest.raises(ValueError, match="collide"):
            asof_join(l, r.withColumnRenamed("rval", "lval"), "k", "ts", "bucket")
        with pytest.raises(ValueError, match="reserved"):
            asof_join(l.withColumnRenamed("lval", "_asof_tag"), r,
                      "k", "ts", "bucket")

    def test_salted_matches_plain(self, spark):
        # random frames + a HOT key with many rows, both directions,
        # with and without tolerance — the two-phase time-block plan
        # must be row-identical to the plain single-window plan
        l, r, lp, rp = _mk_asof_frames(spark, seed=41, n_keys=3,
                                       n_left=120, n_right=40)
        hot = pd.DataFrame({
            "k": "hot",
            "ts": pd.Timestamp("2025-01-01")
            + pd.to_timedelta(np.arange(0, 40_000, 37), unit="s"),
            "lval": 1.0,
        })
        l = l.unionByName(spark.createDataFrame(hot))
        for direction in ("backward", "forward"):
            for tol in (None, 900):
                plain = asof_join(l, r, "k", "ts", "bucket",
                                  direction=direction, tolerance_s=tol,
                                  how="left").toPandas()
                salted = asof_join(l, r, "k", "ts", "bucket",
                                   direction=direction, tolerance_s=tol,
                                   how="left",
                                   salt_block_s=3600).toPandas()
                cols = sorted(plain.columns)
                pd.testing.assert_frame_equal(
                    plain[cols].sort_values(cols).reset_index(drop=True),
                    salted[cols].sort_values(cols).reset_index(drop=True))

    def test_null_payload_cell_survives(self, spark):
        # the matched right row's legitimately-NULL cell must NOT fall
        # through to an older row (struct carry, not per-column last)
        t0 = pd.Timestamp("2025-01-01")
        l = spark.createDataFrame(pd.DataFrame(
            {"k": ["a"], "ts": [t0 + pd.Timedelta(minutes=90)], "lval": [0.0]}))
        rp = pd.DataFrame({
            "k": ["a", "a"],
            "bucket": [t0, t0 + pd.Timedelta(hours=1)],
            "rval": [7.0, None],
        })
        r = spark.createDataFrame(rp)
        row = asof_join(l, r, "k", "ts", "bucket").collect()[0]
        assert row["asof_ts"] == (t0 + pd.Timedelta(hours=1)).to_pydatetime()
        assert row["rval"] is None

    def test_plan_single_shuffle_no_nested_loop(self, spark):
        l, r, _, _ = _mk_asof_frames(spark)
        plan = (asof_join(l, r, "k", "ts", "bucket")
                ._jdf.queryExecution().executedPlan().toString())
        assert "NestedLoop" not in plan and "Cartesian" not in plan
        # the union-marker form needs exactly one hash exchange (on the key)
        assert plan.count("hashpartitioning") <= 2  # initial + possible AQE read


class TestRollingStats:
    def test_matches_pandas_rolling(self, spark):
        rng = np.random.default_rng(3)
        pdf = pd.DataFrame({
            "conv_id": np.repeat([str(i) for i in range(5)], 40),
            "bucket": np.tile(
                pd.Timestamp("2025-01-01")
                + pd.to_timedelta(np.arange(40), unit="min"), 5),
            "n_events": rng.integers(0, 50, 200).astype(np.int64),
        })
        out = (rolling_stats(spark.createDataFrame(pdf), "n_events",
                             n_rows=7).toPandas()
               .sort_values(["conv_id", "bucket"]).reset_index(drop=True))
        for _, g in out.groupby("conv_id"):
            s = pd.Series(g["n_events"].to_numpy())
            roll = s.rolling(7, min_periods=1)
            np.testing.assert_array_equal(g["roll_n"], roll.count())
            np.testing.assert_array_equal(g["roll_sum"], roll.sum())
            np.testing.assert_allclose(g["roll_avg"], roll.mean(), rtol=1e-12)
            np.testing.assert_array_equal(g["roll_min"], roll.min())
            np.testing.assert_array_equal(g["roll_max"], roll.max())
            v = roll.var(ddof=1)  # NaN at n==1 == engine NULL
            np.testing.assert_allclose(
                g["roll_var"].to_numpy(dtype=float), v, rtol=1e-9, equal_nan=True)

    def test_bad_n_raises(self, spark):
        df = spark.range(1)
        with pytest.raises(ValueError, match="n_rows"):
            rolling_stats(df, "id", n_rows=0)

    def test_delta_rate_sparse_buckets(self, spark):
        # non-adjacent buckets: rate must divide by the REAL gap
        base = pd.Timestamp("2025-01-01")
        pdf = pd.DataFrame({
            "conv_id": ["a"] * 3 + ["b"] * 2,
            "bucket": [base, base + pd.Timedelta(hours=1),
                       base + pd.Timedelta(hours=4),
                       base, base + pd.Timedelta(hours=2)],
            "n_events": np.array([10, 16, 4, 5, 11], dtype=np.int64),
        })
        out = (delta_rate(spark.createDataFrame(pdf)).toPandas()
               .sort_values(["conv_id", "bucket"]).reset_index(drop=True))
        assert out["delta"].tolist()[1:3] == [6, -12]
        assert np.isnan(out["delta"].iloc[0]) or out["delta"].isna().iloc[0]
        assert out["rate"].iloc[1] == 6 / 3600
        assert out["rate"].iloc[2] == -12 / (3 * 3600)
        assert out["rate"].iloc[4] == 6 / (2 * 3600)


class TestQuantileRollup:
    def test_matches_numpy_linear_interpolation(self, spark):
        rng = np.random.default_rng(31)
        pdf = pd.DataFrame({
            "conv_id": np.repeat([str(i) for i in range(4)], 120),
            "bucket": np.tile(
                pd.Timestamp("2025-01-01")
                + pd.to_timedelta(np.arange(120), unit="min"), 4),
            "n_turns": rng.integers(0, 30, 480).astype(np.int64),
        })
        out = (quantile_rollup(spark.createDataFrame(pdf), "1h",
                               (0.5, 0.95)).toPandas()
               .sort_values(["conv_id", "bucket"]).reset_index(drop=True))
        assert len(out) == 8  # 4 convs x 2 hours
        pdf["hour"] = pdf["bucket"].dt.floor("h")
        for r in out.itertuples(index=False):
            vals = pdf[(pdf["conv_id"] == r.conv_id)
                       & (pdf["hour"] == r.bucket)]["n_turns"].to_numpy()
            # np.percentile 'linear' is the same p*(n-1) interpolation
            assert r.q50 == np.percentile(vals, 50)
            assert r.q95 == np.percentile(vals, 95)


def _lttb_straightline(y, m):
    """Independent scalar LTTB (shares no code with the kernel): same
    pinned semantics — float bucket bounds, next-bucket centroid via
    np.mean on the contiguous slice, first-max tie rule."""
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    if n <= m:
        return list(range(n))
    out = [0]
    a = 0
    every = (n - 2) / (m - 2)
    for k in range(m - 2):
        lo = 1 + int(np.floor(k * every))
        hi = 1 + int(np.floor((k + 1) * every)) if k + 1 < m - 2 else n - 1
        if k + 1 < m - 2:
            nlo = 1 + int(np.floor((k + 1) * every))
            nhi = 1 + int(np.floor((k + 2) * every)) if k + 2 < m - 2 else n - 1
        else:
            nlo, nhi = n - 1, n
        cx = float(np.mean(np.arange(nlo, nhi, dtype=np.float64)))
        cy = float(np.mean(y[nlo:nhi]))
        best, best_area = lo, -1.0
        for i in range(lo, hi):
            area = abs((a - cx) * (y[i] - y[a]) - (a - i) * (cy - y[a]))
            if area > best_area:
                best, best_area = i, area
        out.append(best)
        a = best
    out.append(n - 1)
    return out


class TestLTTB:
    def test_matches_straightline_oracle(self):
        rng = np.random.default_rng(5)
        for n, m in [(100, 10), (1000, 48), (57, 9), (10, 3), (500, 499)]:
            y = rng.normal(size=n).cumsum()
            np.testing.assert_array_equal(
                lttb_indices(y, m), _lttb_straightline(y, m))

    def test_short_series_pass_through(self):
        y = np.arange(5.0)
        idx, vals = lttb(y, 8)
        np.testing.assert_array_equal(idx, np.arange(5))
        np.testing.assert_array_equal(vals, y)

    def test_endpoints_and_spike_survive(self):
        y = np.zeros(500)
        y[237] = 100.0  # an extreme a bucket-average would smooth away
        idx = lttb_indices(y, 20)
        assert idx[0] == 0 and idx[-1] == 499
        assert 237 in idx
        assert len(idx) == 20 and np.all(np.diff(idx) > 0)

    def test_m_too_small_raises(self):
        with pytest.raises(ValueError, match="m must be"):
            lttb_indices(np.arange(10.0), 2)

    def test_ewma_matches_pandas_and_scalar(self):
        rng = np.random.default_rng(21)
        y = rng.normal(size=200).cumsum()
        got = ewma(y, 0.3)
        exp = pd.Series(y).ewm(alpha=0.3, adjust=False).mean().to_numpy()
        np.testing.assert_allclose(got, exp, rtol=1e-12)
        s = y[0]
        for t in range(1, len(y)):  # scalar recurrence, pinned order
            s = 0.3 * y[t] + 0.7 * s
        assert got[-1] == s

    def test_ewma_alpha_one_identity_and_bad_alpha(self):
        y = np.arange(5.0)
        np.testing.assert_array_equal(ewma(y, 1.0), y)
        with pytest.raises(ValueError, match="alpha"):
            ewma(y, 0.0)

    def test_ewma_spark_operator_matches_kernel(self, spark):
        rng = np.random.default_rng(23)
        rows = []
        for cid in range(4):
            n = int(rng.integers(10, 80))
            ts = (pd.Timestamp("2025-04-01")
                  + pd.to_timedelta(np.arange(n), unit="h"))
            rows.append(pd.DataFrame(
                {"conv_id": str(cid), "bucket": ts,
                 "turn_rate": rng.normal(size=n).cumsum()}))
        pdf = pd.concat(rows, ignore_index=True)
        series = assemble_series(spark.createDataFrame(pdf), "turn_rate",
                                 step_s=3600)
        out = (ewma_smooth(series, alpha=0.25).toPandas()
               .sort_values(["conv_id", "idx"]).reset_index(drop=True))
        for cid, g in pdf.groupby("conv_id"):
            y = g["turn_rate"].to_numpy()
            got = out[out["conv_id"] == cid]
            np.testing.assert_array_equal(got["raw"].to_numpy(), y)
            np.testing.assert_array_equal(got["smoothed"].to_numpy(),
                                          ewma(y, 0.25))

    def test_spark_operator_matches_kernel(self, spark):
        rng = np.random.default_rng(9)
        rows = []
        for cid in range(6):
            n = int(rng.integers(20, 300))
            ev_ts = (pd.Timestamp("2025-03-01")
                     + pd.to_timedelta(np.arange(n), unit="h"))
            vals = rng.normal(size=n).cumsum()
            rows.append(pd.DataFrame(
                {"conv_id": str(cid), "bucket": ev_ts, "turn_rate": vals}))
        tier = spark.createDataFrame(pd.concat(rows, ignore_index=True))
        series = assemble_series(tier, "turn_rate", step_s=3600)
        out = (lttb_downsample(series, m=16).toPandas()
               .sort_values(["conv_id", "sel_idx"]).reset_index(drop=True))
        for cid, pdf in pd.concat(rows, ignore_index=True).groupby("conv_id"):
            y = pdf["turn_rate"].to_numpy()
            idx, vals = lttb(y, 16)
            g = out[out["conv_id"] == cid]
            np.testing.assert_array_equal(g["sel_idx"].to_numpy(), idx)
            np.testing.assert_array_equal(g["value"].to_numpy(), vals)
            np.testing.assert_array_equal(
                g["bucket"].to_numpy(),
                pdf["bucket"].to_numpy()[idx])


class TestAdviceR04Fixes:
    def test_quantile_rollup_quoted_identifier(self, spark):
        """ADVICE r04: a value column needing backticks (spaces) must
        parse and resolve — the percentile expr quotes the identifier."""
        from dynamicaxiswarping_jl_spark.operators import quantile_rollup
        rows = [("a", f"2024-01-01 00:{m:02d}:00", float(m)) for m in range(10)]
        df = (spark.createDataFrame(rows, "conv_id string, b string, `n ev-ents` double")
              .withColumn("bucket", F.col("b").cast("timestamp")).drop("b"))
        out = quantile_rollup(df, "1h", (0.5,), value_col="n ev-ents",
                              key="conv_id").collect()
        assert len(out) == 1
        assert out[0]["q50"] == 4.5  # interpolated median of 0..9

    def test_ntz_dst_session_tz_rejected(self, spark):
        """ADVICE r04: NTZ timestamps under a DST session timezone must
        be rejected loudly by asof_join and delta_rate, and accepted
        under UTC."""
        from dynamicaxiswarping_jl_spark.operators import asof_join
        from dynamicaxiswarping_jl_spark.operators.rolling import delta_rate
        left = spark.createDataFrame(
            [("a", "2024-01-01 00:00:00", 1)],
            "k string, ts_s string, v int").select(
            "k", F.col("ts_s").cast("timestamp_ntz").alias("ts"), "v")
        right = spark.createDataFrame(
            [("a", "2024-01-01 00:00:00", 7)],
            "k string, ts_s string, busy int").select(
            "k", F.col("ts_s").cast("timestamp_ntz").alias("bucket"), "busy")
        old = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "America/New_York")
            with pytest.raises(ValueError, match="DST"):
                asof_join(left, right, "k", left_ts="ts",
                          right_ts="bucket")
            with pytest.raises(ValueError, match="DST"):
                delta_rate(right, "busy", key="k", bucket_col="bucket")
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)
        # UTC: NTZ is fine on both operators
        got = asof_join(left, right, "k", left_ts="ts",
                        right_ts="bucket").collect()
        assert len(got) == 1 and got[0]["busy"] == 7
        assert delta_rate(right, "busy", key="k",
                          bucket_col="bucket").count() == 1


class TestReviewR05Fixes:
    def test_tz_probe_catches_post_2022_rule_changes(self):
        """The fixed-offset probe must sample a wide year range: Cairo
        re-adopted DST in 2023 and Almaty changed base offset in 2024 —
        a 2021/2022-only sample declared both DST-free."""
        from dynamicaxiswarping_jl_spark.operators.asof import \
            _tz_is_fixed_offset
        assert _tz_is_fixed_offset("UTC")
        assert _tz_is_fixed_offset("+05:30")
        assert not _tz_is_fixed_offset("America/New_York")
        assert not _tz_is_fixed_offset("Africa/Cairo")
        assert not _tz_is_fixed_offset("Asia/Almaty")

    def test_rolling_stats_reserved_temp_column_rejected(self, spark):
        import datetime as dt
        from dynamicaxiswarping_jl_spark.operators import rolling_stats
        base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
        df = spark.createDataFrame(
            [("k", base, 1.0, 9.0)],
            "conv_id string, bucket timestamp, turn_rate double, "
            "`__roll_sq` double")
        with pytest.raises(ValueError, match="reserved"):
            rolling_stats(df, n_rows=3)

    def test_asof_matched_ts_col_payload_collision_rejected(self, spark):
        import datetime as dt
        from dynamicaxiswarping_jl_spark.operators import asof_join
        base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
        left = spark.createDataFrame([("k", base)],
                                     "k string, ts timestamp")
        right = spark.createDataFrame(
            [("k", base, 1.0)],
            "k string, bucket timestamp, asof_ts double")
        with pytest.raises(ValueError, match="matched_ts_col"):
            asof_join(left, right, "k", left_ts="ts", right_ts="bucket")

    def test_gapfill_interp_ntz_dst_guard(self, spark):
        from dynamicaxiswarping_jl_spark.operators import gapfill
        df = spark.createDataFrame(
            [("c", "2024-01-01 00:00:00", 1.0)],
            "conv_id string, b string, turn_rate double").select(
            "conv_id",
            F.col("b").cast("timestamp_ntz").alias("bucket"), "turn_rate")
        old = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "America/New_York")
            with pytest.raises(ValueError, match="DST"):
                gapfill(df, 60, value_cols=("turn_rate",), policy="interp")
            # zero/locf stay in the NTZ domain — no epoch route, no guard
            assert gapfill(df, 60, value_cols=("turn_rate",),
                           policy="zero").count() == 1
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)
