"""Structured Streaming 1m ingest: file source → watermarked tumbling agg →
foreachBatch MERGE into the catalog; batch-equivalence of the aggregation."""

import os

import pytest
from pyspark.sql import functions as F

from dynamicaxiswarping_jl_spark.sources import transcripts_df
from dynamicaxiswarping_jl_spark.sources.transcripts import TRANSCRIPT_SCHEMA
from dynamicaxiswarping_jl_spark.operators import rollup_turns
from dynamicaxiswarping_jl_spark.streaming import start_file_ingest


class TestStreamingIngest:
    def test_file_ingest_matches_batch_rollup(self, spark, tmp_path):
        from dynamicaxiswarping_jl_spark.sources.storage import TableCatalog
        src = str(tmp_path / "src")
        feed = str(tmp_path / "feed")
        ckpt = str(tmp_path / "ckpt")
        cat = TableCatalog(spark, str(tmp_path / "cat"))
        turns = transcripts_df(spark, 6, seed=11, mean_turns=30, slices=2)
        turns.write.mode("overwrite").parquet(src)

        q = start_file_ingest(spark, src, feed, ckpt, TRANSCRIPT_SCHEMA,
                              catalog=cat, table="tier_1m")
        q.awaitTermination(120)

        got = (cat.read("tier_1m")
               .groupBy("conv_id", "bucket")
               .agg(F.sum("n_turns").alias("n_turns"))
               .orderBy("conv_id", "bucket").collect())
        want = (rollup_turns(spark.read.parquet(src), "1m")
                .select("conv_id", "bucket", "n_turns")
                .orderBy("conv_id", "bucket").collect())
        assert got == want

    def test_ingest_is_incremental(self, spark, tmp_path):
        from dynamicaxiswarping_jl_spark.sources.storage import TableCatalog
        src = str(tmp_path / "src2")
        feed = str(tmp_path / "feed2")
        ckpt = str(tmp_path / "ckpt2")
        cat = TableCatalog(spark, str(tmp_path / "cat2"))
        t1 = transcripts_df(spark, 3, seed=13, mean_turns=20, slices=1)
        t1.write.mode("overwrite").parquet(src)
        start_file_ingest(spark, src, feed, ckpt, TRANSCRIPT_SCHEMA,
                          catalog=cat, table="tier_1m").awaitTermination(120)
        n1 = cat.read("tier_1m").count()
        # second batch of new conversations arrives
        t2 = transcripts_df(spark, 3, seed=14, mean_turns=20, slices=1)
        t2.select(F.concat(F.lit("x"), "conv_id").alias("conv_id"),
                  "turn_idx", "role", "text", "tool", "ts") \
          .write.mode("append").parquet(src)
        start_file_ingest(spark, src, feed, ckpt, TRANSCRIPT_SCHEMA,
                          catalog=cat, table="tier_1m").awaitTermination(120)
        n2 = cat.read("tier_1m").count()
        assert n2 > n1


class TestCatalogBackedIngest:
    def test_cross_tranche_bucket_converges_via_merge(self, spark, tmp_path):
        """A 1m bucket whose turns arrive split across two availableNow
        runs of the same checkpointed query must converge in the catalog
        table to its final value (MERGE on (conv_id, bucket)), not appear
        twice — while the append-only feed dir legitimately holds both
        the stale and the fresh emission (it is a change feed, not the
        tier). The chunk stream, pointed at the catalog via
        ``source_table``, must compress the merged value."""
        import datetime as dt
        from dynamicaxiswarping_jl_spark.sources.storage import TableCatalog
        from dynamicaxiswarping_jl_spark.streaming import start_chunk_compress
        from dynamicaxiswarping_jl_spark.operators import decompress_chunks

        src = str(tmp_path / "src")
        feed = str(tmp_path / "feed")
        ck_i = str(tmp_path / "ck_i")
        ck_c = str(tmp_path / "ck_c")
        cat = TableCatalog(spark, str(tmp_path / "cat"))
        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        schema = ("conv_id string, turn_idx long, role string, "
                  "text string, tool string, ts timestamp")

        def turn(i, sec):
            return ("c1", i, "user", "hi", None, t0 + dt.timedelta(seconds=sec))

        def run_once():
            start_file_ingest(spark, src, feed, ck_i, TRANSCRIPT_SCHEMA,
                              catalog=cat, table="tier_1m").awaitTermination(120)
            start_chunk_compress(spark, feed, cat, "chunks_1m", ck_c,
                                 tier="1m", chunk="1 day",
                                 source_table="tier_1m").awaitTermination(120)

        spark.createDataFrame([turn(0, 0), turn(1, 10)], schema) \
            .coalesce(1).write.mode("overwrite").parquet(src)
        run_once()
        # tranche 2: a third turn lands in the SAME minute bucket
        spark.createDataFrame([turn(2, 20), turn(3, 300)], schema) \
            .coalesce(1).write.mode("append").parquet(src)
        run_once()

        tier = {(r["bucket"], r["n_turns"])
                for r in cat.read("tier_1m").collect()}
        assert tier == {(t0, 3), (t0 + dt.timedelta(minutes=5), 1)}
        # the feed holds the t0 bucket twice (stale n=2 + merged n=3)
        feed_rows = [r["n_turns"] for r in spark.read.parquet(feed)
                     .filter(F.col("bucket") == t0).collect()]
        assert sorted(feed_rows) == [2, 3]
        # chunks were rebuilt from the catalog snapshot, not the feed
        got = {(r["bucket"], r["turn_rate"]) for r in decompress_chunks(
            cat.read("chunks_1m"), "turn_rate").collect()}
        assert got == {(t0, 3.0), (t0 + dt.timedelta(minutes=5), 1.0)}

    def test_one_pass_commits_one_tier_snapshot(self, spark, tmp_path):
        """One availableNow pass over one data file runs a data batch and
        a watermark-only batch; only the data batch changes the tier, so
        the catalog gains exactly one snapshot and the feed one append."""
        from dynamicaxiswarping_jl_spark.sources.storage import TableCatalog
        src = str(tmp_path / "src")
        feed = str(tmp_path / "feed")
        cat = TableCatalog(spark, str(tmp_path / "cat"))
        transcripts_df(spark, 3, seed=17, mean_turns=20, slices=1) \
            .coalesce(1).write.mode("overwrite").parquet(src)
        q = start_file_ingest(spark, src, feed, str(tmp_path / "ck"),
                              TRANSCRIPT_SCHEMA, catalog=cat, table="tier_1m")
        q.awaitTermination(120)
        assert len(q.recentProgress) == 2    # data batch + no-data batch
        assert len(cat.snapshots("tier_1m")) == 1
        got = (cat.read("tier_1m").select("conv_id", "bucket", "n_turns")
               .orderBy("conv_id", "bucket").collect())
        want = (rollup_turns(spark.read.parquet(src), "1m")
                .select("conv_id", "bucket", "n_turns")
                .orderBy("conv_id", "bucket").collect())
        assert got == want
        assert spark.read.parquet(feed).count() == len(want)


class TestStatefulSessionize:
    def test_sessions_close_on_watermark(self, spark, tmp_path):
        """Two micro-batch runs over a file source with a shared
        checkpoint: batch 2's late-by-an-hour turn advances the watermark
        past batch 1's session + gap, so the state times out and the
        closed session is emitted with exact bounds and turn count."""
        import datetime as dt
        from dynamicaxiswarping_jl_spark.streaming import stateful_sessionize

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

        schema = "conv_id string, ts timestamp"
        rows1 = [("c1", t0 + dt.timedelta(minutes=m)) for m in (0, 2, 5)]
        spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
            "overwrite").parquet(src)

        def run_once():
            stream = spark.readStream.schema(schema).parquet(src)
            sess = stateful_sessionize(stream, gap_minutes=30,
                                       watermark="1 minute")
            q = (sess.writeStream.outputMode("append")
                 .option("checkpointLocation", ckpt)
                 .format("parquet").option("path", out)
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)

        run_once()
        # batch 2: one turn 2h later — watermark jumps past session1+gap
        rows2 = [("c1", t0 + dt.timedelta(hours=2))]
        spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
            "append").parquet(src)
        run_once()

        got = spark.read.parquet(out).collect()
        assert len(got) == 1
        r = got[0]
        assert r["conv_id"] == "c1"
        assert r["session_start"] == t0
        assert r["session_end"] == t0 + dt.timedelta(minutes=5)
        assert r["n_turns"] == 3

    def test_in_batch_gap_splits_session(self, spark, tmp_path):
        """Turns separated by more than the gap inside ONE batch close the
        earlier session immediately (no timeout needed)."""
        import datetime as dt
        from dynamicaxiswarping_jl_spark.streaming import stateful_sessionize

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
        schema = "conv_id string, ts timestamp"
        rows = ([("c2", t0 + dt.timedelta(minutes=m)) for m in (0, 1)]
                + [("c2", t0 + dt.timedelta(hours=3))])
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        sess = stateful_sessionize(stream, gap_minutes=30,
                                   watermark="1 minute")
        q = (sess.writeStream.outputMode("append")
             .option("checkpointLocation", ckpt)
             .format("parquet").option("path", out)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r["session_start"], r["session_end"], r["n_turns"])
               for r in spark.read.parquet(out).collect()}
        assert (t0, t0 + dt.timedelta(minutes=1), 2) in got


    def test_multi_chunk_group_sorted_across_chunks(self, spark, tmp_path):
        """A group larger than one Arrow batch arrives as several pandas
        chunks in arbitrary order; the fold must sort ONCE across all of
        them — a per-chunk sort misreads intra-batch disorder as late
        data and emits spurious singleton sessions."""
        import datetime as dt
        from dynamicaxiswarping_jl_spark.streaming import stateful_sessionize

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
        schema = "conv_id string, ts timestamp"
        # descending timestamps so ANY chunk split puts later times in an
        # earlier chunk; one >gap break → exactly two sessions expected
        rows = [("c9", t0 + dt.timedelta(hours=3, minutes=m))
                for m in range(9, -1, -1)]
        rows += [("c9", t0 + dt.timedelta(minutes=m))
                 for m in range(9, -1, -1)]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(src)
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                             None)
        try:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                           "3")
            stream = spark.readStream.schema(schema).parquet(src)
            sess = stateful_sessionize(stream, gap_minutes=30,
                                       watermark="1 minute")
            q = (sess.writeStream.outputMode("append")
                 .option("checkpointLocation", ckpt)
                 .format("parquet").option("path", out)
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)
        finally:
            if old is not None:
                spark.conf.set(
                    "spark.sql.execution.arrow.maxRecordsPerBatch", old)
        got = {(r["session_start"], r["session_end"], r["n_turns"])
               for r in spark.read.parquet(out).collect()}
        # the earlier 10-turn burst closed in-batch by the 3h break; no
        # bogus singletons
        assert (t0, t0 + dt.timedelta(minutes=9), 10) in got
        assert all(c > 1 for _, _, c in got)


class TestLateEventsWithinWatermark:
    def test_late_event_does_not_shrink_session(self, spark, tmp_path):
        """A cross-batch late event (within watermark) that falls INSIDE
        the open session must widen it, not move session_end backwards or
        fire the timeout early."""
        import datetime as dt
        from dynamicaxiswarping_jl_spark.streaming import stateful_sessionize

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        schema = "conv_id string, ts timestamp"

        def run_once():
            s = spark.readStream.schema(schema).parquet(src)
            q = (stateful_sessionize(s, gap_minutes=30, watermark="20 minutes")
                 .writeStream.outputMode("append")
                 .option("checkpointLocation", ckpt)
                 .format("parquet").option("path", out)
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)

        spark.createDataFrame(
            [("c1", t0), ("c1", t0 + dt.timedelta(minutes=10))],
            schema).coalesce(1).write.mode("overwrite").parquet(src)
        run_once()
        # batch 2: a LATE event at +5min (within watermark + session)
        spark.createDataFrame(
            [("c1", t0 + dt.timedelta(minutes=5))],
            schema).coalesce(1).write.mode("append").parquet(src)
        run_once()
        # batch 3: far-future event closes the session via watermark
        spark.createDataFrame(
            [("c1", t0 + dt.timedelta(hours=3))],
            schema).coalesce(1).write.mode("append").parquet(src)
        run_once()
        got = spark.read.parquet(out).collect()
        assert len(got) == 1
        r = got[0]
        assert r["session_start"] == t0
        assert r["session_end"] == t0 + dt.timedelta(minutes=10)  # NOT +5
        assert r["n_turns"] == 3


class TestStreamingChunkCompress:
    def test_incremental_chunk_maintenance(self, spark, tmp_path):
        """Streaming tier → Gorilla chunk MERGE: after each availableNow
        pass, decompressing the catalog's chunk table reproduces exactly
        the tier rows of every touched chunk window; a second batch that
        extends a window replaces its chunk (no torn/duplicate chunks)."""
        import datetime as dt
        from dynamicaxiswarping_jl_spark.sources.storage import TableCatalog
        from dynamicaxiswarping_jl_spark.streaming import start_chunk_compress
        from dynamicaxiswarping_jl_spark.operators import decompress_chunks

        tier_dir = str(tmp_path / "tier")
        ckpt = str(tmp_path / "ckpt")
        cat = TableCatalog(spark, str(tmp_path / "cat"))
        t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

        def land_tier_rows(hours, mode):
            """MERGE tier rows into the catalog tier table and append them
            to the change feed, as start_file_ingest does."""
            rows = [("c1", t0 + dt.timedelta(hours=h), 1 + h, 0, float(1 + h))
                    for h in hours]
            df = spark.createDataFrame(
                rows, "conv_id string, bucket timestamp, n_turns long, "
                      "tool_calls long, turn_rate double")
            cat.merge("tier_1h", df, ["conv_id", "bucket"])
            df.write.mode(mode).parquet(tier_dir)

        def run_once():
            q = start_chunk_compress(spark, tier_dir, cat, "chunks_1h",
                                     ckpt, tier="1h", chunk="1 day",
                                     source_table="tier_1h")
            q.awaitTermination(120)

        def chunk_roundtrip():
            return {(r["conv_id"], r["bucket"]): r["turn_rate"]
                    for r in decompress_chunks(
                        cat.read("chunks_1h"), "turn_rate").collect()}

        land_tier_rows(range(0, 6), "overwrite")
        run_once()
        got = chunk_roundtrip()
        assert len(got) == 6
        assert got[("c1", t0 + dt.timedelta(hours=5))] == 6.0

        # batch 2 extends day 1 and opens day 2 → both chunks re-MERGEd
        land_tier_rows(range(6, 30), "append")
        run_once()
        chunks = cat.read("chunks_1h").collect()
        assert len(chunks) == 2  # one whole chunk per day, no torn rows
        assert sorted(c["n"] for c in chunks) == [6, 24]
        got = chunk_roundtrip()
        assert len(got) == 30
        for h in range(30):
            assert got[("c1", t0 + dt.timedelta(hours=h))] == float(1 + h)


class TestStreamingDrift:
    """streaming_drift: tumbling-window banded-DTW drift per conversation,
    watermark-gated — the streaming twin of the batch tier_drift signal.
    Contract under test: the FINAL emitted set depends only on the data
    (batch-equivalence across micro-batch splits) and equals a NumPy
    re-derivation of gapfill-zero windows scored with the same kernel."""

    W, BS, RADIUS = 4, 60, 1

    @staticmethod
    def _mk_rows(base):
        """3 convs over several windows of W=4 one-minute buckets:
        ca dense across 3 windows; cb with an entirely EMPTY middle
        window (synthesized-zeros path); cc a single window (emits
        nothing — no predecessor)."""
        import datetime as dt
        rows = []
        for m, v in [(0, 2.0), (1, 3.0), (2, 1.0), (3, 4.0),
                     (4, 2.0), (6, 5.0),
                     (8, 1.0), (9, 1.0), (10, 6.0), (11, 2.0)]:
            rows.append(("ca", base + dt.timedelta(minutes=m), float(v)))
        for m, v in [(0, 1.0), (2, 2.0), (8, 3.0), (11, 1.0)]:
            rows.append(("cb", base + dt.timedelta(minutes=m), float(v)))
        for m, v in [(4, 9.0), (5, 8.0)]:
            rows.append(("cc", base + dt.timedelta(minutes=m), float(v)))
        return rows

    def _oracle(self, rows, base):
        """Independent re-derivation: per conv, zero-fill windows over
        the observed span, score consecutive pairs with the kernel."""
        import numpy as np
        from dynamicaxiswarping_jl_spark.kernels import dtw_cost
        per = {}
        for cid, ts, v in rows:
            mins = int((ts - base).total_seconds() // 60)
            per.setdefault(cid, {})[mins] = v
        out = set()
        for cid, buckets in per.items():
            wids = sorted({m // self.W for m in buckets})
            lo, hi = wids[0], wids[-1]
            vecs, nobs = {}, {}
            for w in range(lo, hi + 1):
                vec = np.zeros(self.W)
                n = 0
                for m, v in buckets.items():
                    if m // self.W == w:
                        vec[m % self.W] = v
                        n += 1
                vecs[w], nobs[w] = vec, n
            for w in range(lo + 1, hi + 1):
                c = float(dtw_cost(vecs[w - 1], vecs[w], "sqeuclidean",
                                   self.RADIUS))
                out.add((cid, w * self.W, round(c, 9), nobs[w]))
        return out

    def _run_stream(self, spark, tmp_path, tranches, tag):
        """Feed tranches through one checkpointed stream; a far-future
        sentinel conv advances the watermark so every real window closes
        (and state timeouts fire) before the final read."""
        import datetime as dt
        from dynamicaxiswarping_jl_spark.streaming import streaming_drift

        src = str(tmp_path / f"src_{tag}")
        out = str(tmp_path / f"out_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        schema = "conv_id string, bucket timestamp, turn_rate double"

        def run_once():
            stream = spark.readStream.schema(schema).parquet(src)
            drift = streaming_drift(stream, window_buckets=self.W,
                                    radius=self.RADIUS,
                                    bucket_seconds=self.BS,
                                    watermark="30 minutes")
            q = (drift.writeStream.outputMode("append")
                 .option("checkpointLocation", ckpt)
                 .format("parquet").option("path", out)
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)

        mode = "overwrite"
        for tr in tranches:
            spark.createDataFrame(tr, schema).coalesce(1).write.mode(
                mode).parquet(src)
            mode = "append"
            run_once()
        base = tranches[0][0][1].replace(minute=0, second=0)
        sentinel = [("zz", base + dt.timedelta(days=2), 0.0)]
        spark.createDataFrame(sentinel, schema).coalesce(1).write.mode(
            "append").parquet(src)
        run_once()
        run_once()  # one more pass: timeout fires on the advanced watermark
        got = spark.read.parquet(out).collect()
        base_ep = base.timestamp()
        return {(r["conv_id"],
                 int((r["window_start"].timestamp() - base_ep) // 60),
                 round(r["drift"], 9), r["n_obs"])
                for r in got if r["conv_id"] != "zz"}

    def test_matches_numpy_oracle_and_is_batching_invariant(
            self, spark, tmp_path):
        import datetime as dt
        base = dt.datetime(2024, 3, 1, 9, 0, 0)
        rows = self._mk_rows(base)
        want = self._oracle(rows, base)
        assert want, "oracle produced no windows — test data broken"
        # cb's empty middle window must be in the oracle (n_obs == 0)
        assert any(cid == "cb" and n == 0 for cid, _, _, n in want)

        got_one = self._run_stream(spark, tmp_path, [rows], "one")
        assert got_one == want

        # same rows split across 3 tranches, out-of-order within the
        # 30-minute watermark: a window-2 bucket lands before the rest
        # of window 1 — the final set must not change
        t1 = [r for r in rows if r[0] == "ca"][:2] \
            + [r for r in rows if r[0] == "cb"][:1]
        t2 = [r for r in rows if r not in t1][::-1][:6]
        t3 = [r for r in rows if r not in t1 and r not in t2]
        got_split = self._run_stream(spark, tmp_path, [t1, t2, t3],
                                     "split")
        assert got_split == want

    def test_single_window_conv_emits_nothing(self, spark, tmp_path):
        import datetime as dt
        base = dt.datetime(2024, 3, 2, 7, 0, 0)
        rows = [("solo", base + dt.timedelta(minutes=m), 1.0)
                for m in range(self.W)]
        got = self._run_stream(spark, tmp_path, [rows], "solo")
        assert got == set()

    def test_non_string_key_type_preserved(self, spark, tmp_path):
        """The output key column keeps the input's type (r04 review: a
        hardcoded StringType broke long-keyed streams at the Arrow
        boundary)."""
        import datetime as dt
        from dynamicaxiswarping_jl_spark.streaming import streaming_drift

        src = str(tmp_path / "src_lk")
        out = str(tmp_path / "out_lk")
        ckpt = str(tmp_path / "ckpt_lk")
        schema = "conv_id long, bucket timestamp, turn_rate double"
        base = dt.datetime(2024, 3, 3, 8, 0, 0)
        rows = [(42, base + dt.timedelta(minutes=m), float(m + 1))
                for m in range(2 * self.W)]

        def run_once():
            stream = spark.readStream.schema(schema).parquet(src)
            drift = streaming_drift(stream, window_buckets=self.W,
                                    radius=self.RADIUS,
                                    bucket_seconds=self.BS,
                                    watermark="30 minutes")
            assert drift.schema["conv_id"].dataType.simpleString() \
                == "bigint"
            q = (drift.writeStream.outputMode("append")
                 .option("checkpointLocation", ckpt)
                 .format("parquet").option("path", out)
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)

        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(src)
        run_once()
        spark.createDataFrame(
            [(99, base + dt.timedelta(days=2), 0.0)],
            schema).coalesce(1).write.mode("append").parquet(src)
        run_once()
        run_once()
        got = [r for r in spark.read.parquet(out).collect()
               if r["conv_id"] != 99]
        assert len(got) == 1 and got[0]["conv_id"] == 42
        assert got[0]["n_obs"] == self.W
