"""Streaming 1m-tier ingest (SURVEY.md §2.9 — engine-added; the reference
is batch-only).

Pattern: ``readStream`` → ``withWatermark(ts, '10 minutes')`` →
tumbling ``window(ts, '1 minute')`` agg (``rollup_turns``, the batch
rollup's own definition) → ``foreachBatch`` MERGE into the catalog's 1m
tier table. Late data within the watermark updates buckets; beyond it is
dropped (counted by Spark's own stateful-op metrics). The DTW/DBA layers
always read materialized tiers in batch, so golden-value parity is
independent of streaming timing.

The refresh is catalog-only: ingest MERGEs the tier table and appends
each changed batch to a change feed directory; chunk maintenance streams
that feed to learn which chunk windows changed and re-reads those windows
from the catalog tier table, never from the feed. It is the one refresh
path: a batch delta takes the same two steps, ``rollup_turns`` and then
``TableCatalog.merge``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["streaming_rollup_1m", "start_file_ingest",
           "start_chunk_compress"]


def streaming_rollup_1m(stream: DataFrame, key: str = "conv_id",
                        ts_col: str = "ts", tool_col: str = "tool",
                        watermark: str = "10 minutes") -> DataFrame:
    """Streaming turn→1m aggregation: ``rollup_turns`` over the
    watermarked stream, so batch and streaming share one definition."""
    from ..operators.rollup import rollup_turns
    return rollup_turns(stream.withWatermark(ts_col, watermark), "1m", key,
                        ts_col, tool_col)


def start_file_ingest(spark: SparkSession, src_dir: str, tier_dir: str,
                      checkpoint_dir: str, schema, catalog,
                      table: str) -> "StreamingQuery":
    """File-source ingest → per-batch MERGE into ``catalog``'s ``table``.

    foreachBatch gives the MERGE semantics parquet lacks: each
    micro-batch's ``update``-mode re-emissions upsert into ``table``
    (a sources.storage.TableCatalog table) keyed on (conv_id, bucket), so
    a bucket updated across micro-batches converges to its final value
    instead of appearing twice (on Iceberg this call site becomes MERGE
    INTO). Each changed batch is then appended to ``tier_dir``, a CHANGE
    FEED for downstream streams (start_chunk_compress): it may hold stale
    re-emissions of the same bucket, so it marks *which* rows changed while
    the catalog table stays the source of truth.

    A batch that changes no bucket, such as the no-data batch Spark runs
    to advance the watermark, merges nothing and appends nothing to the
    feed, so the catalog gains a snapshot only when the tier changed.
    """
    stream = spark.readStream.schema(schema).parquet(src_dir)
    agg = streaming_rollup_1m(stream)

    def upsert(batch_df: DataFrame, batch_id: int):
        # runs the stateful batch once (its state store commits) and cuts
        # the source lineage
        batch_df = batch_df.localCheckpoint()
        if batch_df.isEmpty():
            return  # watermark-only batch: no bucket changed
        catalog.merge(table, batch_df, ["conv_id", "bucket"])
        (batch_df.withColumn("day", F.to_date("bucket"))
         .write.mode("append").partitionBy("day").parquet(tier_dir))

    return (agg.writeStream.outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(upsert)
            .trigger(availableNow=True)
            .start())


def start_chunk_compress(spark: SparkSession, tier_dir: str, catalog,
                         table: str, checkpoint_dir: str, tier: str = "1m",
                         chunk: str = "1 day",
                         value_col: str = "turn_rate", *,
                         source_table: str) -> "StreamingQuery":
    """Streaming continuous-aggregate → Gorilla chunk maintenance: the
    tail of the north-star pipeline (turns → tier → compressed chunks),
    kept incrementally fresh.

    Streams the change feed ``tier_dir`` (start_file_ingest's); each
    micro-batch recomputes ONLY the (conv, chunk-window) chunks its rows
    touch — re-reading those windows' complete tier rows from the
    catalog's ``source_table`` (the feed marks *which* chunks changed,
    the tier table is the source of truth; the feed may hold stale
    re-emissions) — and
    MERGEs them into the catalog's chunk ``table``, so time travel over
    chunk snapshots works and readers always see whole chunks, never torn
    ones.
    """
    from ..operators.compression import compress_chunks

    # the feed's rows are the tier table's; its schema is the recorded
    # one (a partitioned feed's directory columns are added by Spark)
    stream = (spark.readStream.schema(catalog.read(source_table).schema)
              .parquet(tier_dir))

    def upsert(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        touched = (batch_df
                   .select("conv_id",
                           F.window("bucket", chunk)["start"]
                           .alias("_chunk_start"))
                   .distinct())
        full = (catalog.read(source_table)
                .withColumn("_chunk_start",
                            F.window("bucket", chunk)["start"])
                .join(F.broadcast(touched), ["conv_id", "_chunk_start"])
                .drop("_chunk_start"))
        # merge materializes the chunks once, so touched is read once
        chunks = compress_chunks(full, tier, value_col, chunk=chunk)
        catalog.merge(table, chunks, ["conv_id", "tier", "chunk_start"])

    return (stream.writeStream
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(upsert)
            .trigger(availableNow=True)
            .start())


def stateful_sessionize(stream: DataFrame, gap_minutes: int = 30,
                        key: str = "conv_id", ts_col: str = "ts",
                        watermark: str = "10 minutes") -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-conversation session tracking with an inactivity gap.

    State per key = the open session (start, last activity, turn count).
    Each micro-batch folds its rows into the state; a session closes when
    the event-time watermark passes ``last_ts + gap`` (event-time timeout),
    emitting ``(conv_id, session_start, session_end, n_turns)``. This is
    the streaming analog of the batch ``sessionize`` query — engine-added
    (SURVEY.md §2.9); the reference is batch-only.
    """
    import datetime as _dt

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField(key, T.StringType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_turns", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ])
    gap_us = gap_minutes * 60 * 1_000_000

    def fold(key_tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame({
                key: [key_tuple[0]],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
                "n_turns": [n]})
            return
        start_us, last_us, n = (state.get if state.exists
                                else (None, None, 0))
        closed = []
        # ONE sort across every Arrow chunk of this group's micro-batch:
        # a >maxRecordsPerBatch group arrives as several pdfs in arbitrary
        # order, and a per-chunk sort would misread intra-batch disorder
        # as cross-batch late data (spurious singleton sessions)
        chunks = [(pd.to_datetime(pdf[ts_col]).astype("int64") // 1000)
                  .to_numpy() for pdf in pdfs]
        if chunks:
            import numpy as _np
            ts_us = _np.sort(_np.concatenate(chunks))
            for t in ts_us:
                t = int(t)
                if start_us is None:
                    start_us, last_us, n = t, t, 1
                elif t - last_us > gap_us:
                    closed.append((start_us, last_us, n))
                    start_us, last_us, n = t, t, 1
                elif t < start_us - gap_us:
                    # older than the open session's reach: its session was
                    # already closed in an earlier batch — emit it alone
                    # rather than corrupting the open session's bounds
                    closed.append((t, t, 1))
                else:
                    # in-order, or late-but-within-gap (watermark allows
                    # cross-batch disorder): widen, never move backwards
                    start_us = min(start_us, t)
                    last_us = max(last_us, t)
                    n += 1
        state.update((start_us, last_us, n))
        # close when the watermark passes last activity + gap
        state.setTimeoutTimestamp(last_us // 1000 + gap_us // 1000)
        if closed:
            yield pd.DataFrame({
                key: [key_tuple[0]] * len(closed),
                "session_start": [pd.Timestamp(s, unit="us")
                                  for s, _, _ in closed],
                "session_end": [pd.Timestamp(e, unit="us")
                                for _, e, _ in closed],
                "n_turns": [c for _, _, c in closed]})

    return (stream.withWatermark(ts_col, watermark)
            .groupBy(key)
            .applyInPandasWithState(
                fold, out_schema, state_schema, "append",
                GroupStateTimeout.EventTimeTimeout))
