"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship rollup→drift pipeline on sf0.001.
``queries()`` exposes one callable per implemented operator (SURVEY.md §2);
``oracle_sql()`` gives the DuckDB-equivalent SQL for every SQL-expressible
one (non-SQL DTW/DBA/LSH ops are rows-only checked by design).

Conventions shared by both sides so value hashes match:
- session timezone UTC; tumbling windows are epoch-aligned, so
  ``window(ts, '1 minute').start == date_trunc('minute', ts)``;
- every float aggregate is rounded to 4 decimals IN BOTH engines;
- embedding math is cast to float64 in both (DuckDB: CAST(... AS DOUBLE[]));
- ties in top-k are broken by an explicit deterministic key.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dynamicaxiswarping_jl_spark.operators import (
    rollup_turns, cascade, gapfill, assemble_series,
    compress_chunks, decompress_chunks,
    drift_scores, dtwnn_search, knn_topk, dba_per_group,
    dtw_pairs, distance_profile_op, matrix_profile_op, align_to_master,
    exact_dedup, minhash_dedup, simhash_signatures, ngram_jaccard_pairs,
    embedding_neardup,
    cosine_topk, lsh_cosine_topk, ivf_cosine_topk,
    token_stats, quality_score, language_id,
    fingerprint, attach_media_metadata, image_features,
)
from dynamicaxiswarping_jl_spark.operators.multimodal import (
    audio_features, encode_avi, encode_bmp, encode_gif, encode_jpeg,
    encode_png, encode_wav, frame_sample, resize_images)
from dynamicaxiswarping_jl_spark.operators import sessionize_events
from dynamicaxiswarping_jl_spark.operators import (
    asof_join, rolling_stats, lttb_downsample, ewma_smooth)
from dynamicaxiswarping_jl_spark.operators import quantile_rollup
from dynamicaxiswarping_jl_spark.operators.rolling import delta_rate
from dynamicaxiswarping_jl_spark.sources import transcripts_df



def _r(col, d: int = 4):
    """DuckDB-compatible rounding: round(x, d) in DuckDB is
    std::round(x * 10^d) / 10^d (half away from zero on the scaled double),
    which differs from Spark's BigDecimal HALF_UP at knife-edge binary
    values (e.g. 27.10375). Emulate the scaled form so both engines round
    the same double to the same value."""
    if isinstance(col, str):
        col = F.col(col)
    f = float(10 ** d)
    return F.signum(col) * F.floor(F.abs(col) * f + F.lit(0.5)) / f


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# golden-parquet oracles for the non-SQL-expressible queries (the driver
# correctness gate runs at sf0.01; regenerate with scripts/make_goldens.py).
# SPARK_TSWARP_GOLDEN_DIR overrides for gates at other scale factors
# (scripts/check_correctness.py sets it to golden/<sf-basename> when that
# directory exists, so kernel-numerics changes are also pinned at sf0.1).
_GOLDEN_DIR = os.environ.get(
    "SPARK_TSWARP_GOLDEN_DIR",
    os.path.join(os.path.dirname(os.path.abspath(__file__)),
                 "golden", "sf0.01"))


def _events_1m(spark, sf_dir) -> DataFrame:
    """Per-user 1-minute rollup of the events stream (turn-rate analog)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id", F.window("ts", "1 minute").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("vsum"))
            .select("user_id", F.col("w.start").alias("bucket"), "n_events",
                    _r("vsum", 4).alias("value_sum")))


# --------------------------------------------------------------------------
# entry: flagship pipeline
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: events → 1m tier → gap-fill → 1h cascade → assembled
    series → banded-DTW drift scores per user (rollup + DTW end-to-end)."""
    sf = "/root/testdata/sf0.001"
    ev = _t(spark, sf, "events").withColumnRenamed("user_id", "conv_id")
    t1m = rollup_turns(ev.withColumn("conv_id", F.col("conv_id").cast("string")),
                       "1m", ts_col="ts", tool_col="event_type")
    t1h = gapfill(cascade(t1m, "1h"), 3600, policy="zero")
    t1d = gapfill(cascade(t1m, "1d"), 86400, policy="zero")
    fine = assemble_series(t1h, "turn_rate", step_s=3600)
    coarse = assemble_series(t1d, "turn_rate", step_s=86400)
    return drift_scores(fine, coarse, radius=5)


# --------------------------------------------------------------------------
# queries + oracles
# --------------------------------------------------------------------------

def q_rollup_1m(spark, sf_dir):
    return _events_1m(spark, sf_dir)


def q_rollup_1h_cascade(spark, sf_dir):
    # Spark side exercises the tier cascade (1m → 1h); the oracle rolls up
    # directly from raw — equality proves cascade re-aggregability.
    t1m = _events_1m(spark, sf_dir)
    return (t1m.groupBy("user_id", F.window("bucket", "1 hour").alias("w"))
            .agg(F.sum("n_events").alias("n_events"))
            .select("user_id", F.col("w.start").alias("bucket"), "n_events"))


def q_rollup_1d_cascade(spark, sf_dir):
    t1h = q_rollup_1h_cascade(spark, sf_dir)
    return (t1h.groupBy("user_id", F.window("bucket", "1 day").alias("w"))
            .agg(F.sum("n_events").alias("n_events"))
            .select("user_id", F.col("w.start").alias("bucket"), "n_events"))


def q_gapfill_zero(spark, sf_dir):
    t1m = _events_1m(spark, sf_dir).withColumnRenamed("user_id", "conv_id")
    gf = gapfill(t1m, 60, value_cols=("n_events",), policy="zero")
    return gf.select(F.col("conv_id").alias("user_id"), "bucket", "n_events")


def q_gapfill_locf(spark, sf_dir):
    t1m = _events_1m(spark, sf_dir).withColumnRenamed("user_id", "conv_id")
    gf = gapfill(t1m, 60, value_cols=("value_sum",), policy="locf")
    return gf.select(F.col("conv_id").alias("user_id"), "bucket",
                     _r("value_sum", 4).alias("value_locf"))


def q_sessionize(spark, sf_dir):
    """Two-phase time-block-salted sessionize (operators/sessionize.py)
    — the skew-safe plan; result identical to the one-window form (the
    DuckDB oracle IS that form)."""
    ev = _t(spark, sf_dir, "events")
    return sessionize_events(ev, key="user_id", ts_col="ts", gap_s=1800)


def q_topk_minutes(spark, sf_dir):
    t1m = _events_1m(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("n_events").desc(), F.col("bucket").asc())
    return (t1m.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("user_id", "bucket", "n_events", "rk"))


def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 _r(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                 _r(F.avg("l_quantity"), 4).alias("avg_qty"),
                 _r(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count(F.lit(1)).alias("count_order")))


def q_daily_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 _r(F.sum("o_totalprice"), 2).alias("revenue")))


def q_nation_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 _r(F.sum("o_totalprice"), 2).alias("revenue")))


def q_events_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 _r(F.avg("value"), 4).alias("avg_value"),
                 _r(F.min("value"), 4).alias("min_value"),
                 _r(F.max("value"), 4).alias("max_value")))


def q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id", "n_copies")


def q_token_stats(spark, sf_dir):
    return token_stats(_t(spark, sf_dir, "documents"))


def q_quality_score(spark, sf_dir):
    q = quality_score(_t(spark, sf_dir, "documents"))
    return q.select("doc_id",
                    _r("punct_ratio", 4).alias("punct_ratio"),
                    _r("alpha_ratio", 4).alias("alpha_ratio"),
                    _r("mean_word_len", 4).alias("mean_word_len"),
                    _r("quality", 4).alias("quality"))


def q_language_id(spark, sf_dir):
    return language_id(_t(spark, sf_dir, "documents"))


def q_docs_by_source(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (d.groupBy("source", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 _r(F.avg("n_chars"), 4).alias("avg_chars")))


def q_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").cast("string").alias("query_id"),
                       F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("q")))
    scored = cosine_topk(emb, queries, k=5)
    # deterministic ranking: rounded sim desc, vec_id asc (both engines)
    w = Window.partitionBy("query_id").orderBy(
        _r("sim", 6).desc(), F.col("vec_id").asc())
    return (scored.drop("rk").withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select("query_id", "vec_id", _r("sim", 4).alias("sim"), "rk"))


def q_embedding_norms(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    norm = F.sqrt(F.expr(
        "aggregate(embedding, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"))
    return (emb.withColumn("nrm", norm).groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"),
                 _r(F.avg("nrm"), 4).alias("avg_norm")))


def q_fingerprint_dupes(spark, sf_dir):
    # order-sensitive fingerprints: count docs per distinct fingerprint size
    fp = fingerprint(_t(spark, sf_dir, "documents"))
    return (fp.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("n"))
            .groupBy("n").agg(F.count(F.lit(1)).alias("n_fingerprints")))


def q_top_customer_revenue(spark, sf_dir):
    """3-way join (customer ⋈ orders ⋈ lineitem) → top-10 customers by
    revenue; dims broadcast, deterministic tiebreak on custkey."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    rev = (l.join(o, l["l_orderkey"] == o["o_orderkey"])
           .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
           .groupBy("c_custkey", "c_name")
           .agg(_r(F.sum(F.col("l_extendedprice")
                         * (1 - F.col("l_discount"))), 2).alias("revenue"),
                F.count(F.lit(1)).alias("n_items")))
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
    return (rev.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 10)
            .select("rk", "c_custkey", "c_name", "revenue", "n_items"))


def q_embedding_neardup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    nd = embedding_neardup(emb, threshold=0.4, mode="exact")
    return nd.select("id_a", "id_b", _r("sim", 4).alias("sim"))


def _media_from_docs(spark, sf_dir):
    """Documents reinterpreted as an opaque-binary media table (the
    container has no image/audio libs; payload bytes stand in)."""
    return (_t(spark, sf_dir, "documents")
            .select(F.col("doc_id").alias("media_id"),
                    F.encode("text", "UTF-8").alias("payload")))


def q_media_metadata(spark, sf_dir):
    media = _media_from_docs(spark, sf_dir)
    return (attach_media_metadata(media)
            .select("media_id", F.col("n_bytes").cast("long").alias("n_bytes"),
                    "mime_sniffed"))


def q_media_features(spark, sf_dir):
    """Arrow-batched fake-decode feature extraction, flattened to
    (media_id, feat_idx, v) rows — oracle-checked against a DuckDB
    re-derivation of the deterministic sha256 pseudo-decode (means then
    stds per channel, feat_idx 0-5)."""
    media = _media_from_docs(spark, sf_dir)
    feats = image_features(media, fake=True)
    return (feats.select("media_id",
                         F.posexplode("features").alias("feat_idx", "_v"))
            .select("media_id", "feat_idx", _r("_v", 4).alias("v")))


_MEDIA_BIN_SCHEMA = "media_id long, payload binary"


def _media_img_from_docs(spark, sf_dir):
    """REAL image fixture: each document becomes an 8x8 image whose
    pixels are the sha256 expansion of its text (deterministic, no
    external data) — even doc_ids as 24-bpp BMP, odd doc_ids as RGB PNG
    with the per-row 'mixed' filter cycle, so the query exercises BOTH
    real encode->decode codec paths; a bug in either breaks the golden
    match (the golden derives features from the pixel rule alone, so
    the container format must be lossless and pixel-identical)."""
    import hashlib

    import numpy as np
    import pandas as pd

    docs = (_t(spark, sf_dir, "documents")
            .select(F.col("doc_id").alias("media_id"), "text"))

    def build(batches):
        for pdf in batches:
            ids, pays = [], []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                d = hashlib.sha256(text.encode("utf-8")).digest()
                reps = (8 * 8 * 3) // len(d) + 1
                img = np.frombuffer((d * reps)[: 8 * 8 * 3],
                                    np.uint8).reshape(8, 8, 3)
                ids.append(mid)
                pays.append(bytearray(
                    encode_bmp(img) if mid % 2 == 0
                    else encode_png(img, filter_type="mixed")))
            yield pd.DataFrame({"media_id": ids, "payload": pays})

    return docs.mapInPandas(build, _MEDIA_BIN_SCHEMA)


def q_media_image_features(spark, sf_dir):
    """REAL image decode (no fake): deterministic BMP and PNG payloads
    built from documents, decoded by operators/multimodal.decode_bmp /
    decode_png via the decode_image magic-number dispatch, per-channel
    mean/std features. Golden re-derives the features independently from
    the sha256 pixel rule (scripts/make_goldens.py) — any drift in
    either encoder OR decoder breaks the hash match."""
    media = _media_img_from_docs(spark, sf_dir)
    feats = image_features(media)  # fake=False: real decode
    return (feats.select("media_id",
                         F.posexplode("features").alias("feat_idx", "_v"))
            .select("media_id", "feat_idx", _r("_v", 4).alias("v")))


def _media_gif_from_docs(spark, sf_dir):
    """REAL animation fixture: each document becomes a 2-4-frame 8x8
    animated GIF — frame f's pixels are the sha256 expansion of
    text + '@' + f, per-frame delays 300/500/700 ms from (doc_id+f) % 3.
    Deterministic, no external data; the query then exercises the actual
    GIF encode→LZW→decode→composite path, so a codec bug breaks the
    golden match (the golden derives frame features from the pixel +
    timing rules alone)."""
    import hashlib

    import numpy as np
    import pandas as pd

    docs = (_t(spark, sf_dir, "documents")
            .select(F.col("doc_id").alias("media_id"), "text"))

    def build(batches):
        for pdf in batches:
            ids, pays = [], []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                nf = 2 + int(mid) % 3
                frames, delays = [], []
                for fidx in range(nf):
                    d = hashlib.sha256(
                        f"{text}@{fidx}".encode("utf-8")).digest()
                    reps = (8 * 8 * 3) // len(d) + 1
                    frames.append(np.frombuffer(
                        (d * reps)[: 8 * 8 * 3], np.uint8).reshape(8, 8, 3))
                    delays.append(300 + 200 * ((int(mid) + fidx) % 3))
                ids.append(mid)
                pays.append(bytearray(encode_gif(frames, delays)))
            yield pd.DataFrame({"media_id": ids, "payload": pays})

    return docs.mapInPandas(build, _MEDIA_BIN_SCHEMA)


def q_media_frame_features(spark, sf_dir):
    """REAL animated-GIF frame sampling (no fake): deterministic GIF
    payloads built from documents, decoded + composited by
    operators/gif inside frame_sample(fake=False), sampled every 400 ms
    by the cumulative-delay rule, per-channel frame means. Golden
    re-derives the features independently from the sha256 pixel rule and
    the delay rule (scripts/make_goldens.py) — any drift in the GIF
    encoder, LZW, compositing, or sampling breaks the hash match."""
    media = _media_gif_from_docs(spark, sf_dir)
    fs = frame_sample(media, every_ms=400, fake=False)
    return (fs.select("media_id", "frame_idx", "t_ms",
                      F.posexplode("features").alias("feat_idx", "_v"))
            .select("media_id", "frame_idx", "t_ms", "feat_idx",
                    _r("_v", 4).alias("v")))


def q_media_resized_features(spark, sf_dir):
    """REAL resize pipeline (no fake): the BMP/PNG fixture images are
    decoded, bilinear-resampled 8x8 → 5x3 (non-integer ratio, so real
    interpolation weights fire), re-encoded as PNG by resize_images,
    then image_features decodes the resized payloads — per-channel
    mean/std over the uint8-quantized resample. Golden re-derives the
    whole chain with a straight-line scalar bilinear loop from the
    sha256 pixel rule (scripts/make_goldens.py) — pinned-order weights
    make scalar and vectorized bitwise identical."""
    media = _media_img_from_docs(spark, sf_dir)
    resized = resize_images(media, width=5, height=3, method="bilinear")
    feats = image_features(resized)
    return (feats.select("media_id",
                         F.posexplode("features").alias("feat_idx", "_v"))
            .select("media_id", "feat_idx", _r("_v", 4).alias("v")))


def _media_jpeg_from_docs(spark, sf_dir):
    """REAL lossy-image fixture: each document becomes a 16x16 image
    whose pixels are the sha256 expansion of text + '!jpeg'
    (deterministic, no external data), encoded as baseline JPEG — even
    doc_ids at quality 90 / 4:4:4, odd at quality 75 / 4:2:0, so one
    query exercises multi-block MCUs, chroma downsampling, and both
    quantization strengths. The codec's pinned integer fixed-point
    pipeline (operators/jpeg.py docstring) is what makes a lossy format
    golden-checkable: decode(encode(px)) is bitwise re-derivable without
    the engine codecs."""
    import hashlib

    import numpy as np
    import pandas as pd

    docs = (_t(spark, sf_dir, "documents")
            .select(F.col("doc_id").alias("media_id"), "text"))

    def build(batches):
        for pdf in batches:
            ids, pays = [], []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                d = hashlib.sha256(
                    f"{text}!jpeg".encode("utf-8")).digest()
                reps = (16 * 16 * 3) // len(d) + 1
                img = np.frombuffer((d * reps)[: 16 * 16 * 3],
                                    np.uint8).reshape(16, 16, 3)
                q, ss = ((90, "4:4:4") if mid % 2 == 0
                         else (75, "4:2:0"))
                ids.append(mid)
                pays.append(bytearray(
                    encode_jpeg(img, quality=q, subsampling=ss)))
            yield pd.DataFrame({"media_id": ids, "payload": pays})

    return docs.mapInPandas(build, _MEDIA_BIN_SCHEMA)


def q_media_jpeg_features(spark, sf_dir):
    """REAL lossy JPEG decode (no fake): deterministic baseline-JPEG
    payloads built from documents, decoded by operators/jpeg.decode_jpeg
    via the decode_image magic-number dispatch, per-channel mean/std
    features of the reconstruction. Golden re-derives the whole lossy
    pipeline (color transform, 4:2:0 box downsample, fDCT, quantization,
    IDCT, upsample, inverse color) from the sha256 pixel rule with an
    independent integer implementation (scripts/make_goldens.py) — any
    drift in the Huffman layer, the transforms, or their pinned rounding
    breaks the hash match."""
    media = _media_jpeg_from_docs(spark, sf_dir)
    feats = image_features(media)  # fake=False: real decode
    return (feats.select("media_id",
                         F.posexplode("features").alias("feat_idx", "_v"))
            .select("media_id", "feat_idx", _r("_v", 4).alias("v")))


def _media_avi_from_docs(spark, sf_dir):
    """REAL video fixture: each document becomes an MJPEG AVI of
    2 + doc_id % 3 frames at 16x16 — frame f's pixels are the sha256
    expansion of text + '@v' + f; even doc_ids encode at quality 90 /
    4:4:4 and 3 fps, odd at quality 75 / 4:2:0 and 2 fps (deterministic,
    no external data). The query then exercises the actual RIFF/AVI
    demux + per-frame baseline-JPEG decode + dwScale/dwRate timing, so a
    container or codec bug breaks the golden match (the golden re-derives
    frame features from the pixel rule + the independent integer lossy
    pipeline + the integer fps timing rule alone)."""
    import hashlib

    import numpy as np
    import pandas as pd

    docs = (_t(spark, sf_dir, "documents")
            .select(F.col("doc_id").alias("media_id"), "text"))

    def build(batches):
        for pdf in batches:
            ids, pays = [], []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                nf = 2 + int(mid) % 3
                frames = []
                for fidx in range(nf):
                    d = hashlib.sha256(
                        f"{text}@v{fidx}".encode("utf-8")).digest()
                    reps = (16 * 16 * 3) // len(d) + 1
                    frames.append(np.frombuffer(
                        (d * reps)[: 16 * 16 * 3],
                        np.uint8).reshape(16, 16, 3))
                q, ss, fps = ((90, "4:4:4", 3) if mid % 2 == 0
                              else (75, "4:2:0", 2))
                ids.append(mid)
                pays.append(bytearray(encode_avi(
                    frames, fps=fps, quality=q, subsampling=ss)))
            yield pd.DataFrame({"media_id": ids, "payload": pays})

    return docs.mapInPandas(build, _MEDIA_BIN_SCHEMA)


def q_media_video_features(spark, sf_dir):
    """REAL video decode (no fake): deterministic MJPEG-AVI payloads
    built from documents, demuxed + frame-decoded by operators/avi
    inside frame_sample(fake=False), sampled every 400 ms by the
    cumulative-start rule, per-channel frame means. Golden re-derives
    the features independently from the sha256 pixel rule, the
    independent integer JPEG lossy pipeline, and the ((i+1)*1000)//fps
    timing rule (scripts/make_goldens.py) — drift anywhere in the RIFF
    demux, the Huffman/DCT stages, frame timing, or sampling breaks the
    hash match."""
    media = _media_avi_from_docs(spark, sf_dir)
    fs = frame_sample(media, every_ms=400, fake=False)
    return (fs.select("media_id", "frame_idx", "t_ms",
                      F.posexplode("features").alias("feat_idx", "_v"))
            .select("media_id", "frame_idx", "t_ms", "feat_idx",
                    _r("_v", 4).alias("v")))


def q_media_audio_features(spark, sf_dir):
    """REAL WAV decode: deterministic 16-bit PCM clips built from
    documents (samples are xxhash64-derived JVM-side), encoded by
    encode_wav in a pandas UDF, decoded by decode_wav inside
    audio_features. Golden re-derives duration/rms/mean/zcr from the
    same hash rule + int16 quantization with a spec-level pure-Python
    xxhash64 — fully independent of the engine codec."""
    import numpy as np
    import pandas as pd

    docs = (_t(spark, sf_dir, "documents")
            .select(F.col("doc_id").alias("media_id"), "text"))
    n = (F.lit(160) + F.pmod(F.xxhash64("text"), F.lit(41))).cast("int")
    samp = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: (F.pmod(F.xxhash64(F.concat(F.col("text"), F.lit("#"),
                                              i.cast("string"))),
                          F.lit(2001)).cast("double") - 1000.0) / 1024.0)
    sdf = docs.select("media_id", samp.alias("samples"))

    def build(batches):
        for pdf in batches:
            ids, pays = [], []
            for mid, s in zip(pdf["media_id"], pdf["samples"]):
                x = np.asarray(s, dtype=np.float64)[:, None]
                ids.append(mid)
                pays.append(bytearray(encode_wav(x, rate=1000, bits=16)))
            yield pd.DataFrame({"media_id": ids, "payload": pays})

    media = sdf.mapInPandas(build, _MEDIA_BIN_SCHEMA)
    af = audio_features(media)
    return af.select("media_id", "duration_ms",
                     _r("rms", 6).alias("rms"),
                     _r("mean", 6).alias("mean_v"),
                     _r("zcr", 6).alias("zcr"))


# ---- non-SQL-expressible (rows-only checks) ------------------------------


def q_ivf_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").cast("string").alias("query_id"),
                       F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("q")))
    return (ivf_cosine_topk(emb, queries, k=5, n_centroids=16, nprobe=8)
            .select("query_id", "vec_id", _r("sim", 4).alias("sim"), "rk"))


def q_dbaclust_assign(spark, sf_dir):
    """Distributed DBA k-means over embedding rows treated as series
    (reference dbaclust, src/dbaclust.jl:123-357): cluster assignments +
    per-series cost. Deterministic init → stable output."""
    from dynamicaxiswarping_jl_spark.operators import dbaclust_distributed
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    series = emb.select(
        F.col("vec_id").cast("string").alias("conv_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("points"))
    assign, centers, cost, n_iter, conv = dbaclust_distributed(
        spark, series, nclust=4, iterations=3, inner_iterations=2)
    return assign.select("conv_id", "cluster_id",
                         _r("cost", 4).alias("cost"))


def q_gdtw_pairs(spark, sf_dir):
    series = _series_from_events(spark, sf_dir).filter(
        F.col("conv_id").cast("long") < 8)
    left = series.select(F.col("conv_id").alias("id_a"),
                         F.col("points").alias("a"))
    right = series.select(F.col("conv_id").alias("id_b"),
                          F.col("points").alias("b"))
    pairs = left.join(right, F.col("id_a") < F.col("id_b"))
    return (dtw_pairs(pairs, method="gdtw")
            .select("id_a", "id_b", _r("cost", 4).alias("cost")))

def q_minhash_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup(docs, k=64, bands=16, threshold=0.5)


def q_neardup_keep(spark, sf_dir):
    """End-to-end near-dup dedup: MinHash-LSH pairs → connected
    components → one kept representative per cluster."""
    from dynamicaxiswarping_jl_spark.operators import near_dedup_docs
    docs = _t(spark, sf_dir, "documents")
    return (near_dedup_docs(docs, k=64, bands=16, threshold=0.5)
            .select("doc_id", "keep_id", "is_kept"))


def q_simhash(spark, sf_dir):
    return simhash_signatures(_t(spark, sf_dir, "documents"))


def q_embedding_neardup_lsh(spark, sf_dir):
    """Scale path of embedding near-dup: sign-LSH candidate generation +
    exact rerank (recall < 1 by construction — rows-only check; the
    exact-mode query is the DuckDB-oracled baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    nd = embedding_neardup(emb, threshold=0.4, mode="lsh",
                           n_planes=4, n_tables=16)
    return nd.select("id_a", "id_b", _r("sim", 4).alias("sim"))


def q_simhash_neardup(spark, sf_dir):
    """SimHash near-dup pairs with exact recall for hamming <= 7 via the
    pigeonhole band join (JVM-only past the signature UDF)."""
    from dynamicaxiswarping_jl_spark.operators import simhash_neardup
    return simhash_neardup(_t(spark, sf_dir, "documents"),
                           max_hamming=7, n_bands=8)


def _series_from_events(spark, sf_dir):
    ev = (_t(spark, sf_dir, "events")
          .select(F.col("user_id").cast("string").alias("conv_id"), "ts",
                  F.lit(None).cast("string").alias("tool")))
    t1h = gapfill(rollup_turns(ev, "1h"), 3600, policy="zero")
    # materialized like a real continuous aggregate: several queries (and
    # the .first() query-vector probe inside one query) reuse the tier —
    # identical plan → Spark's cache manager dedups across calls
    return assemble_series(t1h, "turn_rate", step_s=3600).cache()


def q_drift_1h_1d(spark, sf_dir):
    ev = (_t(spark, sf_dir, "events")
          .select(F.col("user_id").cast("string").alias("conv_id"), "ts",
                  F.lit(None).cast("string").alias("tool")))
    t1m = rollup_turns(ev, "1m")
    # cache: plan-identical to q_gorilla_roundtrip's t1h, so Spark's cache
    # manager shares one materialization across both queries in a session
    t1h = gapfill(cascade(t1m, "1h"), 3600, policy="zero").cache()
    t1d = gapfill(cascade(t1m, "1d"), 86400, policy="zero")
    fine = assemble_series(t1h, "turn_rate", step_s=3600)
    coarse = assemble_series(t1d, "turn_rate", step_s=86400)
    return (drift_scores(fine, coarse, radius=5)
            .select("conv_id", _r("cost", 4).alias("cost"),
                    "n_fine", "n_coarse", "pruned_lb"))


def q_dtwnn_series(spark, sf_dir):
    series = _series_from_events(spark, sf_dir)
    first = series.orderBy("conv_id").first()
    qvec = [float(v) for v in first["points"][:24]]
    queries = spark.createDataFrame([("q0", qvec)],
                                    "query_id string, q array<double>")
    # cost/loc are exact + deterministic; the prune counters depend on task
    # scheduling (each task's series order) and are observability metrics —
    # they are excluded so the output is golden-parquet oracle-checkable
    return (dtwnn_search(queries, series, radius=5, n_queries=1)
            .select("query_id", _r("cost", 4).alias("cost"), "conv_id",
                    "loc"))


def q_knn_series(spark, sf_dir):
    series = _series_from_events(spark, sf_dir).filter(F.col("conv_id").cast("long") < 40)
    # re-rank on the ROUNDED cost with an id_b tie-break: knn_topk already
    # ties deterministically on the raw cost, but two neighbors whose raw
    # costs differ in ulps can collide after _r(cost, 4) — rk must follow
    # the rounded value the oracle sees
    res = knn_topk(series, k=3, radius=5).select(
        "id_a", "id_b", _r("cost", 4).alias("cost"))
    w = Window.partitionBy("id_a").orderBy(
        F.col("cost").asc(), F.col("id_b").asc())
    return res.withColumn("rk", F.row_number().over(w))


def q_dba_reps(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    series = emb.select(
        F.col("label").cast("string").alias("group_id"),
        F.col("vec_id").cast("string").alias("conv_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("points"))
    reps = dba_per_group(series.filter(F.col("conv_id").cast("long") < 200), "group_id")
    # scalar-only output (driver canon can't hash array columns): posexplode
    # the barycenter to one row per (group_id, idx) with scalar v.
    return (reps.select(
                "group_id", _r("cost", 4).alias("cost"), "converged",
                "iterations", "n_members",
                F.posexplode(F.expr("transform(center, x -> round(x, 4))"))
                 .alias("idx", "v")))


def q_gorilla_roundtrip(spark, sf_dir):
    ev = (_t(spark, sf_dir, "events")
          .select(F.col("user_id").cast("string").alias("conv_id"), "ts",
                  F.lit(None).cast("string").alias("tool")))
    t1h = gapfill(cascade(rollup_turns(ev, "1m"), "1h"), 3600,
                  policy="zero").cache()  # read twice: chunk path + verify side
    chunks = compress_chunks(t1h, "1h", "turn_rate", chunk="7 days")
    back = decompress_chunks(chunks, "turn_rate")
    # verification join: every (conv, bucket, value) must round-trip exactly
    orig = t1h.select("conv_id", F.col("bucket").cast("timestamp").alias("bucket"),
                      F.col("turn_rate").cast("double").alias("v"))
    dec = back.select("conv_id", "bucket",
                      F.col("turn_rate").alias("v2"))
    j = orig.join(dec, ["conv_id", "bucket"], "full")
    return (j.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("v") != F.col("v2"), 1).otherwise(0)).alias("n_mismatch"),
        F.sum(F.when(F.col("v").isNull() | F.col("v2").isNull(), 1).otherwise(0)).alias("n_missing")))


def q_transcripts_rollup(spark, sf_dir):
    turns = transcripts_df(spark, 50, seed=42, mean_turns=40, slices=8)
    t1h = cascade(rollup_turns(turns, "1m"), "1h")
    return (t1h.groupBy("conv_id")
            .agg(F.sum("n_turns").alias("n_turns"),
                 F.sum("tool_calls").alias("tool_calls"),
                 F.count(F.lit(1)).alias("n_buckets")))


def q_gapfill_interp(spark, sf_dir):
    t1m = _events_1m(spark, sf_dir).withColumnRenamed("user_id", "conv_id")
    gf = gapfill(t1m, 60, value_cols=("value_sum",), policy="interp")
    return gf.select(F.col("conv_id").alias("user_id"), "bucket",
                     _r("value_sum", 4).alias("value_interp"))


def q_softdtw_pairs(spark, sf_dir):
    series = _series_from_events(spark, sf_dir).filter(
        F.col("conv_id").cast("long") < 12)
    left = series.select(F.col("conv_id").alias("id_a"),
                         F.col("points").alias("a"))
    right = series.select(F.col("conv_id").alias("id_b"),
                          F.col("points").alias("b"))
    pairs = left.join(right, F.col("id_a") < F.col("id_b"))
    return (dtw_pairs(pairs, method="softdtw", gamma=0.1)
            .select("id_a", "id_b", _r("cost", 4).alias("cost")))


def q_fastdtw_pairs(spark, sf_dir):
    series = _series_from_events(spark, sf_dir).filter(
        F.col("conv_id").cast("long") < 12)
    left = series.select(F.col("conv_id").alias("id_a"),
                         F.col("points").alias("a"))
    right = series.select(F.col("conv_id").alias("id_b"),
                          F.col("points").alias("b"))
    pairs = left.join(right, F.col("id_a") < F.col("id_b"))
    return (dtw_pairs(pairs, method="fastdtw", radius=10)
            .select("id_a", "id_b", _r("cost", 4).alias("cost")))


def q_matrix_profile(spark, sf_dir):
    series = _series_from_events(spark, sf_dir).filter(
        F.col("conv_id").cast("long") < 10)
    # round nn_dist like every other float output: the golden compare is
    # bit-exact, and an unrounded column would couple golden validity to
    # the fp-reassociation level of whichever kernel path (C vs NumPy)
    # happens to be active
    return (matrix_profile_op(series, m=24, radius=5)
            .select("conv_id", "loc", _r("nn_dist", 4).alias("nn_dist"),
                    "nn_loc"))


def q_distance_profile(spark, sf_dir):
    series = _series_from_events(spark, sf_dir).filter(
        F.col("conv_id").cast("long") < 10)
    first = series.orderBy("conv_id").first()
    qvec = [float(v) for v in first["points"][:24]]
    queries = spark.createDataFrame([("q0", qvec)],
                                    "query_id string, q array<double>")
    return (distance_profile_op(queries, series, radius=5, n_queries=1)
            .select("query_id", "conv_id", "loc",
                    _r("dist", 4).alias("dist")))


def q_align_delays(spark, sf_dir):
    series = _series_from_events(spark, sf_dir)
    master = series.orderBy("conv_id").first()["points"]
    return align_to_master(series, [float(v) for v in master])


def q_lsh_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").cast("string").alias("query_id"),
                       F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("q")))
    return (lsh_cosine_topk(emb, queries, k=5, n_planes=8, n_tables=8)
            .select("query_id", "vec_id", _r("sim", 4).alias("sim"), "rk"))


def q_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    a = docs.select(F.col("doc_id").alias("id_a"))
    b = docs.select(F.col("doc_id").alias("id_b"))
    cands = a.join(b, F.col("id_a") < F.col("id_b"))
    res = ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), cands, n=3)
    return res.select("id_a", "id_b", _r("jaccard", 4).alias("jaccard"))


def q_session_windows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id",
                       F.session_window(F.col("ts").cast("timestamp"),
                                        "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    "n_events"))


def q_retention_1m(spark, sf_dir):
    from dynamicaxiswarping_jl_spark.operators import apply_retention
    t1m = _events_1m(spark, sf_dir).withColumnRenamed("user_id", "conv_id")
    kept = apply_retention(t1m, "2024-01-15 00:00:00")
    return (kept.groupBy(F.col("conv_id").alias("user_id"))
            .agg(F.count(F.lit(1)).alias("n_buckets"),
                 F.sum("n_events").alias("n_events"),
                 F.min("bucket").alias("first_bucket")))


def q_asof_tier(spark, sf_dir):
    """Events stamped with the most recent BUSY hour (>=2 events) of the
    same user — the as-of backward join (operators/asof.py, union-marker
    single-shuffle plan). The oracle is DuckDB's native ASOF JOIN, so
    the engine's equal-ts / tie / unmatched-drop semantics are pinned
    against an independent implementation of the same operator."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    busy = (q_rollup_1h_cascade(spark, sf_dir)
            .filter(F.col("n_events") >= 2)
            .withColumnRenamed("n_events", "busy_events"))
    return asof_join(ev, busy, "user_id", left_ts="ts", right_ts="bucket",
                     how="inner", matched_ts_col="asof_bucket")


def q_rolling_1h(spark, sf_dir):
    """Trailing-24h rolling stats over the hourly tier
    (operators/rolling.py — pure JVM window, pinned integer-exact
    variance expression so the DuckDB window oracle hash-matches at
    full double precision)."""
    t1h = q_rollup_1h_cascade(spark, sf_dir)
    return rolling_stats(t1h, "n_events", key="user_id",
                         bucket_col="bucket", n_rows=24)


def q_lttb_downsample(spark, sf_dir):
    """LTTB shape-preserving downsample of the gap-filled hourly series
    to 32 points per user (operators/downsample.py; algorithm semantics
    pinned in kernels/lttb.py and re-derived straight-line by the
    golden generator)."""
    series = _series_from_events(spark, sf_dir)
    return (lttb_downsample(series, m=32)
            .select("conv_id", "sel_idx", "bucket",
                    _r("value", 4).alias("value")))


def q_quantiles_1h(spark, sf_dir):
    """Per-hour EXACT p50/p95 of the per-minute event counts — the
    percentile continuous-aggregate view (operators/rollup.py:
    quantile_rollup; Spark `percentile` and DuckDB `quantile_cont`
    share the p*(n-1) linear-interpolation definition)."""
    t1m = _events_1m(spark, sf_dir)
    out = quantile_rollup(t1m, "1h", (0.5, 0.95),
                          value_col="n_events", key="user_id")
    return out.select("user_id", "bucket",
                      _r("q50", 4).alias("q50"), _r("q95", 4).alias("q95"))


def q_rate_1h(spark, sf_dir):
    """Bucket-over-bucket delta + per-second rate over the SPARSE hourly
    tier (operators/rolling.py:delta_rate) — the rate divides by the
    actual inter-bucket gap, exercised here on non-adjacent buckets;
    first row per user is NULL like SQL lag."""
    t1h = q_rollup_1h_cascade(spark, sf_dir)
    return delta_rate(t1h, "n_events", key="user_id", bucket_col="bucket")


def q_ewma_1h(spark, sf_dir):
    """EWMA smoothing (alpha=0.25 — exact in binary, so the recurrence
    is bitwise reproducible) of the gap-filled hourly series
    (operators/downsample.py:ewma_smooth; golden re-derives the same
    left-to-right recurrence scalar-wise)."""
    series = _series_from_events(spark, sf_dir)
    return (ewma_smooth(series, alpha=0.25)
            .select("conv_id", "idx", "bucket",
                    _r("raw", 4).alias("raw"),
                    _r("smoothed", 4).alias("smoothed")))


# ---- merged driver keys ---------------------------------------------------
# The external driver gate runs at most 50 queries() entries per round
# (CORRECTNESS_r04 recorded exactly the first 50 of 59 keys; r01-r03
# recorded all 47 of 47). To keep EVERY operator inside the gate, queries
# with identical (or unifiable) schemas are unioned under one key with a
# literal tag column; each part keeps its original q_* function and its
# original oracle derivation (DuckDB SQL or golden parquet), and the merged
# oracle is the same UNION ALL on the oracle side — so nothing about the
# per-part check weakens, it just rides in one driver row.


def _union_tagged(parts: list[tuple[str, DataFrame]], tag: str) -> DataFrame:
    out = None
    for name, df in parts:
        tagged = df.select(F.lit(name).alias(tag), "*")
        out = tagged if out is None else out.unionByName(tagged)
    return out


def q_dtw_pair_variants(spark, sf_dir):
    """softdtw + fastdtw + gdtw pairwise costs (identical schemas) in one
    driver row; each part golden-parquet-oracled (scripts/make_goldens.py)."""
    return _union_tagged([
        ("softdtw", q_softdtw_pairs(spark, sf_dir)),
        ("fastdtw", q_fastdtw_pairs(spark, sf_dir)),
        ("gdtw", q_gdtw_pairs(spark, sf_dir)),
    ], "method")


def q_ann_topk(spark, sf_dir):
    """sign-LSH + IVF approximate-NN top-k (identical schemas) in one
    driver row; both parts golden-parquet-oracled."""
    return _union_tagged([
        ("lsh", q_lsh_ann_topk(spark, sf_dir)),
        ("ivf", q_ivf_ann_topk(spark, sf_dir)),
    ], "method")


def q_embedding_neardup_all(spark, sf_dir):
    """Embedding near-dup, exact small-corpus path + sign-LSH scale path in
    one driver row; the exact part keeps its independent DuckDB oracle
    (UNION'd with the lsh golden in oracle_sql)."""
    return _union_tagged([
        ("exact", q_embedding_neardup(spark, sf_dir)),
        ("lsh", q_embedding_neardup_lsh(spark, sf_dir)),
    ], "mode")


def q_simhash_family(spark, sf_dir):
    """SimHash signatures + pigeonhole near-dup pairs in one driver row,
    unified to (part, id_a, id_b, v) — all integers, exact compare."""
    sig = (q_simhash(spark, sf_dir)
           .select(F.col("doc_id").alias("id_a"),
                   F.col("doc_id").alias("id_b"),
                   F.col("simhash").cast("long").alias("v")))
    pair = (q_simhash_neardup(spark, sf_dir)
            .select("id_a", "id_b", F.col("hamming").cast("long").alias("v")))
    return _union_tagged([("sig", sig), ("pair", pair)], "part")


def q_downsample_smooth(spark, sf_dir):
    """LTTB downsample + EWMA smoothing in one driver row, unified to
    (part, conv_id, idx, bucket, v1, v2); the LTTB part duplicates its
    value into v2 so no column is null."""
    lttb = (q_lttb_downsample(spark, sf_dir)
            .select("conv_id", F.col("sel_idx").alias("idx"), "bucket",
                    F.col("value").alias("v1"), F.col("value").alias("v2")))
    ewma = (q_ewma_1h(spark, sf_dir)
            .select("conv_id", "idx", "bucket",
                    F.col("raw").alias("v1"), F.col("smoothed").alias("v2")))
    return _union_tagged([("lttb", lttb), ("ewma", ewma)], "part")


def q_media_still_features(spark, sf_dir):
    """All four still-image feature paths (fake pseudo-decode, real
    BMP/PNG decode, bilinear resize pipeline, lossy JPEG decode) in one
    driver row; the fake part keeps its DuckDB-SQL oracle and the three
    real-codec parts their independent integer goldens."""
    return _union_tagged([
        ("fake", q_media_features(spark, sf_dir)),
        ("image", q_media_image_features(spark, sf_dir)),
        ("resized", q_media_resized_features(spark, sf_dir)),
        ("jpeg", q_media_jpeg_features(spark, sf_dir)),
    ], "part")


def q_media_motion_features(spark, sf_dir):
    """Animated-GIF frame sampling + MJPEG-AVI video decode (identical
    schemas) in one driver row; both parts golden-parquet-oracled."""
    return _union_tagged([
        ("gif", q_media_frame_features(spark, sf_dir)),
        ("avi", q_media_video_features(spark, sf_dir)),
    ], "part")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "rollup_1m": q_rollup_1m,
        "rollup_1h_cascade": q_rollup_1h_cascade,
        "rollup_1d_cascade": q_rollup_1d_cascade,
        "gapfill_zero": q_gapfill_zero,
        "gapfill_locf": q_gapfill_locf,
        "gapfill_interp": q_gapfill_interp,
        "sessionize": q_sessionize,
        "session_windows": q_session_windows,
        "retention_1m": q_retention_1m,
        "topk_minutes": q_topk_minutes,
        "tpch_q1": q_tpch_q1,
        "daily_revenue": q_daily_revenue,
        "nation_revenue": q_nation_revenue,
        "events_by_type": q_events_by_type,
        "dedup_exact": q_dedup_exact,
        "token_stats": q_token_stats,
        "quality_score": q_quality_score,
        "language_id": q_language_id,
        "docs_by_source": q_docs_by_source,
        "cosine_topk": q_cosine_topk,
        "embedding_norms": q_embedding_norms,
        "fingerprint_dupes": q_fingerprint_dupes,
        "asof_tier": q_asof_tier,
        "rolling_1h": q_rolling_1h,
        "quantiles_1h": q_quantiles_1h,
        "rate_1h": q_rate_1h,
        # golden-parquet-oracled (DTW/DBA/LSH family):
        "minhash_pairs": q_minhash_pairs,
        "drift_1h_1d": q_drift_1h_1d,
        "dtwnn_series": q_dtwnn_series,
        "knn_series": q_knn_series,
        "dba_reps": q_dba_reps,
        "gorilla_roundtrip": q_gorilla_roundtrip,
        "transcripts_rollup": q_transcripts_rollup,
        "matrix_profile": q_matrix_profile,
        "distance_profile": q_distance_profile,
        "align_delays": q_align_delays,
        "ngram_jaccard": q_ngram_jaccard,
        "top_customer_revenue": q_top_customer_revenue,
        "dbaclust_assign": q_dbaclust_assign,
        "neardup_keep": q_neardup_keep,
        # merged driver keys (see _union_tagged — the external gate caps
        # at 50 queries; these keep every operator inside it):
        "dtw_pair_variants": q_dtw_pair_variants,
        "ann_topk": q_ann_topk,
        "embedding_neardup": q_embedding_neardup_all,
        "simhash_neardup": q_simhash_family,
        "downsample_smooth": q_downsample_smooth,
        "media_metadata": q_media_metadata,
        "media_still_features": q_media_still_features,
        "media_audio_features": q_media_audio_features,
        "media_motion_features": q_media_motion_features,
    }


_STOP_EN = "['the','and','of','to','in','is','that','it','was','for']"
_STOP_DE = "['der','die','und','das','ist','nicht','ein','mit','auf','zu']"
_STOP_FR = "['le','la','et','les','des','est','dans','que','une','pour']"
_STOP_ES = "['el','la','de','que','los','en','una','por','con','para']"


def oracle_sql() -> dict[str, str]:
    return {
        "rollup_1m": """
            SELECT user_id, date_trunc('minute', ts) AS bucket,
                   count(*) AS n_events,
                   round(sum(value), 4) AS value_sum
            FROM events GROUP BY 1, 2
        """,
        "rollup_1h_cascade": """
            SELECT user_id, date_trunc('hour', ts) AS bucket,
                   count(*) AS n_events
            FROM events GROUP BY 1, 2
        """,
        "rollup_1d_cascade": """
            SELECT user_id, date_trunc('day', ts) AS bucket,
                   count(*) AS n_events
            FROM events GROUP BY 1, 2
        """,
        "gapfill_zero": """
            WITH t1m AS (
              SELECT user_id, date_trunc('minute', ts) AS bucket,
                     count(*) AS n_events
              FROM events GROUP BY 1, 2),
            bounds AS (
              SELECT user_id, min(bucket) mn, max(bucket) mx
              FROM t1m GROUP BY user_id),
            spine AS (
              SELECT user_id,
                     unnest(generate_series(mn, mx, INTERVAL 1 minute)) AS bucket
              FROM bounds)
            SELECT s.user_id, s.bucket,
                   coalesce(t.n_events, 0) AS n_events
            FROM spine s LEFT JOIN t1m t
              ON s.user_id = t.user_id AND s.bucket = t.bucket
        """,
        "gapfill_locf": """
            WITH t1m AS (
              SELECT user_id, date_trunc('minute', ts) AS bucket,
                     round(sum(value), 4) AS value_sum
              FROM events GROUP BY 1, 2),
            bounds AS (
              SELECT user_id, min(bucket) mn, max(bucket) mx
              FROM t1m GROUP BY user_id),
            spine AS (
              SELECT user_id,
                     unnest(generate_series(mn, mx, INTERVAL 1 minute)) AS bucket
              FROM bounds),
            joined AS (
              SELECT s.user_id, s.bucket, t.value_sum
              FROM spine s LEFT JOIN t1m t
                ON s.user_id = t.user_id AND s.bucket = t.bucket)
            SELECT user_id, bucket,
                   round(coalesce(last_value(value_sum IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0), 4)
                   AS value_locf
            FROM joined
        """,
        "gapfill_interp": """
            WITH t1m AS (
              SELECT user_id, date_trunc('minute', ts) AS bucket,
                     round(sum(value), 4) AS value_sum
              FROM events GROUP BY 1, 2),
            bounds AS (
              SELECT user_id, min(bucket) mn, max(bucket) mx
              FROM t1m GROUP BY user_id),
            spine AS (
              SELECT user_id,
                     unnest(generate_series(mn, mx, INTERVAL 1 minute)) AS bucket
              FROM bounds),
            joined AS (
              SELECT s.user_id, s.bucket, t.value_sum
              FROM spine s LEFT JOIN t1m t
                ON s.user_id = t.user_id AND s.bucket = t.bucket),
            ctx AS (
              SELECT user_id, bucket, value_sum,
                CASE WHEN value_sum IS NOT NULL THEN epoch(bucket) END AS obs_t,
                last_value(value_sum IGNORE NULLS) OVER w_b AS v0,
                first_value(value_sum IGNORE NULLS) OVER w_f AS v1,
                last_value(CASE WHEN value_sum IS NOT NULL THEN epoch(bucket) END IGNORE NULLS) OVER w_b AS t0,
                first_value(CASE WHEN value_sum IS NOT NULL THEN epoch(bucket) END IGNORE NULLS) OVER w_f AS t1
              FROM joined
              WINDOW
                w_b AS (PARTITION BY user_id ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                w_f AS (PARTITION BY user_id ORDER BY bucket
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
            SELECT user_id, bucket,
              round(CASE
                WHEN value_sum IS NOT NULL THEN value_sum
                WHEN t0 IS NULL THEN v1
                WHEN t1 IS NULL THEN v0
                WHEN t1 = t0 THEN v0
                ELSE v0 + (v1 - v0) * (epoch(bucket) - t0) / (t1 - t0)
              END, 4) AS value_interp
            FROM ctx
        """,
        "sessionize": """
            WITH lagged AS (
              SELECT user_id,
                CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       THEN 1
                     WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
              FROM events)
            SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM lagged GROUP BY user_id
        """,
        "session_windows": """
            WITH lagged AS (
              SELECT user_id, ts,
                CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       THEN 1
                     WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
              FROM events),
            islands AS (
              SELECT user_id, ts,
                sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM lagged)
            SELECT user_id, min(ts) AS session_start,
                   count(*) AS n_events
            FROM islands GROUP BY user_id, sid
        """,
        "retention_1m": """
            WITH t1m AS (
              SELECT user_id, date_trunc('minute', ts) AS bucket,
                     count(*) AS n_events
              FROM events GROUP BY 1, 2)
            SELECT user_id, count(*) AS n_buckets,
                   CAST(sum(n_events) AS BIGINT) AS n_events,
                   min(bucket) AS first_bucket
            FROM t1m WHERE bucket >= TIMESTAMP '2024-01-15 00:00:00'
            GROUP BY user_id
        """,
        "topk_minutes": """
            WITH t1m AS (
              SELECT user_id, date_trunc('minute', ts) AS bucket,
                     count(*) AS n_events
              FROM events GROUP BY 1, 2),
            ranked AS (
              SELECT user_id, bucket, n_events,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY n_events DESC, bucket ASC) AS rk
              FROM t1m)
            SELECT user_id, bucket, n_events, rk FROM ranked WHERE rk <= 3
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "daily_revenue": """
            SELECT date_trunc('day', o_orderdate) AS day,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders GROUP BY 1
        """,
        "nation_revenue": """
            SELECT n_name,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "events_by_type": """
            SELECT event_type, count(*) AS n,
                   round(avg(value), 4) AS avg_value,
                   round(min(value), 4) AS min_value,
                   round(max(value), 4) AS max_value
            FROM events GROUP BY event_type
        """,
        "ngram_jaccard": """
            WITH grams AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(length(text) - 2, 1)),
                       i -> substring(text, i, 3))) AS g
              FROM documents),
            cands AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM documents a, documents b
              WHERE a.doc_id < 20 AND b.doc_id < 20 AND a.doc_id < b.doc_id)
            SELECT c.id_a, c.id_b,
                   round(CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
                     / (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))),
                     4) AS jaccard
            FROM cands c
            JOIN grams ga ON ga.doc_id = c.id_a
            JOIN grams gb ON gb.doc_id = c.id_b
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id, count(*) AS n_copies
            FROM documents GROUP BY text
        """,
        "token_stats": r"""
            SELECT doc_id,
                   length(text) AS n_chars_obs,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
                   END AS n_tokens,
                   -- same GPT-2-style pre-tokenizer pattern as
                   -- operators/text.PRETOKEN_RE (ASCII-scoped, no
                   -- lookahead: Java regex and RE2 agree)
                   CAST(len(regexp_extract_all(text,
                       '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+'))
                       AS BIGINT) AS n_pretokens,
                   CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_bpe
            FROM documents
        """,
        "quality_score": r"""
            WITH feats AS (
              SELECT doc_id,
                CAST(length(text) AS DOUBLE) AS n,
                (CAST(length(text) AS DOUBLE)
                 - length(regexp_replace(text, '[^\w\s]', '', 'g')))
                  / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct,
                length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                  / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha,
                CAST(length(text) AS DOUBLE)
                  / greatest(CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE), 1.0) AS mwl
              FROM documents)
            SELECT doc_id,
                   round(punct, 4) AS punct_ratio,
                   round(alpha, 4) AS alpha_ratio,
                   round(mwl, 4) AS mean_word_len,
                   round((CASE WHEN n >= 20 AND n <= 20000 THEN 1.0 ELSE 0.25 END) * 0.4
                         + (1.0 - punct) * 0.2 + alpha * 0.2
                         + (CASE WHEN mwl >= 3 AND mwl <= 12 THEN 1.0 ELSE 0.0 END) * 0.2,
                         4) AS quality
            FROM feats
        """,
        "language_id": rf"""
            WITH toks AS (
              SELECT doc_id,
                     list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS tk
              FROM documents),
            hits AS (
              SELECT doc_id,
                     len(list_intersect(tk, {_STOP_EN})) AS hits_en,
                     len(list_intersect(tk, {_STOP_DE})) AS hits_de,
                     len(list_intersect(tk, {_STOP_FR})) AS hits_fr,
                     len(list_intersect(tk, {_STOP_ES})) AS hits_es
              FROM toks)
            SELECT doc_id, hits_en, hits_de, hits_fr, hits_es,
                   CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es) <= 0 THEN 'und'
                        WHEN hits_en = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'en'
                        WHEN hits_de = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'de'
                        WHEN hits_fr = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'fr'
                        ELSE 'es' END AS lang_pred
            FROM hits
        """,
        "docs_by_source": """
            SELECT source, lang, count(*) AS n_docs,
                   round(avg(n_chars), 4) AS avg_chars
            FROM documents GROUP BY source, lang
        """,
        "cosine_topk": """
            WITH q AS (
              SELECT CAST(vec_id AS VARCHAR) AS query_id,
                     CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 3),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim
              FROM embeddings e, q),
            ranked AS (
              SELECT query_id, vec_id, sim,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY round(sim, 6) DESC, vec_id ASC) AS rk
              FROM scored)
            SELECT query_id, vec_id, round(sim, 4) AS sim, rk
            FROM ranked WHERE rk <= 5
        """,
        "embedding_norms": """
            SELECT label, count(*) AS n,
                   round(avg(sqrt(list_sum(list_transform(
                     CAST(embedding AS DOUBLE[]), x -> x * x)))), 4) AS avg_norm
            FROM embeddings GROUP BY label
        """,
        "fingerprint_dupes": """
            WITH fp AS (SELECT text FROM documents),
            cnt AS (SELECT text, count(*) AS n FROM fp GROUP BY text)
            SELECT n, count(*) AS n_fingerprints FROM cnt GROUP BY n
        """,
        # merged key: exact part computed by DuckDB (independent oracle),
        # lsh scale path from its golden parquet
        "embedding_neardup": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings)
            SELECT 'exact' AS mode, a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 4) AS sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.4
            UNION ALL
            SELECT 'lsh' AS mode, id_a, id_b, sim
            FROM read_parquet('{_GOLDEN_DIR}/embedding_neardup_lsh.parquet')
        """,
        "media_metadata": """
            SELECT doc_id AS media_id,
                   octet_length(encode(text)) AS n_bytes,
                   CASE WHEN substr(text, 2, 3) = 'PNG' THEN 'image/png'
                        ELSE 'application/octet-stream' END AS mime_sniffed
            FROM documents
        """,
        # merged key: the fake pseudo-decode part computed by DuckDB
        # (independent oracle), the three real-codec parts from their
        # independent integer goldens
        "media_still_features": f"""
            WITH d AS (SELECT doc_id AS media_id, sha256(text) AS hx
                       FROM documents),
            g AS (SELECT media_id, j % 3 AS ch,
                    ((strpos('0123456789abcdef', substr(hx, 2*(j%32)+1, 1)) - 1) * 16
                   + (strpos('0123456789abcdef', substr(hx, 2*(j%32)+2, 1)) - 1)) / 255.0 AS v
                  FROM d, generate_series(0, 191) s(j)),
            agg AS (SELECT media_id, ch, avg(v) AS m, stddev_pop(v) AS s
                    FROM g GROUP BY 1, 2),
            fake AS (
              SELECT media_id, ch AS feat_idx, round(m, 4) AS v FROM agg
              UNION ALL
              SELECT media_id, ch + 3 AS feat_idx, round(s, 4) AS v FROM agg)
            SELECT 'fake' AS part, media_id, feat_idx, v FROM fake
            UNION ALL
            SELECT 'image', media_id, feat_idx, v
            FROM read_parquet('{_GOLDEN_DIR}/media_image_features.parquet')
            UNION ALL
            SELECT 'resized', media_id, feat_idx, v
            FROM read_parquet('{_GOLDEN_DIR}/media_resized_features.parquet')
            UNION ALL
            SELECT 'jpeg', media_id, feat_idx, v
            FROM read_parquet('{_GOLDEN_DIR}/media_jpeg_features.parquet')
        """,
        "media_motion_features": f"""
            SELECT 'gif' AS part, media_id, frame_idx, t_ms, feat_idx, v
            FROM read_parquet('{_GOLDEN_DIR}/media_frame_features.parquet')
            UNION ALL
            SELECT 'avi', media_id, frame_idx, t_ms, feat_idx, v
            FROM read_parquet('{_GOLDEN_DIR}/media_video_features.parquet')
        """,
        "dtw_pair_variants": f"""
            SELECT 'softdtw' AS method, id_a, id_b, cost
            FROM read_parquet('{_GOLDEN_DIR}/softdtw_pairs.parquet')
            UNION ALL
            SELECT 'fastdtw', id_a, id_b, cost
            FROM read_parquet('{_GOLDEN_DIR}/fastdtw_pairs.parquet')
            UNION ALL
            SELECT 'gdtw', id_a, id_b, cost
            FROM read_parquet('{_GOLDEN_DIR}/gdtw_pairs.parquet')
        """,
        "ann_topk": f"""
            SELECT 'lsh' AS method, query_id, vec_id, sim, rk
            FROM read_parquet('{_GOLDEN_DIR}/lsh_ann_topk.parquet')
            UNION ALL
            SELECT 'ivf', query_id, vec_id, sim, rk
            FROM read_parquet('{_GOLDEN_DIR}/ivf_ann_topk.parquet')
        """,
        "simhash_neardup": f"""
            SELECT 'sig' AS part, doc_id AS id_a, doc_id AS id_b,
                   simhash AS v
            FROM read_parquet('{_GOLDEN_DIR}/simhash.parquet')
            UNION ALL
            SELECT 'pair', id_a, id_b, CAST(hamming AS BIGINT)
            FROM read_parquet('{_GOLDEN_DIR}/simhash_neardup.parquet')
        """,
        "downsample_smooth": f"""
            SELECT 'lttb' AS part, conv_id, sel_idx AS idx, bucket,
                   value AS v1, value AS v2
            FROM read_parquet('{_GOLDEN_DIR}/lttb_downsample.parquet')
            UNION ALL
            SELECT 'ewma', conv_id, idx, bucket, raw, smoothed
            FROM read_parquet('{_GOLDEN_DIR}/ewma_1h.parquet')
        """,
        "top_customer_revenue": """
            WITH rev AS (
              SELECT c.c_custkey, c.c_name,
                     round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                       AS revenue,
                     count(*) AS n_items
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              GROUP BY c.c_custkey, c.c_name)
            SELECT CAST(row_number() OVER
                     (ORDER BY revenue DESC, c_custkey ASC) AS INT) AS rk,
                   c_custkey, c_name, revenue, n_items
            FROM rev
            ORDER BY rk LIMIT 10
        """,
        "asof_tier": """
            WITH busy AS (
              SELECT user_id, date_trunc('hour', ts) AS bucket,
                     count(*) AS busy_events
              FROM events GROUP BY 1, 2 HAVING count(*) >= 2)
            SELECT e.user_id, e.ts, e.event_id,
                   b.bucket AS asof_bucket, b.busy_events
            FROM events e ASOF JOIN busy b
              ON e.user_id = b.user_id AND e.ts >= b.bucket
        """,
        "rate_1h": """
            WITH t1h AS (
              SELECT user_id, date_trunc('hour', ts) AS bucket,
                     count(*) AS n_events
              FROM events GROUP BY 1, 2)
            SELECT user_id, bucket, n_events,
                   n_events - lag(n_events) OVER w AS delta,
                   CAST(n_events - lag(n_events) OVER w AS DOUBLE)
                     / (CAST(epoch(bucket) AS DOUBLE)
                        - CAST(epoch(lag(bucket) OVER w) AS DOUBLE))
                     AS rate
            FROM t1h
            WINDOW w AS (PARTITION BY user_id ORDER BY bucket)
        """,
        "quantiles_1h": """
            WITH t1m AS (
              SELECT user_id, date_trunc('minute', ts) AS bucket,
                     count(*) AS n_events
              FROM events GROUP BY 1, 2)
            SELECT user_id, date_trunc('hour', bucket) AS bucket,
                   round(quantile_cont(n_events, 0.5), 4) AS q50,
                   round(quantile_cont(n_events, 0.95), 4) AS q95
            FROM t1m GROUP BY 1, 2
        """,
        # rolling stats: avg/var are computed from the EXACT integer
        # window sums with the same pinned expression as the engine
        # (rolling.py docstring) — bitwise-identical doubles, no rounding
        "rolling_1h": """
            WITH t1h AS (
              SELECT user_id, date_trunc('hour', ts) AS bucket,
                     count(*) AS n_events
              FROM events GROUP BY 1, 2)
            SELECT user_id, bucket, n_events,
                   CAST(count(n_events) OVER w AS BIGINT) AS roll_n,
                   CAST(sum(n_events) OVER w AS BIGINT) AS roll_sum,
                   CAST(sum(n_events) OVER w AS DOUBLE)
                     / count(n_events) OVER w AS roll_avg,
                   CAST(min(n_events) OVER w AS BIGINT) AS roll_min,
                   CAST(max(n_events) OVER w AS BIGINT) AS roll_max,
                   CASE WHEN count(n_events) OVER w > 1 THEN
                     (CAST(sum(n_events * n_events) OVER w AS DOUBLE)
                      - CAST(sum(n_events) OVER w AS DOUBLE)
                        * CAST(sum(n_events) OVER w AS DOUBLE)
                        / count(n_events) OVER w)
                     / (count(n_events) OVER w - 1) END AS roll_var
            FROM t1h
            WINDOW w AS (PARTITION BY user_id ORDER BY bucket
                         ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        """,
        # ---- golden-parquet oracles (DTW/DBA/LSH family) -----------------
        # DuckDB can't express these; the goldens are generated by
        # scripts/make_goldens.py WITHOUT the Spark operators (pandas
        # relational plumbing + the pytest-pinned NumPy kernels + a
        # spec-derived pure-Python xxhash64) — the same golden-value oracle
        # pattern the reference uses (test/runtests.jl:491-575).
        **{name: f"SELECT * FROM read_parquet('{_GOLDEN_DIR}/{name}.parquet')"
           for name in (
               "drift_1h_1d", "dtwnn_series", "knn_series", "matrix_profile",
               "distance_profile", "align_delays", "dba_reps",
               "dbaclust_assign", "gorilla_roundtrip", "transcripts_rollup",
               "minhash_pairs", "neardup_keep", "media_audio_features")},
    }
