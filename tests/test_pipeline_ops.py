"""Training-data pipeline operators: dedup, similarity search, text
analysis, multimodal plumbing — on the driver testdata tables."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dynamicaxiswarping_jl_spark.operators import (
    exact_dedup, minhash_dedup, simhash_signatures, ngram_jaccard_pairs,
    cosine_topk, lsh_cosine_topk, token_stats, quality_score, language_id,
    fingerprint)
from dynamicaxiswarping_jl_spark.operators.multimodal import (
    attach_media_metadata, image_features, frame_sample, MEDIA_SCHEMA)
from dynamicaxiswarping_jl_spark.sources import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


class TestDedup:
    def test_exact_dedup_counts(self, spark, docs):
        base = docs.count()
        deduped = exact_dedup(docs)
        n = deduped.count()
        distinct_texts = docs.select("text").distinct().count()
        assert n == distinct_texts
        assert deduped.agg(F.sum("n_copies")).first()[0] == base

    def test_exact_dedup_keeps_min_id(self, spark):
        df = spark.createDataFrame(
            [(3, "same"), (1, "same"), (2, "other")], "doc_id long, text string")
        out = {r["text" if False else "doc_id"] for r in exact_dedup(df).collect()}
        assert out == {1, 2}

    def test_minhash_finds_planted_near_dups(self, spark):
        body = " ".join(f"tok{i}" for i in range(60))
        rows = [(1, body), (2, body + " extra"), (3, "completely different words here entirely")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = minhash_dedup(df, k=64, bands=16, threshold=0.5).collect()
        found = {(r.id_a, r.id_b) for r in pairs}
        assert (1, 2) in found
        assert all(p == (1, 2) for p in found)

    def test_simhash_similar_texts_close(self, spark):
        body = " ".join(f"tok{i}" for i in range(60))
        rows = [(1, body), (2, body + " extra"), (3, "别的 totally unrelated zzz qqq")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sig = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}
        ham12 = bin((sig[1] ^ sig[2]) & (2**64 - 1)).count("1")
        ham13 = bin((sig[1] ^ sig[3]) & (2**64 - 1)).count("1")
        assert ham12 < ham13

    def test_simhash_builds_its_plan_without_a_job(self, spark):
        """Building the SimHash plan over a post-shuffle frame must not
        run a Spark job: the partition probe only counts exchange-free
        plans, where the .rdd conversion is pure plan compilation."""
        docs = load_table(spark, SF, "documents")
        firsts = docs.groupBy("doc_id").agg(F.first("text").alias("text"))
        sc = spark.sparkContext
        sc.setJobGroup("simhash-plan-build", "simhash_signatures plan")
        try:
            simhash_signatures(firsts)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(
            "simhash-plan-build")) == 0

    def test_scan_splits_skips_respread_for_a_wide_single_file(
            self, spark, tmp_path):
        """One large parquet file is already split at maxSplitBytes into
        many scan tasks — the re-spread guard must not shuffle the full
        text corpus for it. Emulated by lowering maxPartitionBytes so a
        small file counts as 'wide' to Spark's own file splitter."""
        from dynamicaxiswarping_jl_spark.operators.dedup import (
            _with_shingle_hashes)
        from dynamicaxiswarping_jl_spark.plans.fanout import (
            exchange_free_partitions)
        path = str(tmp_path / "one_file")
        rows = [(i, " ".join(f"t{i}_{j}" for j in range(50)))
                for i in range(2000)]  # unique tokens → incompressible file
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.parquet(path))
        df = spark.read.parquet(path)
        assert len(df.inputFiles()) == 1
        old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            # default conf: a tiny single file really is one split
            assert exchange_free_partitions(df) == 1
            assert "Exchange" in _with_shingle_hashes(
                df, "text", 3)._jdf.queryExecution().executedPlan().toString()
            # same file under a small split size: scan is already wide
            # (re-read: a frame's file splits are fixed when it is first
            # planned, so the old frame keeps its one split)
            spark.conf.set("spark.sql.files.maxPartitionBytes", "2048b")
            df = spark.read.parquet(path)
            assert exchange_free_partitions(df) >= \
                spark.sparkContext.defaultParallelism
            assert "Exchange" not in _with_shingle_hashes(
                df, "text", 3)._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    def test_ngram_jaccard(self, spark):
        df = spark.createDataFrame(
            [(1, "hello world"), (2, "hello world"), (3, "xyzzy")],
            "doc_id long, text string")
        cands = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
        got = {(r.id_a, r.id_b): r.jaccard
               for r in ngram_jaccard_pairs(df, cands).collect()}
        assert got[(1, 2)] == pytest.approx(1.0)
        assert got[(1, 3)] < 0.2


class TestSimilarity:
    def test_cosine_topk_matches_numpy(self, spark, emb):
        pdf = emb.limit(50).toPandas()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf.embedding])
        q = V[0]
        queries = spark.createDataFrame([("q0", [float(x) for x in q])],
                                        "query_id string, q array<double>")
        got = (cosine_topk(emb.limit(50), queries, k=5)
               .orderBy("rk").toPandas())
        sims = V @ q / (np.linalg.norm(V, axis=1) * np.linalg.norm(q))
        want = np.argsort(-sims)[:5]
        assert got["vec_id"].tolist() == pdf.vec_id.to_numpy()[want].tolist()
        np.testing.assert_allclose(got["sim"], np.sort(sims)[::-1][:5], rtol=1e-9)

    def test_lsh_recall_vs_exact(self, spark, emb):
        sub = emb.limit(200).cache()
        pdf = sub.toPandas()
        q = [float(x) for x in pdf.embedding[7]]
        queries = spark.createDataFrame([("q0", q)], "query_id string, q array<double>")
        exact = set(cosine_topk(sub, queries, k=5).toPandas()["vec_id"])
        approx = set(lsh_cosine_topk(sub, queries, k=5, n_planes=8,
                                     n_tables=8).toPandas()["vec_id"])
        # self-vector must always be recovered; decent overlap expected
        assert pdf.vec_id[7] in approx
        assert len(exact & approx) >= 2


class TestText:
    def test_token_stats(self, spark):
        df = spark.createDataFrame([(1, "a b  c"), (2, ""), (3, "single")],
                                   "doc_id long, text string")
        got = {r.doc_id: r.n_tokens for r in token_stats(df).collect()}
        assert got == {1: 3, 2: 0, 3: 1}

    def test_pretoken_count_matches_python_re(self, spark):
        """The GPT-2-style pre-tokenizer count (Java regexp_count in
        codegen) must agree with Python re on the identical PRETOKEN_RE
        — same leftmost-first alternation the DuckDB oracle relies on.
        Cases cover contractions (both cases), digit runs, punctuation
        runs, unicode residue, and leading/trailing whitespace."""
        import re
        from dynamicaxiswarping_jl_spark.operators.text import PRETOKEN_RE
        cases = ["", "hello world", "it's a test, isn't it?  yes!\n\ttabs",
                 "num 1234 and x2", "'quoted' 'll", "别的 unicode 字符 m",
                 "  leading", "trailing  ", "a'b'c", "don't CAN'T won'T"]
        df = spark.createDataFrame(list(enumerate(cases)),
                                   "doc_id long, text string")
        got = {r.doc_id: r.n_pretokens
               for r in token_stats(df).collect()}
        want = {i: len(re.findall(PRETOKEN_RE, c))
                for i, c in enumerate(cases)}
        assert got == want

    def test_quality_score_ranges(self, docs):
        q = quality_score(docs).toPandas()
        assert ((q["quality"] >= 0) & (q["quality"] <= 1)).all()
        assert ((q["punct_ratio"] >= 0) & (q["punct_ratio"] <= 1)).all()

    def test_language_id(self, spark):
        df = spark.createDataFrame([
            (1, "the cat and the dog in that house is for it"),
            (2, "der hund und die katze ist nicht mit auf zu"),
            (3, "le chat et la maison est dans les que pour"),
            (4, "zzz qqq xxx")],
            "doc_id long, text string")
        got = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
        assert got[1] == "en" and got[2] == "de" and got[3] == "fr"
        assert got[4] == "und"

    def test_fingerprint_order_sensitive(self, spark):
        df = spark.createDataFrame([(1, "a b c"), (2, "c b a"), (3, "a b c")],
                                   "doc_id long, text string")
        got = {r.doc_id: r.fingerprint for r in fingerprint(df).collect()}
        assert got[1] == got[3]
        assert got[1] != got[2]


class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        rows = [(i, "image", "image/jpeg",
                 bytes([0xFF, 0xD8, 0xFF]) + bytes(f"payload{i}", "ascii"),
                 {"width": 8, "height": 8, "duration_ms": 3000})
                for i in range(4)]
        return spark.createDataFrame(rows, MEDIA_SCHEMA)

    def test_metadata_sniffing(self, media):
        got = attach_media_metadata(media).toPandas()
        assert (got["mime_sniffed"] == "image/jpeg").all()
        assert (got["n_bytes"] > 3).all()

    def test_image_features_deterministic(self, media):
        f1 = image_features(media, fake=True).orderBy("media_id").toPandas()
        f2 = image_features(media, fake=True).orderBy("media_id").toPandas()
        assert len(f1) == 4
        assert all(len(f) == 6 for f in f1["features"])
        for a, b in zip(f1["features"], f2["features"]):
            np.testing.assert_allclose(list(a), list(b))

    def test_frame_sample_shape(self, media):
        got = frame_sample(media, every_ms=1000).toPandas()
        # 3000 ms / 1000 ms → 3 frames per video
        assert (got.groupby("media_id").size() == 3).all()
        assert set(got.columns) == {"media_id", "frame_idx", "t_ms", "features"}

    def test_corrupt_jpeg_raises_not_pseudo_decodes(self, media):
        # the fixture payloads are JPEG magic + ascii junk: the REAL
        # decode path must surface ValueError (corrupt), never silently
        # pseudo-decode (baseline JPEG itself decodes for real now —
        # tests/test_jpeg.py)
        with pytest.raises(Exception, match="JPEG|truncated|corrupt"):
            image_features(media, fake=False).collect()

    def test_bmp_roundtrip_and_independent_parse(self):
        """encode_bmp → decode_bmp is exact for uint8 pixels across
        odd widths (row padding), 24/32 bpp, and top-down order — and a
        from-scratch struct parse of the encoded bytes agrees, so the
        encoder isn't just matching its own decoder's mistakes."""
        import struct as st
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            decode_bmp, encode_bmp)
        rng = np.random.default_rng(3)
        for (h, w), bpp, td in [((5, 7), 24, False), ((4, 4), 32, False),
                                ((3, 9), 24, True), ((1, 1), 24, False),
                                ((6, 2), 32, True)]:
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            blob = encode_bmp(img, bpp=bpp, top_down=td)
            out = decode_bmp(blob)
            np.testing.assert_array_equal(
                np.round(out * 255).astype(np.uint8), img, err_msg=str(
                    (h, w, bpp, td)))
            # independent parse of one pixel: header fields by spec
            off = st.unpack_from("<I", blob, 10)[0]
            ww, hh = st.unpack_from("<ii", blob, 18)
            assert (ww, abs(hh)) == (w, h)
            stride = ((w * (bpp // 8) + 3) // 4) * 4
            row0 = h - 1 if hh > 0 else 0  # image row 0's file row
            bgr = blob[off + row0 * stride: off + row0 * stride + 3]
            assert tuple(bgr) == (img[0, 0, 2], img[0, 0, 1], img[0, 0, 0])

    def test_bmp_error_paths(self):
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            decode_bmp, encode_bmp)
        with pytest.raises(ValueError, match="BM"):
            decode_bmp(b"notabitmap" * 10)
        blob = encode_bmp(np.zeros((4, 4, 3), np.uint8))
        with pytest.raises(ValueError, match="truncated"):
            decode_bmp(blob[:-8])

    def test_bmp_bitfields_masks_validated(self):
        """BI_BITFIELDS is decoded only when the channel masks say the
        default BGRA layout (r04 review): permuted masks must raise, not
        silently swap channels; 24bpp+BI_BITFIELDS is spec-invalid."""
        import struct as st
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            decode_bmp, encode_bmp)
        img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
        blob = bytearray(encode_bmp(img, bpp=32))

        def with_bitfields(masks):
            # rewrite the 40-byte info header as one with trailing
            # masks: bump data offset/header size and splice in masks
            out = bytearray(blob)
            st.pack_into("<I", out, 30, 3)  # compression = BI_BITFIELDS
            st.pack_into("<I", out, 10,
                         st.unpack_from("<I", out, 10)[0] + 12)
            return bytes(out[:54]) + st.pack("<III", *masks) + bytes(
                out[54:])

        ok = with_bitfields((0x00FF0000, 0x0000FF00, 0x000000FF))
        np.testing.assert_array_equal(
            np.round(decode_bmp(ok) * 255).astype(np.uint8), img)
        bad = with_bitfields((0x000000FF, 0x0000FF00, 0x00FF0000))
        with pytest.raises(NotImplementedError, match="masks"):
            decode_bmp(bad)
        blob24 = bytearray(encode_bmp(img, bpp=24))
        st.pack_into("<I", blob24, 30, 3)
        with pytest.raises(NotImplementedError, match="32 bpp"):
            decode_bmp(bytes(blob24))

    def test_png_roundtrip_all_filters_and_color_types(self):
        """encode_png → decode_png is exact for uint8 pixels across all
        five scanline filters (plus the per-row 'mixed' cycle), gray /
        gray+alpha / RGB / RGBA color types, and odd widths; alpha is
        dropped and gray expanded, matching decode_bmp's contract."""
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            decode_png, encode_png)
        rng = np.random.default_rng(11)
        for shape in [(5, 7, 3), (4, 4, 4), (3, 9), (1, 1, 3), (6, 2, 2),
                      (2, 13, 1)]:
            img = rng.integers(0, 256, size=shape, dtype=np.uint8)
            ref = img if img.ndim == 3 else img[:, :, None]
            nch = ref.shape[2]
            exp = {1: np.repeat(ref, 3, axis=2),
                   2: np.repeat(ref[:, :, :1], 3, axis=2),
                   3: ref, 4: ref[:, :, :3]}[nch]
            for ft in [0, 1, 2, 3, 4, "mixed"]:
                out = decode_png(encode_png(img, filter_type=ft))
                np.testing.assert_array_equal(
                    np.round(out * 255).astype(np.uint8), exp,
                    err_msg=str((shape, ft)))

    @staticmethod
    def _png_chunk(typ, data):
        import struct as st
        import zlib
        return (st.pack(">I", len(data)) + typ + data
                + st.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    def test_png_decode_matches_independent_spec_unfilter(self):
        """A PNG hand-built in this test (struct + zlib only, no engine
        code) with every filter type decodes to the pixels a straight
        per-byte spec-level unfilter reconstructs — so the vectorized
        decoder isn't just matching its own encoder's mistakes."""
        import zlib
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            decode_png)
        import struct as st
        rng = np.random.default_rng(23)
        w, h, bpp = 6, 5, 3
        stride = w * bpp
        filt = [0, 1, 2, 3, 4]
        fdata = rng.integers(0, 256, size=(h, stride), dtype=np.uint8)
        raw = b"".join(bytes([filt[y]]) + fdata[y].tobytes()
                       for y in range(h))
        blob = (b"\x89PNG\r\n\x1a\n"
                + self._png_chunk(b"IHDR",
                                  st.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
                + self._png_chunk(b"IDAT", zlib.compress(raw))
                + self._png_chunk(b"IEND", b""))
        # independent reference: per-byte loop straight off the spec
        recon = np.zeros((h, stride), dtype=np.int32)
        for y in range(h):
            for x in range(stride):
                a = recon[y, x - bpp] if x >= bpp else 0
                b_ = recon[y - 1, x] if y >= 1 else 0
                c = recon[y - 1, x - bpp] if (y >= 1 and x >= bpp) else 0
                f = filt[y]
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b_
                elif f == 3:
                    pred = (a + b_) // 2
                else:
                    p = a + b_ - c
                    pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else \
                        (b_ if pb <= pc else c)
                recon[y, x] = (int(fdata[y, x]) + pred) % 256
        out = np.round(decode_png(blob) * 255).astype(np.uint8)
        np.testing.assert_array_equal(
            out, recon.astype(np.uint8).reshape(h, w, bpp))

    def test_png_palette_and_error_paths(self):
        import zlib
        import struct as st
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            decode_png, encode_png)
        # hand-built palette PNG: indices map through PLTE
        plte = bytes(range(30))
        idx = np.array([[0, 3, 9], [1, 2, 4]], np.uint8)
        raw = b"".join(b"\x00" + r.tobytes() for r in idx)
        blob = (b"\x89PNG\r\n\x1a\n"
                + self._png_chunk(b"IHDR",
                                  st.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
                + self._png_chunk(b"PLTE", plte)
                + self._png_chunk(b"IDAT", zlib.compress(raw))
                + self._png_chunk(b"IEND", b""))
        out = np.round(decode_png(blob) * 255).astype(np.uint8)
        np.testing.assert_array_equal(
            out, np.frombuffer(plte, np.uint8).reshape(-1, 3)[idx])
        # corrupted CRC must raise, not decode garbage
        bad = bytearray(blob)
        bad[-5] ^= 0xFF  # inside IEND's CRC
        with pytest.raises(ValueError, match="CRC"):
            decode_png(bytes(bad))
        good = encode_png(np.zeros((4, 4, 3), np.uint8))
        with pytest.raises(ValueError):
            decode_png(good[:40])
        with pytest.raises(ValueError, match="signature"):
            decode_png(b"nota png" * 4)
        # interlaced and 16-bit depth are explicit NotImplemented
        ihdr_i = st.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 1)
        blob_i = (b"\x89PNG\r\n\x1a\n" + self._png_chunk(b"IHDR", ihdr_i)
                  + self._png_chunk(b"IDAT", zlib.compress(b"\x00" * 20))
                  + self._png_chunk(b"IEND", b""))
        with pytest.raises(NotImplementedError, match="interlaced"):
            decode_png(blob_i)
        ihdr_16 = st.pack(">IIBBBBB", 3, 2, 16, 2, 0, 0, 0)
        blob_16 = (b"\x89PNG\r\n\x1a\n" + self._png_chunk(b"IHDR", ihdr_16)
                   + self._png_chunk(b"IDAT", zlib.compress(b"\x00" * 40))
                   + self._png_chunk(b"IEND", b""))
        with pytest.raises(NotImplementedError, match="depth"):
            decode_png(blob_16)


    # ---- GIF ----

    def test_gif_roundtrip_animation(self):
        """encode_gif → decode_gif is exact across frames, delays,
        interlace, and palette sizes (2, 20, 256 colors)."""
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            decode_gif, encode_gif)
        rng = np.random.default_rng(31)
        pal = rng.integers(0, 256, size=(20, 3), dtype=np.uint8)
        frames = [pal[rng.integers(0, 20, size=(7, 9))] for _ in range(3)]
        got, delays = decode_gif(encode_gif(frames, [100, 250, 50]))
        assert delays == [100, 250, 50]
        for g, f in zip(got, frames):
            np.testing.assert_array_equal(
                np.round(g * 255).astype(np.uint8), f)
        # interlaced single frame
        g, _ = decode_gif(encode_gif(frames[:1], interlace=True))
        np.testing.assert_array_equal(
            np.round(g[0] * 255).astype(np.uint8), frames[0])
        # 256-color image exercises the full-byte code path + clears
        img = np.arange(256, dtype=np.uint8).reshape(16, 16)[
            :, :, None].repeat(3, axis=2)
        g, _ = decode_gif(encode_gif([img]))
        np.testing.assert_array_equal(
            np.round(g[0] * 255).astype(np.uint8), img)

    def test_gif_lzw_decoder_against_hand_built_codes(self):
        """The LZW decoder is pinned by a code stream BUILT IN THIS TEST
        (bit-packed by hand, never produced by the engine encoder),
        exercising the KwKwK code==next_code case the uncompressed-trick
        encoder can never emit: with min_code_size=2, CLEAR,1,6,EOI must
        decode to pixels [1,1,1]."""
        from dynamicaxiswarping_jl_spark.operators.gif import _lzw_decode

        def pack(codes, width):
            acc = nbits = 0
            out = bytearray()
            for c in codes:
                acc |= c << nbits
                nbits += width
                while nbits >= 8:
                    out.append(acc & 0xFF)
                    acc >>= 8
                    nbits -= 8
            if nbits:
                out.append(acc & 0xFF)
            return bytes(out)

        # clear=4, eoi=5; after CLEAR, code 1 → "1"; code 6 == next_code
        # → KwKwK → "11"; total pixels 1,1,1
        assert _lzw_decode(pack([4, 1, 6, 5], 3), 2) == bytes([1, 1, 1])
        # normal dictionary growth: 1,2,6 → "1","2",dict[6]="12" → 1,2,1,2
        assert _lzw_decode(pack([4, 1, 2, 6, 5], 3), 2) \
            == bytes([1, 2, 1, 2])
        # missing EOI raises
        with pytest.raises(ValueError, match="EOI"):
            _lzw_decode(pack([4, 1], 3), 2)

    def test_gif_deinterlace_order_matches_spec(self):
        """Stored-row → display-row map equals a straight-line spec
        derivation (passes at strides 8/8/4/2 starting 0/4/2/1)."""
        from dynamicaxiswarping_jl_spark.operators.gif import (
            _deinterlace_order)
        for h in range(1, 18):
            want = [r for r in range(0, h, 8)] \
                + [r for r in range(4, h, 8)] \
                + [r for r in range(2, h, 4)] \
                + [r for r in range(1, h, 2)]
            got = _deinterlace_order(h).tolist()
            assert got == want and sorted(got) == list(range(h)), h

    def test_gif_disposal_and_transparency_compositing(self):
        """Disposal 2 restores the frame region to the BACKGROUND color
        before the next frame; disposal 3 restores the pre-frame canvas;
        transparent pixels leave the underlying canvas visible."""
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            decode_gif, encode_gif)
        black = np.zeros(3, np.uint8)          # sorts first → bg color
        red = np.array([200, 10, 10], np.uint8)
        blue = np.array([10, 10, 200], np.uint8)
        f1 = np.tile(red, (4, 4, 1))
        f2 = np.tile(black, (4, 4, 1)).copy()  # black == transparent
        f2[0, 0] = blue
        # disposal 2: before f2, canvas resets to background (black) —
        # f2's transparent pixels show black, not f1's red
        g, _ = decode_gif(encode_gif([f1, f2], disposal=2,
                                     transparent_rgb=black))
        exp = np.tile(black, (4, 4, 1)).copy()
        exp[0, 0] = blue
        np.testing.assert_array_equal(
            np.round(g[1] * 255).astype(np.uint8), exp)
        # disposal 1 (leave): f2's transparent pixels show f1's red
        g, _ = decode_gif(encode_gif([f1, f2], disposal=1,
                                     transparent_rgb=black))
        exp = f1.copy()
        exp[0, 0] = blue
        np.testing.assert_array_equal(
            np.round(g[1] * 255).astype(np.uint8), exp)
        # disposal 3 (restore previous) ON F2 ONLY (per-frame list): f2
        # draws over f1, but before f3 the canvas reverts to f1 — f3's
        # transparent pixels show f1's red, not f2's blue pixel
        f3 = np.tile(black, (4, 4, 1)).copy()
        f3[3, 3] = blue
        g, _ = decode_gif(encode_gif([f1, f2, f3], disposal=[1, 3, 1],
                                     transparent_rgb=black))
        exp2 = f1.copy()
        exp2[0, 0] = blue
        np.testing.assert_array_equal(       # f2 composited over f1
            np.round(g[1] * 255).astype(np.uint8), exp2)
        exp3 = f1.copy()
        exp3[3, 3] = blue                    # f2's blue@(0,0) reverted
        np.testing.assert_array_equal(
            np.round(g[2] * 255).astype(np.uint8), exp3)

    def test_gif_error_paths(self):
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            decode_gif, encode_gif)
        with pytest.raises(ValueError, match="magic"):
            decode_gif(b"not a gif" * 3)
        blob = encode_gif([np.zeros((3, 3, 3), np.uint8)])
        with pytest.raises(ValueError):
            decode_gif(blob[:-4])  # trailer + data cut off
        too_many = np.array([[i % 256, i // 256, 0] for i in range(300)],
                            np.uint8).reshape(300, 1, 3)
        with pytest.raises(ValueError, match="256"):
            encode_gif([too_many])
        # a short delays list must fail loudly, not drop frames (r04
        # review: zip truncation silently lost animation frames)
        fr = [np.zeros((2, 2, 3), np.uint8), np.ones((2, 2, 3), np.uint8)]
        with pytest.raises(ValueError, match="delays"):
            encode_gif(fr, [100])
        # numpy delay arrays are accepted (no truthiness trap)
        g, d = decode_gif(encode_gif(fr, np.array([100, 200])))
        assert d == [100, 200] and len(g) == 2

    # ---- AVI (MJPEG video container) ----

    def test_avi_roundtrip_and_independent_container_parse(self):
        """encode_avi → decode_avi: every frame equals the JPEG codec's
        own decode(encode(frame)) (MJPEG = per-frame baseline JPEG) and
        delays follow the exact integer dwScale/dwRate rule. The
        container layout is then verified by an independent struct-level
        RIFF walk that shares no code with operators/avi."""
        import struct

        from dynamicaxiswarping_jl_spark.operators.avi import (
            decode_avi, encode_avi)
        from dynamicaxiswarping_jl_spark.operators.jpeg import (
            decode_jpeg, encode_jpeg)
        rng = np.random.default_rng(11)
        frames = [rng.integers(0, 256, (16, 8, 3), dtype=np.uint8)
                  for _ in range(5)]
        blob = encode_avi(frames, fps=3, quality=80, subsampling="4:2:0")
        out, delays = decode_avi(blob)
        assert len(out) == 5
        assert delays == [((i + 1) * 1000) // 3 - (i * 1000) // 3
                          for i in range(5)]
        for f, o in zip(frames, out):
            ref = decode_jpeg(encode_jpeg(f, quality=80,
                                          subsampling="4:2:0"))
            assert np.array_equal(ref, o)

        # independent container walk: RIFF size, header fields, movi
        # chunk payloads, idx1 offsets
        assert blob[:4] == b"RIFF" and blob[8:12] == b"AVI "
        assert struct.unpack_from("<I", blob, 4)[0] == len(blob) - 8
        pos, tops = 12, {}
        while pos + 8 <= len(blob):
            fcc = blob[pos:pos + 4]
            size = struct.unpack_from("<I", blob, pos + 4)[0]
            key = blob[pos + 8:pos + 12] if fcc == b"LIST" else fcc
            tops[bytes(key)] = (pos + 8, size)
            pos += 8 + size + (size & 1)
        hs, hz = tops[b"hdrl"]
        # avih immediately follows the list type; dwTotalFrames at +16,
        # dwStreams at +24, dwWidth/dwHeight at +32
        assert blob[hs + 4:hs + 8] == b"avih"
        avih = hs + 12
        assert struct.unpack_from("<I", blob, avih + 16)[0] == 5
        assert struct.unpack_from("<I", blob, avih + 24)[0] == 1
        assert struct.unpack_from("<II", blob, avih + 32) == (8, 16)
        ms, mz = tops[b"movi"]
        payloads, mpos = [], ms + 4
        while mpos + 8 <= ms + mz:
            ck = blob[mpos:mpos + 4]
            cz = struct.unpack_from("<I", blob, mpos + 4)[0]
            assert ck == b"00dc"
            payloads.append(blob[mpos + 8:mpos + 8 + cz])
            mpos += 8 + cz + (cz & 1)
        assert [decode_jpeg(p).shape for p in payloads] == [(16, 8, 3)] * 5
        idx_s, idx_z = tops[b"idx1"]
        assert idx_z == 16 * 5
        for i in range(5):
            ckid, fl, off, ln = struct.unpack_from("<4sIII", blob,
                                                   idx_s + 16 * i)
            assert ckid == b"00dc" and fl == 0x10
            # offset is relative to the 'movi' fourcc position
            chunk_at = (ms - 8 + 8) + off  # = ms + off
            assert blob[chunk_at:chunk_at + 4] == b"00dc"
            assert struct.unpack_from("<I", blob, chunk_at + 4)[0] == ln

    def test_avi_hand_built_container_with_rec_list_and_junk(self):
        """decode_avi against a hand-assembled AVI that encode_avi never
        produces: a JUNK chunk, a second (audio) stream listed first, a
        'rec ' record sub-list, a 00db chunk id, odd-size padding, and
        dwScale=2/dwRate=5 timing."""
        import struct

        from dynamicaxiswarping_jl_spark.operators.avi import decode_avi
        from dynamicaxiswarping_jl_spark.operators.jpeg import (
            decode_jpeg, encode_jpeg)

        def chunk(fcc, data):
            return fcc + struct.pack("<I", len(data)) + data \
                + (b"\x00" if len(data) & 1 else b"")

        def lst(t, body):
            return chunk(b"LIST", t + body)

        img = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
        j0 = encode_jpeg(img, quality=90, subsampling="4:4:4")
        j1 = encode_jpeg(img[::-1], quality=90, subsampling="4:4:4")
        avih = struct.pack("<IIIIIIIIII4I", 400000, 0, 0, 0, 2, 0, 2, 0,
                           16, 16, 0, 0, 0, 0)
        strh_aud = struct.pack("<4s4sIHHIIIIIIiI4h", b"auds", b"\x00" * 4,
                               0, 0, 0, 0, 1, 8000, 0, 100, 0, -1, 2,
                               0, 0, 0, 0)
        strf_aud = struct.pack("<HHIIHHH", 1, 1, 8000, 16000, 2, 16, 0)
        strh_vid = struct.pack("<4s4sIHHIIIIIIiI4h", b"vids", b"mjpg",
                               0, 0, 0, 0, 2, 5, 0, 2, 0, -1, 0,
                               0, 0, 16, 16)
        strf_vid = struct.pack("<IiiHH4sIiiII", 40, 16, 16, 1, 24,
                               b"MJPG", 16 * 16 * 3, 0, 0, 0, 0)
        hdrl = lst(b"hdrl",
                   chunk(b"avih", avih)
                   + lst(b"strl", chunk(b"strh", strh_aud)
                         + chunk(b"strf", strf_aud))
                   + lst(b"strl", chunk(b"strh", strh_vid)
                         + chunk(b"strf", strf_vid)))
        movi = lst(b"movi",
                   chunk(b"01wb", b"\x00" * 7)        # audio, odd size
                   + chunk(b"01dc", j0)               # video frame 0
                   + lst(b"rec ", chunk(b"01db", j1)  # frame 1 in a rec
                         + chunk(b"01wb", b"\x00" * 4)))
        body = b"AVI " + hdrl + chunk(b"JUNK", b"\x00" * 11) + movi
        blob = b"RIFF" + struct.pack("<I", len(body)) + body
        frames, delays = decode_avi(blob)
        assert len(frames) == 2
        assert np.array_equal(frames[0], decode_jpeg(j0))
        assert np.array_equal(frames[1], decode_jpeg(j1))
        # dwScale=2, dwRate=5 → 400 ms/frame exactly
        assert delays == [400, 400]

    def test_avi_error_paths(self):
        import struct

        from dynamicaxiswarping_jl_spark.operators.avi import (
            decode_avi, encode_avi)
        with pytest.raises(ValueError, match="magic"):
            decode_avi(b"RIFF\x10\x00\x00\x00WAVEfmt ")
        with pytest.raises(ValueError, match="magic"):
            decode_avi(b"garbage")
        blob = encode_avi([np.zeros((8, 8, 3), np.uint8)] * 2, fps=2)
        with pytest.raises(ValueError):
            decode_avi(blob[:60])              # truncated mid-header
        with pytest.raises(ValueError, match="truncated"):
            decode_avi(blob[:-10])             # RIFF size > payload
        # zero dwRate → ValueError (corrupt timing, not a crash)
        z = bytearray(blob)
        sh = z.find(b"strh") + 8
        z[sh + 24:sh + 28] = struct.pack("<I", 0)
        with pytest.raises(ValueError, match="dwRate|dwScale"):
            decode_avi(bytes(z))
        # frame dims disagreeing with BITMAPINFOHEADER → ValueError
        w = bytearray(blob)
        sf = w.find(b"strf") + 8
        w[sf + 4:sf + 8] = struct.pack("<i", 99)
        with pytest.raises(ValueError, match="dimensions"):
            decode_avi(bytes(w))
        # unsupported-but-valid codec → NotImplementedError
        h = bytearray(blob)
        for _ in range(2):
            i = h.find(b"MJPG")
            h[i:i + 4] = b"H264"
        with pytest.raises(NotImplementedError, match="H264"):
            decode_avi(bytes(h))
        with pytest.raises(ValueError, match="frame"):
            encode_avi([], fps=2)
        with pytest.raises(ValueError, match="fps"):
            encode_avi([np.zeros((4, 4, 3), np.uint8)], fps=0)
        with pytest.raises(ValueError, match="h, w"):
            encode_avi([np.zeros((4, 4, 3), np.uint8),
                        np.zeros((4, 6, 3), np.uint8)], fps=2)

    def test_avi_decode_image_and_mime_sniff(self, spark):
        """decode_image returns the AVI's first frame; the metadata
        sniffer labels RIFF containers (AVI vs WAVE) without decoding."""
        from dynamicaxiswarping_jl_spark.operators.avi import encode_avi
        from dynamicaxiswarping_jl_spark.operators.jpeg import (
            decode_jpeg, encode_jpeg)
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            decode_image, encode_wav)
        img = np.full((8, 8, 3), 37, np.uint8)
        blob = encode_avi([img, 255 - img], fps=1, quality=90)
        first = decode_image(blob)
        assert np.array_equal(first, decode_jpeg(
            encode_jpeg(img, quality=90, subsampling="4:4:4")))
        wav = encode_wav(np.zeros((16, 1)), rate=8000, bits=16)
        rows = [(1, "video", "", bytes(blob), None),
                (2, "audio", "", bytes(wav), None),
                (3, "text", "", b"plain bytes", None)]
        got = {r["media_id"]: r["mime_sniffed"]
               for r in attach_media_metadata(
                   spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
        assert got == {1: "video/x-msvideo", 2: "audio/wav",
                       3: "application/octet-stream"}

    def test_frame_sample_real_avi_spark_path(self, spark):
        """frame_sample(fake=False) dispatches GIF and AVI payloads in
        the same batch; AVI features equal a local re-derivation from
        decode_avi + the cumulative-start sampling rule."""
        from dynamicaxiswarping_jl_spark.operators.avi import (
            decode_avi, encode_avi)
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            decode_gif, encode_gif, frame_sample)
        rng = np.random.default_rng(23)
        rows, want = [], {}
        for mid in range(2):
            frames = [rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
                      for _ in range(mid + 2)]
            blob = bytes(encode_avi(frames, fps=2, quality=85))
            rows.append((mid, "video", "video/x-msvideo", blob, None))
            dec, dl = decode_avi(blob)
            starts = np.concatenate([[0], np.cumsum(dl)[:-1]])
            for i, t in enumerate(range(0, sum(dl), 300)):
                fi = int(np.searchsorted(starts, t, side="right") - 1)
                want[(mid, i)] = (t, dec[fi].mean(axis=(0, 1)).tolist())
        pal = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
        gif_frames = [pal[rng.integers(0, 4, size=(5, 5))]
                      for _ in range(2)]
        gif = bytes(encode_gif(gif_frames, [350, 350]))
        rows.append((9, "video", "image/gif", gif, None))
        gdec, gdl = decode_gif(gif)
        gstarts = np.concatenate([[0], np.cumsum(gdl)[:-1]])
        for i, t in enumerate(range(0, sum(gdl), 300)):
            fi = int(np.searchsorted(gstarts, t, side="right") - 1)
            want[(9, i)] = (t, gdec[fi].mean(axis=(0, 1)).tolist())
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        got = frame_sample(media, every_ms=300, fake=False).collect()
        assert len(got) == len(want)
        for r in got:
            t, feats = want[(r["media_id"], r["frame_idx"])]
            assert r["t_ms"] == t
            np.testing.assert_allclose(list(r["features"]), feats,
                                       rtol=0, atol=0)

    def test_frame_sample_real_gif_spark_path(self, spark):
        """frame_sample(fake=False) over real animated-GIF payloads:
        sampled features equal a local re-derivation from decode_gif +
        the cumulative-delay sampling rule; non-GIF payloads raise."""
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            decode_gif, encode_gif, frame_sample)
        rng = np.random.default_rng(5)
        pal = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
        rows, want = [], {}
        for mid in range(3):
            frames = [pal[rng.integers(0, 8, size=(6, 6))]
                      for _ in range(mid + 2)]
            delays = [(i + 1) * 700 for i in range(len(frames))]
            blob = encode_gif(frames, delays)
            rows.append((mid, "video", "image/gif", bytes(blob),
                         {"width": 6, "height": 6,
                          "duration_ms": sum(delays)}))
            dec, dl = decode_gif(bytes(blob))
            starts = np.concatenate([[0], np.cumsum(dl)[:-1]])
            for i, t in enumerate(range(0, sum(dl), 500)):
                fi = int(np.searchsorted(starts, t, side="right") - 1)
                want[(mid, i)] = (t, dec[fi].mean(axis=(0, 1)).tolist())
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        got = frame_sample(media, every_ms=500, fake=False).collect()
        assert len(got) == len(want)
        for r in got:
            t, feats = want[(r["media_id"], r["frame_idx"])]
            assert r["t_ms"] == t
            np.testing.assert_allclose(list(r["features"]), feats,
                                       rtol=0, atol=0)
        jpeg = spark.createDataFrame(
            [(9, "video", "video/mp4", b"\x00\x00\x00\x18ftypmp42",
              {"width": 1, "height": 1, "duration_ms": 100})],
            MEDIA_SCHEMA)
        with pytest.raises(Exception, match="NotImplemented|GIF"):
            frame_sample(jpeg, fake=False).collect()

    def test_on_error_skip_drops_corrupt_rows(self, spark):
        """on_error='skip': a corrupt payload in the batch must not kill
        the job (the 100 TB contract — one bad blob vs 1000 executors);
        good rows still come through, bad ids are simply absent, and the
        default on_error='raise' keeps fail-fast semantics."""
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            audio_features, encode_bmp, encode_gif, encode_wav,
            frame_sample, image_features)
        img = np.full((4, 4, 3), 9, np.uint8)
        gif = encode_gif([img, img], [100, 100])
        wav = encode_wav(np.zeros((50, 1)), rate=8000)
        imgs = spark.createDataFrame(
            [(1, bytearray(encode_bmp(img))), (2, bytearray(b"garbage!")),
             (3, bytearray(encode_bmp(img))[:-6])],  # truncated
            "media_id long, payload binary")
        got = image_features(imgs, on_error="skip").collect()
        assert [r["media_id"] for r in got] == [1]
        with pytest.raises(Exception):
            image_features(imgs).collect()
        with pytest.raises(ValueError, match="on_error"):
            image_features(imgs, on_error="ignore")
        auds = spark.createDataFrame(
            [(1, bytearray(wav)), (2, bytearray(b"RIFFjunk")),
             (3, bytearray(wav))],
            "media_id long, payload binary")
        got = audio_features(auds, on_error="skip").collect()
        assert sorted(r["media_id"] for r in got) == [1, 3]
        vids = spark.createDataFrame(
            [(1, "video", "image/gif", bytes(gif),
              {"width": 4, "height": 4, "duration_ms": 200}),
             (2, "video", "video/mp4", b"\x00\x00ftyp",
              {"width": 4, "height": 4, "duration_ms": 200}),
             (3, "video", "image/gif", bytes(gif)[:-10],
              {"width": 4, "height": 4, "duration_ms": 200})],
            MEDIA_SCHEMA)
        got = frame_sample(vids, every_ms=100, fake=False,
                           on_error="skip").collect()
        assert {r["media_id"] for r in got} == {1}

    def test_decoders_fail_cleanly_on_corrupt_bytes(self):
        """Robustness fuzz: arbitrary corruptions of valid payloads (and
        random blobs) must raise ValueError/NotImplementedError — never
        IndexError/KeyError/struct.error/segfault-adjacent states — so
        on_error='skip' can shield a distributed job deterministically.
        numpy/struct internals are allowed to surface only as those two
        types."""
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            decode_bmp, decode_gif, decode_png, decode_wav, encode_bmp,
            encode_gif, encode_png, encode_wav)
        rng = np.random.default_rng(77)
        img = rng.integers(0, 8, size=(5, 6, 3), dtype=np.uint8) * 30
        blobs = {
            decode_bmp: bytearray(encode_bmp(img)),
            decode_png: bytearray(encode_png(img)),
            decode_gif: bytearray(encode_gif([img, img], [50, 50])),
            decode_wav: bytearray(
                encode_wav(np.zeros((40, 2)), rate=8000)),
        }
        checked = 0
        for dec, blob in blobs.items():
            for trial in range(120):
                b = bytearray(blob)
                kind = trial % 3
                if kind == 0:      # truncate
                    b = b[: int(rng.integers(0, len(b)))]
                elif kind == 1:    # flip random bytes
                    for _ in range(int(rng.integers(1, 6))):
                        b[int(rng.integers(0, len(b)))] = int(
                            rng.integers(0, 256))
                else:              # random garbage, same length
                    b = bytearray(rng.integers(
                        0, 256, size=len(b)).astype(np.uint8).tobytes())
                try:
                    dec(bytes(b))  # surviving a benign flip is fine
                except (ValueError, NotImplementedError):
                    pass
                checked += 1
        assert checked == 480

    def test_resize_bilinear_matches_scalar_loop(self):
        """Vectorized bilinear == a straight-line scalar re-derivation
        (the golden-oracle pattern), bitwise — the weight expression
        order is pinned; identity resize returns the exact input."""
        import math
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            resize_bilinear, resize_nearest)
        rng = np.random.default_rng(41)
        a = rng.random((8, 8, 3))
        np.testing.assert_array_equal(resize_bilinear(a, 8, 8), a)
        for oh, ow in [(3, 5), (16, 16), (1, 1), (5, 11)]:
            got = resize_bilinear(a, oh, ow)
            h, w = a.shape[:2]
            for i in range(oh):
                y = (i + 0.5) * (h / oh) - 0.5
                y0 = min(max(math.floor(y), 0), h - 1)
                y1 = min(y0 + 1, h - 1)
                fy = min(max(y - y0, 0.0), 1.0)
                for j in range(ow):
                    x = (j + 0.5) * (w / ow) - 0.5
                    x0 = min(max(math.floor(x), 0), w - 1)
                    x1 = min(x0 + 1, w - 1)
                    fx = min(max(x - x0, 0.0), 1.0)
                    for c in range(3):
                        want = (a[y0, x0, c] * (1 - fy) * (1 - fx)
                                + a[y0, x1, c] * (1 - fy) * fx
                                + a[y1, x0, c] * fy * (1 - fx)
                                + a[y1, x1, c] * fy * fx)
                        assert got[i, j, c] == want, (oh, ow, i, j, c)
        # constant image stays exactly constant under any resize
        const = np.full((4, 6, 3), 0.25)
        assert (resize_bilinear(const, 7, 2) == 0.25).all()
        # nearest: 2x upscale duplicates pixels exactly
        up = resize_nearest(a, 16, 16)
        np.testing.assert_array_equal(up[::2, ::2], a)
        np.testing.assert_array_equal(up[1::2, 1::2], a)

    def test_resize_images_spark_path(self, spark):
        """resize_images decode->resample->PNG re-encode on real BMP/PNG
        payloads: output dims are as asked and decoding a payload back
        gives the quantized resample exactly; corrupt rows skippable."""
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            decode_png, encode_bmp, resize_bilinear, resize_images)
        rng = np.random.default_rng(43)
        imgs = {i: rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
                for i in range(3)}
        rows = [(i, bytearray(encode_bmp(v))) for i, v in imgs.items()]
        rows.append((9, bytearray(b"corrupt")))
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        out = {r["media_id"]: r for r in resize_images(
            df, width=5, height=3, on_error="skip").collect()}
        assert set(out) == {0, 1, 2}
        for i, v in imgs.items():
            r = out[i]
            assert (r["width"], r["height"]) == (5, 3)
            got = np.round(decode_png(bytes(r["payload"])) * 255
                           ).astype(np.uint8)
            want = np.clip(np.round(resize_bilinear(
                v.astype(np.float64) / 255.0, 3, 5) * 255.0),
                0, 255).astype(np.uint8)
            np.testing.assert_array_equal(got, want)

    def test_wav_roundtrip_against_stdlib_wave(self, tmp_path):
        """encode_wav → decode_wav round-trips, and the stdlib `wave`
        module (a fully independent RIFF implementation) parses our
        bytes to the identical samples/rate."""
        import wave
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            decode_wav, encode_wav)
        rng = np.random.default_rng(8)
        for nch, bits in [(1, 16), (2, 16), (1, 8), (2, 32)]:
            x = np.clip(rng.normal(scale=0.3, size=(211, nch)), -1, 1)
            blob = encode_wav(x, rate=8000, bits=bits)
            got, rate = decode_wav(blob)
            assert rate == 8000 and got.shape == (211, nch)
            tol = 1.0 / (1 << (bits - 1)) + 1e-12
            assert np.abs(got - x).max() <= tol
            p = tmp_path / f"t{nch}_{bits}.wav"
            p.write_bytes(blob)
            with wave.open(str(p)) as wf:
                assert wf.getnchannels() == nch
                assert wf.getframerate() == 8000
                assert wf.getsampwidth() == bits // 8
                assert wf.getnframes() == 211
                raw = wf.readframes(211)
            if bits == 16:
                ind = np.frombuffer(raw, "<i2").reshape(-1, nch) / 32768.0
                np.testing.assert_allclose(got, ind, atol=0)

    def test_wav_extensible_and_float_formats(self):
        import struct as st
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            decode_wav)
        x = np.linspace(-0.5, 0.5, 64)
        raw = x.astype("<f4").tobytes()
        fmt = st.pack("<HHIIHH", 3, 1, 4000, 16000, 4, 32)
        blob = (b"RIFF" + st.pack("<I", 4 + 8 + len(fmt) + 8 + len(raw))
                + b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
                + b"data" + st.pack("<I", len(raw)) + raw)
        got, rate = decode_wav(blob)
        np.testing.assert_allclose(got[:, 0], x, atol=1e-7)
        with pytest.raises(ValueError, match="RIFF"):
            decode_wav(b"nope")

    def test_real_image_and_audio_features_on_spark(self, spark):
        """Real payloads through the Arrow path end-to-end: BMP images
        via image_features (default fake=False) and WAV clips via
        audio_features, features re-derived in the test from the raw
        pixels/samples."""
        from dynamicaxiswarping_jl_spark.operators.multimodal import (
            audio_features, encode_bmp, encode_wav)
        from dynamicaxiswarping_jl_spark.operators import image_features
        rng = np.random.default_rng(12)
        imgs = {i: rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
                for i in range(3)}
        clips = {i: np.clip(rng.normal(scale=0.2, size=(400 + 100 * i, 1)),
                            -1, 1) for i in range(3)}
        img_rows = [(i, bytearray(encode_bmp(v))) for i, v in imgs.items()]
        wav_rows = [(i, bytearray(encode_wav(v, rate=1000)))
                    for i, v in clips.items()]
        sch = "media_id long, payload binary"
        feats = (image_features(spark.createDataFrame(img_rows, sch))
                 .orderBy("media_id").toPandas())
        for i in range(3):
            px = imgs[i].astype(np.float64) / 255.0
            want = np.concatenate([px.mean(axis=(0, 1)),
                                   px.std(axis=(0, 1))])
            np.testing.assert_allclose(list(feats["features"][i]), want,
                                       rtol=1e-12)
        au = (audio_features(spark.createDataFrame(wav_rows, sch))
              .orderBy("media_id").toPandas())
        for i in range(3):
            q = np.round(np.clip(clips[i] * 32768, -32768, 32767)) / 32768.0
            row = au.iloc[i]
            assert row["duration_ms"] == int(round(len(q) * 1000 / 1000))
            np.testing.assert_allclose(row["rms"], np.sqrt((q ** 2).mean()),
                                       rtol=1e-12)
            np.testing.assert_allclose(row["mean"], q.mean(), rtol=1e-9,
                                       atol=1e-12)


class TestIvfAndNearDup:
    def test_ivf_full_probe_equals_exact(self, spark, emb):
        """nprobe == n_centroids probes every inverted list → identical
        top-k ids to the brute-force baseline."""
        from dynamicaxiswarping_jl_spark.operators import (
            ivf_cosine_topk, cosine_topk)
        sub = emb.limit(200).cache()
        pdf = sub.toPandas()
        q = [float(x) for x in pdf.embedding[3]]
        queries = spark.createDataFrame([("q0", q)],
                                        "query_id string, q array<double>")
        exact = cosine_topk(sub, queries, k=5).orderBy("rk").toPandas()
        full = ivf_cosine_topk(sub, queries, k=5, n_centroids=8,
                               nprobe=8).orderBy("rk").toPandas()
        assert set(full.vec_id) == set(exact.vec_id)
        np.testing.assert_allclose(np.sort(full.sim), np.sort(exact.sim),
                                   rtol=1e-9)

    def test_ivf_training_sample_capped_under_duplicate_ids(self, spark, emb):
        """Nothing enforces id uniqueness in the corpus; the driver-side
        training collect must stay bounded at train_sample rows (and match
        the golden mirror's lexsort[:train_sample]) even when every id
        appears twice."""
        from dynamicaxiswarping_jl_spark.operators import (
            ivf_cosine_topk, cosine_topk)
        sub = emb.limit(100).cache()
        doubled = sub.unionAll(sub)
        pdf = sub.toPandas()
        q = [float(x) for x in pdf.embedding[3]]
        queries = spark.createDataFrame([("q0", q)],
                                        "query_id string, q array<double>")
        # even k: every distinct vector appears twice, so an odd k would
        # truncate a duplicate pair and make the id set tie-dependent
        exact = cosine_topk(doubled, queries, k=6).toPandas()
        full = ivf_cosine_topk(doubled, queries, k=6, n_centroids=4,
                               nprobe=4, train_sample=16).toPandas()
        assert set(full.vec_id) == set(exact.vec_id)
        np.testing.assert_allclose(np.sort(full.sim), np.sort(exact.sim),
                                   rtol=1e-9)

    def test_ivf_salted_probe_join_matches_broadcast(self, spark, emb):
        """probe_join='salted' (the unbounded-query-set shape: no probe
        rows through the driver, (centroid, salt) join keys) must return
        the identical frame as the broadcast shape, and 'auto' must pick
        one of them without error on a maxRows-bounded query set."""
        from dynamicaxiswarping_jl_spark.operators import ivf_cosine_topk
        sub = emb.limit(200).cache()
        pdf = sub.toPandas()
        queries = spark.createDataFrame(
            [("q0", [float(x) for x in pdf.embedding[3]]),
             ("q1", [float(x) for x in pdf.embedding[11]])],
            "query_id string, q array<double>")
        kw = dict(k=5, n_centroids=8, nprobe=3)
        a = (ivf_cosine_topk(sub, queries, probe_join="broadcast", **kw)
             .orderBy("query_id", "rk").toPandas())
        b = (ivf_cosine_topk(sub, queries, probe_join="salted", **kw)
             .orderBy("query_id", "rk").toPandas())
        pd.testing.assert_frame_equal(a, b)
        c = (ivf_cosine_topk(sub, queries, probe_join="auto", **kw)
             .orderBy("query_id", "rk").toPandas())
        pd.testing.assert_frame_equal(a, c)
        with pytest.raises(ValueError, match="probe_join"):
            ivf_cosine_topk(sub, queries, probe_join="bogus", **kw)

    def test_ivf_partial_probe_recall(self, spark, emb):
        from dynamicaxiswarping_jl_spark.operators import (
            ivf_cosine_topk, cosine_topk)
        sub = emb.limit(200).cache()
        pdf = sub.toPandas()
        q = [float(x) for x in pdf.embedding[3]]
        queries = spark.createDataFrame([("q0", q)],
                                        "query_id string, q array<double>")
        exact = set(cosine_topk(sub, queries, k=5).toPandas()["vec_id"])
        approx = ivf_cosine_topk(sub, queries, k=5, n_centroids=8,
                                 nprobe=2).toPandas()
        # the query's own vector lives in the probed home list
        assert pdf.vec_id[3] in set(approx.vec_id)
        assert len(exact & set(approx.vec_id)) >= 2

    def test_embedding_neardup_exact_matches_numpy(self, spark, emb):
        from dynamicaxiswarping_jl_spark.operators import embedding_neardup
        sub = emb.limit(80).cache()
        pdf = sub.toPandas()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf.embedding])
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        S = Vn @ Vn.T
        ids = pdf.vec_id.to_numpy()
        want = {(int(ids[i]), int(ids[j]))
                for i in range(len(ids)) for j in range(len(ids))
                if ids[i] < ids[j] and S[i, j] >= 0.35}
        got = embedding_neardup(sub, threshold=0.35, mode="exact").collect()
        assert {(r.id_a, r.id_b) for r in got} == want
        for r in got:
            i = np.where(ids == r.id_a)[0][0]
            j = np.where(ids == r.id_b)[0][0]
            assert r.sim == pytest.approx(S[i, j], rel=1e-9)

    def test_embedding_neardup_lsh_is_subset_with_exact_sims(self, spark, emb):
        from dynamicaxiswarping_jl_spark.operators import embedding_neardup
        sub = emb.limit(80).cache()
        exact = {(r.id_a, r.id_b): r.sim
                 for r in embedding_neardup(sub, threshold=0.3,
                                            mode="exact").collect()}
        # cos 0.3 → per-plane collision p ≈ 0.6, so recall ≈
        # 1-(1-p^n_planes)^n_tables ≈ 0.89 at (4, 16)
        lsh = {(r.id_a, r.id_b): r.sim
               for r in embedding_neardup(sub, threshold=0.3, mode="lsh",
                                          n_planes=4, n_tables=16).collect()}
        assert set(lsh) <= set(exact)   # rerank is exact → no false positives
        for k, v in lsh.items():
            assert v == pytest.approx(exact[k], rel=1e-9)
        assert len(lsh) >= len(exact) // 2  # decent recall at these knobs


class TestGdtwPairs:
    def test_gdtw_pairs_matches_local_kernel(self, spark):
        from dynamicaxiswarping_jl_spark.operators import dtw_pairs
        from dynamicaxiswarping_jl_spark.kernels.gdtw import gdtw
        rng = np.random.default_rng(0)
        t = np.linspace(0, 1, 60)
        a = np.sin(2 * np.pi * t) + 0.05 * rng.normal(size=60)
        b = np.sin(2 * np.pi * (t ** 1.15))
        pairs = spark.createDataFrame(
            [("a", [float(x) for x in a], "b", [float(x) for x in b])],
            "id_a string, a array<double>, id_b string, b array<double>")
        got = dtw_pairs(pairs, method="gdtw").collect()[0]
        want, _, _ = gdtw(a, b)
        assert got.cost == pytest.approx(want, rel=1e-12)


class TestNearDedupComponents:
    def test_connected_components_chains_and_islands(self, spark):
        from dynamicaxiswarping_jl_spark.operators import connected_components
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6), (9, 9)], "id_a long, id_b long")
        comp = {r.id: r.comp for r in connected_components(edges).collect()}
        assert comp[1] == comp[2] == comp[3] == 1
        assert comp[5] == comp[6] == 5
        assert comp[9] == 9

    def test_near_dedup_docs_keeps_one_per_cluster(self, spark):
        from dynamicaxiswarping_jl_spark.operators import near_dedup_docs
        body = " ".join(f"tok{i}" for i in range(80))
        rows = [(1, body), (2, body + " extra"), (3, body + " more extra"),
                (4, "entirely different content with other words here"),
                (5, "another unique document body nothing shared")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: (r.keep_id, r.is_kept)
               for r in near_dedup_docs(docs, k=64, bands=16,
                                        threshold=0.5).collect()}
        assert out[1] == (1, True)
        assert out[2] == (1, False) and out[3] == (1, False)
        assert out[4] == (4, True) and out[5] == (5, True)
        assert sum(kept for _, kept in out.values()) == 3


class TestSimhashNearDup:
    def test_planted_near_dup_found(self, spark):
        from dynamicaxiswarping_jl_spark.operators import simhash_neardup
        body = " ".join(f"tok{i}" for i in range(120))
        rows = [(1, body), (2, body + " tail"), (3, "unrelated words only zzz")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r.id_a, r.id_b): r.hamming
               for r in simhash_neardup(df, max_hamming=8,
                                        n_bands=16).collect()}
        assert (1, 2) in got
        assert (1, 3) not in got and (2, 3) not in got

    def test_exact_recall_guarantee_vs_bruteforce(self, spark):
        """For max_hamming <= n_bands-1, the band join must find EVERY
        pair the brute-force hamming scan finds."""
        import numpy as np
        from dynamicaxiswarping_jl_spark.operators import simhash_neardup
        from dynamicaxiswarping_jl_spark.operators.dedup import (
            simhash_signatures)
        rng = np.random.default_rng(9)
        # synthetic docs with word-level perturbations → varied hamming
        base = [f"w{i}" for i in range(60)]
        rows = []
        for d in range(30):
            words = list(base)
            for _ in range(rng.integers(0, 6)):
                words[rng.integers(0, 60)] = f"x{rng.integers(0, 9)}"
            rows.append((d, " ".join(words)))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sig = {r.doc_id: r.simhash & (2**64 - 1)
               for r in simhash_signatures(df).collect()}
        want = {(a, b) for a in sig for b in sig if a < b
                and bin(sig[a] ^ sig[b]).count("1") <= 3}
        got = {(r.id_a, r.id_b)
               for r in simhash_neardup(df, max_hamming=3).collect()}
        assert got == want

    def test_recall_bound_enforced(self, spark):
        import pytest as _pytest
        from dynamicaxiswarping_jl_spark.operators import simhash_neardup
        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="n_bands"):
            simhash_neardup(df, max_hamming=4, n_bands=4)


class TestSessionizeEvents:
    def _naive(self, rows, gap_s):
        import collections
        by_key = collections.defaultdict(list)
        for k, ts in rows:
            by_key[k].append(ts)
        out = {}
        for k, tss in by_key.items():
            tss.sort()
            n = 1 + sum(1 for a, b in zip(tss, tss[1:])
                        if (b - a).total_seconds() > gap_s)
            out[k] = (n, len(tss))
        return out

    def test_two_phase_matches_single_window_incl_block_edges(self, spark):
        """The time-block-salted sessionize must equal the naive
        one-window scan, including the knife edges: gaps exactly ==
        gap_s (same session), events exactly on block boundaries, and
        sessions spanning several blocks."""
        import datetime as dt
        base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
        rows = []
        # u0: a session crossing midnight (block edge) with gap < gap_s
        rows += [("u0", base + dt.timedelta(hours=23, minutes=50)),
                 ("u0", base + dt.timedelta(days=1, minutes=5)),
                 ("u0", base + dt.timedelta(days=1, minutes=10))]
        # u1: boundary gap EXACTLY gap_s (continues), then one > gap_s
        rows += [("u1", base + dt.timedelta(hours=23, minutes=30)),
                 ("u1", base + dt.timedelta(days=1, hours=0, minutes=0)),
                 ("u1", base + dt.timedelta(days=1, hours=2))]
        # u2: event exactly at a block boundary starting a new session
        rows += [("u2", base), ("u2", base + dt.timedelta(days=1))]
        # u3: duplicates + dense run inside one block
        rows += [("u3", base + dt.timedelta(minutes=i)) for i in range(5)]
        rows += [("u3", base + dt.timedelta(minutes=2))]
        import numpy as np
        rng = np.random.default_rng(66)
        for i in range(20):  # fuzz: random event sets over 5 days
            k = f"r{i:02d}"
            t = np.cumsum(rng.integers(60, 4000, size=30))
            rows += [(k, base + dt.timedelta(seconds=int(s))) for s in t]
        df = spark.createDataFrame(rows, "user_id string, ts timestamp")
        from dynamicaxiswarping_jl_spark.operators import sessionize_events
        got = {r.user_id: (r.n_sessions, r.n_events)
               for r in sessionize_events(df, gap_s=1800,
                                          plan="blocked").collect()}
        want = self._naive(rows, 1800)
        assert got == want
        # u1's boundary gap == gap_s stayed one session
        assert got["u1"][0] == 2
        # u2's boundary event started a new one
        assert got["u2"][0] == 2

    def test_salted_plan_shape(self, spark):
        """The skew-safe plan is structural: the heavy per-event window
        partitions by (key, time-block) — never by the key alone — so a
        single huge conversation's work is block-bounded regardless of
        how AQE sizes the tasks."""
        import datetime as dt
        from dynamicaxiswarping_jl_spark.operators import sessionize_events
        base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
        df = spark.createDataFrame(
            [("u", base + dt.timedelta(minutes=i)) for i in range(10)],
            "user_id string, ts timestamp")
        plan = (sessionize_events(df, plan="blocked")._jdf.queryExecution()
                .executedPlan().toString())
        assert "_blk" in plan  # block salt present in the window spec
        # the per-event window runs under hashpartitioning(key, _blk)
        assert any("user_id" in ln and "_blk" in ln
                   and "hashpartitioning" in ln
                   for ln in plan.splitlines())
        # a hot-key hint above the threshold routes auto to the same
        # blocked shape without any probe job
        plan_auto = (sessionize_events(df, max_rows_per_key=10**7)
                     ._jdf.queryExecution().executedPlan().toString())
        assert "_blk" in plan_auto

    def test_auto_plan_picks_single_when_no_hot_key(self, spark):
        """VERDICT r04 #7: the common no-hot-key workload gets the
        one-window plan (no _blk salt) — via the hint and via the
        memoized probe — and both plans agree with the naive oracle."""
        import datetime as dt
        from dynamicaxiswarping_jl_spark.operators import sessionize_events
        base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
        rows = [("u%d" % (i % 3), base + dt.timedelta(minutes=7 * i))
                for i in range(60)]
        df = spark.createDataFrame(rows, "user_id string, ts timestamp")
        for kw in ({"max_rows_per_key": 100}, {}):
            p = (sessionize_events(df, **kw)._jdf.queryExecution()
                 .executedPlan().toString())
            assert "_blk" not in p, kw
        a = {r.user_id: (r.n_sessions, r.n_events)
             for r in sessionize_events(df).collect()}
        b = {r.user_id: (r.n_sessions, r.n_events)
             for r in sessionize_events(df, plan="blocked").collect()}
        assert a == b == self._naive(rows, 1800)

    def test_null_ts_rows_dropped_by_both_plans(self, spark):
        """A null timestamp has no position in any gap sequence, so both
        plans drop such rows identically. (They previously diverged: the
        single-window lag().isNull() test counted every null-ts row as
        its own session while the blocked collect_list silently dropped
        them — making plan='auto' routing result-visible.)"""
        import datetime as dt
        from dynamicaxiswarping_jl_spark.operators import sessionize_events
        base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
        rows = [("u", None), ("u", None), ("u", base),
                ("u", base + dt.timedelta(hours=2)), ("w", None)]
        df = spark.createDataFrame(rows, "user_id string, ts timestamp")
        for plan in ("single", "blocked"):
            got = {r.user_id: (r.n_sessions, r.n_events)
                   for r in sessionize_events(df, plan=plan).collect()}
            # "w" had only null-ts rows -> no output row at all
            assert got == {"u": (2, 2)}, plan

    def test_ntz_dst_session_tz_rejected(self, spark):
        """sessionize gap arithmetic rides the same NTZ->TIMESTAMP epoch
        route as asof_join; the DST session-timezone guard applies."""
        from dynamicaxiswarping_jl_spark.operators import sessionize_events
        df = spark.createDataFrame(
            [("u", "2024-01-01 00:00:00")],
            "user_id string, ts_s string").select(
            "user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
        old = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "America/New_York")
            with pytest.raises(ValueError, match="DST"):
                sessionize_events(df)
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)
        got = sessionize_events(df).collect()  # UTC: NTZ is fine
        assert len(got) == 1 and got[0]["n_sessions"] == 1
