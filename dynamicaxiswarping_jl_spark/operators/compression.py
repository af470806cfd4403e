"""Gorilla / delta-of-delta chunk compression for tier series.

Implements the public Facebook Gorilla scheme (Pelkonen et al., VLDB'15):
§4.1 timestamps as delta-of-delta with variable-width buckets
(0 / 7 / 9 / 12 / 32 bits), §4.2 values as XOR with leading/trailing-zero
block reuse. Engine-added operator (SURVEY.md §2.8) — the reference library
has no storage layer.

Layout per chunk row::

    (conv_id, tier, chunk_start TIMESTAMP, n INT, codec STRING,
     t0 BIGINT, v0 DOUBLE, payload BINARY, crc BIGINT)

``t0``/``v0`` carry the first point; ``payload`` holds the remaining n-1
points' bits. Gap-filled tier series have constant deltas, so timestamps
cost ~1 bit each — the design case.

Encode/decode run inside ``mapInPandas`` over one array-row per (key,
chunk-window): the grouping, time sort, and point-level explode stay
JVM-side (collect_list/sort_array on encode, explode(arrays_zip) on
decode) so the Arrow boundary carries chunk rows, not point rows —
point-level Arrow transfer costs more than the codec itself.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["gorilla_encode", "gorilla_decode", "compress_chunks",
           "decompress_chunks", "CHUNK_SCHEMA"]


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int):
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_zeros(self, k: int):
        """Append k zero bits — bulk byte extension for long runs (the
        gap-filled regular-grid fast path)."""
        if self.nbits:
            take = min(k, 8 - self.nbits)
            self.write(0, take)
            k -= take
        nbytes = k >> 3
        if nbytes:
            self.buf.extend(b"\x00" * nbytes)
            k -= nbytes << 3
        if k:
            self.write(0, k)

    def bytes(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def gorilla_encode(ts: np.ndarray, vals: np.ndarray):
    """→ (n, t0, v0, payload). ts int64 (epoch s), vals float64."""
    ts = np.asarray(ts, dtype=np.int64)
    vals = np.asarray(vals, dtype=np.float64)
    n = len(ts)
    assert n == len(vals) and n >= 1
    t0 = int(ts[0])
    v0 = float(vals[0])
    from ..kernels import native
    if native.available():
        # bit-identical C writer (cross-parity pinned in tests); Python
        # path below remains as the compiler-less fallback
        payload = native.gorilla_encode(ts, vals)
        if payload is not None:
            return n, t0, v0, payload
    w = _BitWriter()
    # --- timestamps: delta-of-delta, zero runs written in bulk ---
    deltas = np.diff(ts)
    dods = np.empty(n - 1, dtype=np.int64) if n > 1 else np.empty(0, dtype=np.int64)
    if n > 1:
        dods[0] = deltas[0]
        dods[1:] = np.diff(deltas)
    nz = np.flatnonzero(dods)
    prev_end = 0
    for idx in nz:
        if idx > prev_end:
            w.write_zeros(int(idx - prev_end))
        dod = int(dods[idx])
        if -63 <= dod <= 64:
            w.write(0b10, 2)
            w.write(dod + 63, 7)
        elif -255 <= dod <= 256:
            w.write(0b110, 3)
            w.write(dod + 255, 9)
        elif -2047 <= dod <= 2048:
            w.write(0b1110, 4)
            w.write(dod + 2047, 12)
        else:
            w.write(0b1111, 4)
            w.write(_zigzag(dod) & 0xFFFFFFFFFFFFFFFF, 64)
        prev_end = idx + 1
    if n - 1 > prev_end:
        w.write_zeros(int(n - 1 - prev_end))
    # --- values: XOR with block reuse (§4.2), zero runs in bulk ---
    bits = vals.view(np.uint64)
    xors = (bits[1:] ^ bits[:-1]) if n > 1 else np.empty(0, dtype=np.uint64)
    nzv = np.flatnonzero(xors)
    prev_lead, prev_mean = 65, 0  # invalid → first xor writes a new block
    prev_end = 0
    for idx in nzv:
        if idx > prev_end:
            w.write_zeros(int(idx - prev_end))
        prev_end = idx + 1
        xor = int(xors[idx])
        lead = min(64 - xor.bit_length(), 31)
        trail = (xor & -xor).bit_length() - 1
        mean = 64 - lead - trail
        w.write(1, 1)
        prev_trail = 64 - prev_lead - prev_mean
        if lead >= prev_lead and trail >= prev_trail:
            # xor fits inside the previous meaningful block → reuse it
            w.write(0, 1)
            w.write(xor >> prev_trail, prev_mean)
        else:
            w.write(1, 1)
            w.write(lead, 5)
            w.write(mean - 1, 6)
            w.write(xor >> trail, mean)
            prev_lead, prev_mean = lead, mean
    if n - 1 > prev_end:
        w.write_zeros(int(n - 1 - prev_end))
    return n, t0, v0, w.bytes()


def gorilla_decode(n: int, t0: int, v0: float, payload: bytes):
    """Inverse of gorilla_encode → (ts int64[n], vals float64[n]).

    Decoding walks an unpacked bit array; runs of '0' control bits (the
    regular-grid / repeated-value fast path) are skipped in bulk via a
    precomputed set-bit index, and the per-record deltas/xors are folded
    with vectorized cumsum / bitwise_xor.accumulate.
    """
    from ..kernels import native
    if native.available():
        got = native.gorilla_decode(n, t0, v0, payload)
        if got is not None:
            return got
    ts = np.empty(n, dtype=np.int64)
    vals = np.empty(n, dtype=np.float64)
    ts[0] = t0
    vals[0] = v0
    if n == 1:
        return ts, vals
    bits = np.unpackbits(np.frombuffer(payload, dtype=np.uint8))
    blist = bits.tolist()
    set_pos = np.flatnonzero(bits)
    nbits_total = len(blist)
    state = {"pos": 0}

    def next_set(p: int) -> int:
        i = np.searchsorted(set_pos, p)
        return int(set_pos[i]) if i < len(set_pos) else nbits_total

    def read(k: int) -> int:
        p = state["pos"]
        v = 0
        for b in blist[p:p + k]:
            v = (v << 1) | b
        state["pos"] = p + k
        return v

    # --- timestamps ---
    dods = np.zeros(n - 1, dtype=np.int64)
    i = 0
    while i < n - 1:
        run = min(next_set(state["pos"]) - state["pos"], n - 1 - i)
        state["pos"] += run
        i += run
        if i >= n - 1:
            break
        state["pos"] += 1  # leading '1'
        p = state["pos"]
        if blist[p] == 0:
            state["pos"] = p + 1
            dod = read(7) - 63
        elif blist[p + 1] == 0:
            state["pos"] = p + 2
            dod = read(9) - 255
        elif blist[p + 2] == 0:
            state["pos"] = p + 3
            dod = read(12) - 2047
        else:
            state["pos"] = p + 3
            dod = _unzigzag(read(64))
        dods[i] = dod
        i += 1
    deltas = np.cumsum(dods)
    ts[1:] = t0 + np.cumsum(deltas)

    # --- values ---
    xors = np.zeros(n - 1, dtype=np.uint64)
    lead = mean = 0
    i = 0
    while i < n - 1:
        run = min(next_set(state["pos"]) - state["pos"], n - 1 - i)
        state["pos"] += run
        i += run
        if i >= n - 1:
            break
        state["pos"] += 1  # leading '1'
        if blist[state["pos"]] == 1:
            state["pos"] += 1
            lead = read(5)
            mean = read(6) + 1
        else:
            state["pos"] += 1
        start = 64 - lead - mean
        xors[i] = read(mean) << start
        i += 1
    acc = np.empty(n, dtype=np.uint64)
    acc[0] = np.float64(v0).view(np.uint64)
    acc[1:] = xors
    np.bitwise_xor.accumulate(acc, out=acc)
    vals[:] = acc.view(np.float64)
    return ts, vals


CHUNK_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("tier", T.StringType()),
    T.StructField("chunk_start", T.TimestampType()),
    T.StructField("n", T.IntegerType()),
    T.StructField("codec", T.StringType()),
    T.StructField("t0", T.LongType()),
    T.StructField("v0", T.DoubleType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("crc", T.LongType()),
])


def compress_chunks(tier_df: DataFrame, tier: str, value_col: str = "turn_rate",
                    key: str = "conv_id", chunk: str = "1 day") -> DataFrame:
    """Tier rows → Gorilla chunk structs, one chunk per (key, chunk window).

    The per-chunk grouping + time sort happen JVM-side
    (``sort_array(collect_list(struct(t, v)))``) so only one array-row per
    chunk crosses the Arrow boundary — the point-level Arrow transfer
    would otherwise dominate the encode by ~3x (a chunk is ~10²-10³
    points but encodes in ~0.3 ms). The explicit hash repartition pins
    the Python fan-out: AQE coalesces this byte-tiny shuffle and would
    serialize the encoder onto a couple of tasks.

    ``decompress_chunks`` reconstructs ``bucket`` as TIMESTAMP (epoch
    seconds) — NTZ inputs come back as the tz-aware type, and the epoch
    sort below requires a DST-free session tz for NTZ, guarded here.
    """
    from .asof import assert_ntz_session_tz_safe
    assert_ntz_session_tz_safe(tier_df, "bucket", "compress_chunks")
    sc = tier_df.sparkSession.sparkContext
    src = (tier_df.select(
        F.col(key).alias("conv_id"),
        F.window("bucket", chunk)["start"].alias("chunk_start"),
        F.col("bucket").cast("timestamp").cast("long").alias("t"),
        F.col(value_col).cast("double").alias("v"))
        .groupBy("conv_id", "chunk_start")
        .agg(F.sort_array(F.collect_list(F.struct("t", "v"))).alias("pts"))
        .select("conv_id", "chunk_start",
                F.expr("transform(pts, x -> x.t)").alias("ts"),
                F.expr("transform(pts, x -> x.v)").alias("vs"))
        .repartition(sc.defaultParallelism * 2))

    def enc(batches):
        for pdf in batches:
            recs = []
            for row in pdf.itertuples(index=False):
                n, t0, v0, payload = gorilla_encode(
                    np.asarray(row.ts, dtype=np.int64),
                    np.asarray(row.vs, dtype=np.float64))
                recs.append({
                    "conv_id": row.conv_id, "tier": tier,
                    "chunk_start": row.chunk_start,
                    "n": n, "codec": "gorilla", "t0": t0, "v0": v0,
                    "payload": payload, "crc": zlib.crc32(payload),
                })
            if recs:
                yield pd.DataFrame(recs,
                                   columns=[f.name for f in CHUNK_SCHEMA.fields])

    return src.mapInPandas(enc, CHUNK_SCHEMA)


def decompress_chunks(chunks: DataFrame, value_col: str = "turn_rate") -> DataFrame:
    """Chunk structs → tier rows (conv_id, bucket, value). CRC-verified.

    The decoder emits one array-row per chunk; the point-level explode is
    JVM-side (``explode(arrays_zip(...))``) for the same Arrow-floor
    reason as the encoder."""
    arr_schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("ts", T.ArrayType(T.LongType())),
        T.StructField("vs", T.ArrayType(T.DoubleType())),
    ])

    def dec(batches):
        for pdf in batches:
            recs = []
            for row in pdf.itertuples(index=False):
                payload = bytes(row.payload)
                if zlib.crc32(payload) != row.crc:
                    raise IOError(f"chunk CRC mismatch for {row.conv_id}")
                ts, vals = gorilla_decode(row.n, row.t0, row.v0, payload)
                recs.append({"conv_id": row.conv_id, "ts": ts.tolist(),
                             "vs": vals.tolist()})
            if recs:
                yield pd.DataFrame(recs, columns=["conv_id", "ts", "vs"])

    sc = chunks.sparkSession.sparkContext
    # chunks are tiny in bytes but costly to decode — fan out for CPU.
    # A plain repartition, not plans.fanout.spread: spread's partition
    # probe costs 0.07-0.12 s per warm call on a parquet scan (4-core
    # local mode), and every catalog read of a one-file chunk table
    # would pay it without saving a shuffle.
    arrs = (chunks.repartition(sc.defaultParallelism * 2)
            .mapInPandas(dec, arr_schema))
    return (arrs.select("conv_id",
                        F.explode(F.arrays_zip("ts", "vs")).alias("p"))
            .select("conv_id",
                    F.col("p.ts").cast("timestamp").alias("bucket"),
                    F.col("p.vs").alias(value_col)))
