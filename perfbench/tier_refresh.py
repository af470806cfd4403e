"""tier_refresh: streaming refresh of the 1m tier and its Gorilla chunks in
the table catalog, with a reader querying the refreshed catalog.

Set-up splits the seeded turns into time-ordered tranches of equal size; a
seeded share of the turns that fall just before a tranche edge (inside the
ingest's 10-minute watermark) arrive one tranche late. A tranche lands as a
parquet file in the source directory, then ``start_file_ingest`` MERGEs the
1m tier and ``start_chunk_compress`` MERGEs the chunk table. The first
tranche is delivered untimed to a fresh service and catalog; each timed
tranche after it MERGEs into the populated tables (copy-on-write rewrite,
late buckets re-emitted under the watermark) and is followed by a reader
query (1h cascade of the 1m tier plus ``decompress_chunks`` on a sample of
conversations). More reads follow until the window ends, and
``expire_snapshots`` closes the run. Writes beside reads on the storage and
streaming layers, which no other workload touches.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

import harness
import layers

N_CONV = 300
MEAN_TURNS = 40.0
TRANCHE_TURNS = 2000
TIMED_TRANCHES = 2      # after one untimed tranche into the empty catalog
LATE_WINDOW_S = 300     # lateness stays well inside the 10-minute watermark
LATE_SHARE = 0.3
READ_SAMPLE = 16        # conversations decompressed per read
MIN_READS = 5
CHUNK = "7 days"


def _progress(query) -> list:
    return [json.loads(p.json) for p in query.recentProgress]


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.tranches: list = []
        self.delivered = 0
        self.cat = None
        self.merges = {"calls": 0, "rows_changed": 0, "rows_written": 0}
        self.queries: list = []   # (tranche, ingest progress, chunk progress)
        self.late: list = []      # late turns per tranche
        self.sample: list = []
        self.layer_detail: dict = {}

    def wrap_layers(self, tracer) -> None:
        from dynamicaxiswarping_jl_spark.operators import compression
        from dynamicaxiswarping_jl_spark.sources.storage import TableCatalog
        tracer.wrap(TableCatalog, "merge", "sources.storage.merge")
        tracer.wrap(TableCatalog, "read", "sources.storage.read")
        tracer.wrap(TableCatalog, "expire_snapshots", "sources.storage.expire")
        tracer.wrap(compression, "compress_chunks",
                    "operators.compression.compress_chunks")

    # -- set-up: seeded tranches -----------------------------------------------------
    def setup(self, rep: int) -> None:
        import pyarrow as pa
        from dynamicaxiswarping_jl_spark import sources
        spark = self.ctx.spark
        raw = harness.fresh_dir(self.ctx.path(f"turns{rep}"))
        with self.ctx.tracer.span("sources.transcripts.generate", "sources"):
            (sources.transcripts_df(spark, N_CONV, seed=self.ctx.seed,
                                    mean_turns=MEAN_TURNS)
             .write.mode("overwrite").parquet(raw))
        import pyarrow.parquet as pq
        tbl = pq.read_table(raw)
        ts = tbl.column("ts").cast(pa.timestamp("us")).to_numpy().astype("int64")
        tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts",
                             pa.array(ts, pa.timestamp("us", tz="UTC")))
        # equal-size tranches in event-time order: a refresh's cost is
        # mostly fixed, so its turns per second should not vary by seed
        order = np.argsort(ts, kind="stable")
        edges = ts[order[np.arange(TRANCHE_TURNS, len(ts), TRANCHE_TURNS)]]
        n_tr = len(edges) + 1
        which = np.searchsorted(edges, ts, side="right")
        rng = np.random.default_rng(self.ctx.seed)
        # turns just before an edge arrive with the next tranche
        nxt = np.append(edges, np.iinfo(np.int64).max)[which]
        late = ((nxt - ts) <= LATE_WINDOW_S * 1_000_000) & (which < n_tr - 1) \
            & (rng.random(len(ts)) < LATE_SHARE)
        which = which + late
        delivered = range(min(n_tr, 1 + TIMED_TRANCHES))
        self.tranches = [tbl.filter(pa.array(which == k)) for k in delivered]
        self.late = [int((late & (which == k)).sum()) for k in delivered]

    # -- timed window --------------------------------------------------------------
    def _dirs(self):
        return {k: self.ctx.path("refresh", k)
                for k in ("src", "feed", "ck_ingest", "ck_chunks", "catalog")}

    def _tranche(self, k: int, kind: str = "tranche"):
        import pyarrow.parquet as pq
        from dynamicaxiswarping_jl_spark import streaming
        from dynamicaxiswarping_jl_spark.sources import TRANSCRIPT_SCHEMA
        d = self._dirs()
        spark, tr = self.ctx.spark, self.ctx.tracer

        def run(extra_groups):
            os.makedirs(d["src"], exist_ok=True)
            tmp = os.path.join(d["src"], f".tranche-{k:03d}.parquet")
            pq.write_table(self.tranches[k], tmp)
            os.replace(tmp, os.path.join(d["src"], f"tranche-{k:03d}.parquet"))
            landed = time.perf_counter()
            # a query's span covers its start and its micro-batches
            with tr.span("streaming.ingest", "streaming"):
                q1 = streaming.start_file_ingest(
                    spark, d["src"], d["feed"], d["ck_ingest"], TRANSCRIPT_SCHEMA,
                    catalog=self.cat, table="tier_1m")
                extra_groups.append(str(q1.runId))
                q1.awaitTermination()
            with tr.span("streaming.chunk_compress", "streaming"):
                q2 = streaming.start_chunk_compress(
                    spark, d["feed"], self.cat, "chunks_1m", d["ck_chunks"],
                    tier="1m", chunk=CHUNK, source_table="tier_1m")
                extra_groups.append(str(q2.runId))
                q2.awaitTermination()
            self.queries.append((kind, _progress(q1), _progress(q2)))
            return time.perf_counter() - landed

        lat = self.ctx.run_op(kind, run, items=self.tranches[k].num_rows)
        if lat is not None:
            # land -> chunk commit, not counting the file write itself
            self.ctx.ops[-1]["latency"] = lat
            self.delivered += self.tranches[k].num_rows

    def _read(self):
        from pyspark.sql import functions as F
        from dynamicaxiswarping_jl_spark import operators

        def run(extra_groups):
            h = operators.cascade(self.cat.read("tier_1m"), "1h")
            hours = h.agg(F.count("*"), F.sum("n_turns")).first()
            pts = operators.decompress_chunks(
                self.cat.read("chunks_1m").filter(F.col("conv_id").isin(self.sample))
            ).count()
            return hours, pts

        def check(res):
            if res[0][1] != self.delivered:
                raise AssertionError(f"1h cascade holds {res[0][1]} turns, "
                                     f"{self.delivered} delivered")

        self.ctx.run_op("read", run, check=check)

    def _expire(self):
        def run(extra_groups):
            return [self.cat.expire_snapshots(t, keep_last=1)
                    for t in ("tier_1m", "chunks_1m")]
        self.ctx.run_op("expire", run)

    def warmup(self) -> None:
        """The first tranche, untimed: it starts the service's queries on a
        fresh catalog, so every timed tranche MERGEs into populated tables
        and carries the late turns of the edge before it."""
        from dynamicaxiswarping_jl_spark.sources.storage import TableCatalog
        self.cat = TableCatalog(self.ctx.spark, self._dirs()["catalog"])
        self._count_merges()
        ids = sorted(set(self.tranches[0].column("conv_id").to_pylist()))
        rng = np.random.default_rng(self.ctx.seed + 2)
        self.sample = [str(c) for c in rng.choice(ids, min(READ_SAMPLE, len(ids)),
                                                  replace=False)]
        self._tranche(0, "warmup")

    def measure(self, deadline: float) -> None:
        """Each timed tranche followed by a reader query, then reads to the
        end of the window (at least ``MIN_READS`` in all), then
        ``expire_snapshots``. The tranche count is fixed, so every run
        delivers the same turns and only the number of reads follows the
        clock."""
        self.merges.update(calls=0, rows_changed=0, rows_written=0)
        for k in range(1, len(self.tranches)):
            self._tranche(k)
            self._read()
        while (len(self.ctx.ok_ops("read")) < MIN_READS
               or time.perf_counter() < deadline):
            self._read()
            if len(self.ctx.ops) > 50:
                break  # every read failing: stop, the failures are counted
        self._expire()   # the catalog's final size counts current data only

    def _count_merges(self) -> None:
        """Count MERGE calls and rows rewritten by wrapping the catalog
        instance's ``merge``; rows changed are counted in traced runs."""
        cat, m = self.cat, self.merges
        orig = cat.merge

        def merge(name, df, keys):
            if self.ctx.trace:
                # rows changed per MERGE: an extra count, so traced runs only
                df = df.cache()
                m["rows_changed"] += df.count()
            try:
                rec = orig(name, df, keys)
            finally:
                if self.ctx.trace:
                    df.unpersist()
            m["calls"] += 1
            m["rows_written"] += rec["rows_written"]
            return rec
        cat.merge = merge

    # -- correctness ------------------------------------------------------------------
    def check(self) -> list:
        """The catalog's tier_1m and chunks_1m equal the batch rollup and
        compression of every delivered turn (the diff run_streaming
        makes, on the collected tables)."""
        from dynamicaxiswarping_jl_spark import operators
        from dynamicaxiswarping_jl_spark.sources import TRANSCRIPT_SCHEMA
        if not self.delivered:
            return ["no tranche delivered"]
        spark = self.ctx.spark
        turns = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(self._dirs()["src"])
        b1m = operators.rollup_turns(turns, "1m").cache()

        def rows(df, cols):
            return sorted(map(tuple, df.select(*cols).collect()))

        errs = []
        for table, batch, cols in (
                ("tier_1m", b1m,
                 ["conv_id", "bucket", "n_turns", "tool_calls", "turn_rate"]),
                ("chunks_1m",
                 operators.compress_chunks(b1m, "1m", "turn_rate", chunk=CHUNK),
                 ["conv_id", "tier", "chunk_start", "n", "t0", "v0", "crc"])):
            got, want = rows(self.cat.read(table), cols), rows(batch, cols)
            if got != want:
                errs.append(f"{table} differs from the batch path: {len(got)} rows, "
                            f"{len(want)} expected")
        b1m.unpersist()
        return errs

    # -- metrics ----------------------------------------------------------------------
    def e2e(self) -> dict:
        tr = self.ctx.ok_ops("tranche")
        rd = self.ctx.ok_ops("read")
        return {
            "throughput_per_s": 1.0 / harness.median([o["latency"] for o in rd])
            if rd else 0.0,
            "op_p50_s": harness.median([o["latency"] for o in tr]) if tr else 0.0,
            "bytes_per_turn": harness.dir_bytes(self._dirs()["catalog"])
            / max(1, self.delivered),
        }

    def _microbatches(self):
        """Micro-batches of the timed tranches' ingest and chunk queries,
        and the ingest's rows dropped by the watermark, from their
        ``recentProgress``."""
        timed = [q for q in self.queries if q[0] == "tranche"]
        ingest = sum(len(p1) for _, p1, _ in timed)
        chunks = sum(len(p2) for _, _, p2 in timed)
        dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                      for _, p1, _ in timed for p in p1
                      for op in p.get("stateOperators", []))
        return ingest, chunks, dropped

    def detail(self) -> dict:
        tr = [o["latency"] for o in self.ctx.ok_ops("tranche")]
        rd = [o["latency"] for o in self.ctx.ok_ops("read")]
        t, pct = harness.tail(tr)
        e = self.e2e()
        return {
            "turns_delivered": self.delivered,
            "late_turns_per_tranche": self.late,
            "refresh_latency_p50_s": {"value": e["op_p50_s"], "unit": "s",
                                      "samples": len(tr)},
            "refresh_latency_tail_s": {"value": t, "unit": "s", "percentile": pct,
                                       "samples": len(tr)},
            "refresh_read_p50_s": {"value": 1.0 / e["throughput_per_s"] if rd else None,
                                   "unit": "s", "samples": len(rd)},
            "refresh_bytes_per_turn": {"value": e["bytes_per_turn"], "unit": "B",
                                       "samples": 1},
        }

    def layer_metrics(self, tracer) -> dict:
        import pyarrow.parquet as pq
        tr = self.ctx.ok_ops("tranche")
        n = max(1, len(tr))
        ingest, chunks, dropped = self._microbatches()
        snap = self.cat.current_snapshot("chunks_1m")
        ch = pq.read_table(snap["data_dirs"][0], columns=["payload", "n"])
        m = self.merges
        own = {
            "streaming.microbatches_per_op": (ingest + chunks) / n,
            "sources.storage.merge_calls_per_op": m["calls"] / n,
            "sources.storage.rows_rewritten_per_row_changed":
                m["rows_written"] / max(1, m["rows_changed"]),
            "operators.compression.bytes_per_point":
                sum(len(p) for p in ch.column("payload").to_pylist())
                / max(1, sum(ch.column("n").to_pylist())),
        }
        # series for the kernel replay: the refreshed 1m tier, one
        # gap-filled series per conversation
        tier = self.cat.read("tier_1m").select("conv_id", "bucket", "turn_rate") \
            .toPandas().sort_values(["conv_id", "bucket"])
        corpus = []
        for _, g in tier.groupby("conv_id"):
            b = g["bucket"].to_numpy().astype("datetime64[m]").astype("int64")
            s = np.zeros(b[-1] - b[0] + 1)
            s[b - b[0]] = g["turn_rate"].to_numpy()
            corpus.append(s)
        self.layer_detail = {
            **{f"{span}.s": sum(tracer.durations(span)) / n
               for span in ("streaming.ingest", "streaming.chunk_compress",
                            "sources.storage.merge")},
            "streaming.ingest.microbatches": ingest,
            "streaming.ingest.late_rows": sum(self.late[1:]),
            "streaming.ingest.rows_dropped_by_watermark": dropped,
            "streaming.chunk_compress.microbatches": chunks,
            "sources.storage.merge.calls": m["calls"],
            "sources.storage.expire.s": harness.median(
                tracer.durations("sources.storage.expire") or [0.0]),
            "sources.storage.read.s": harness.median(
                tracer.durations("sources.storage.read") or [0.0]),
        }
        return layers.common(
            tracer, self.ctx.ops, ("tranche",), "sources.transcripts.generate",
            layers.kernel_replay(corpus, layers.drift_pairs(corpus),
                                 self.ctx.seed), own)
