"""nn_search: analysts' DTW nearest-neighbour requests over a cached
corpus of gap-filled 1m-tier conversation series.

Set-up generates long conversations, rolls them to the 1m tier, gap-fills,
assembles one series per conversation-day, writes the corpus as a
checkpointed stage and caches it.
The timed loop is a single closed-loop client: interactive requests of a
few query patterns (the closure path of ``dtwnn_search``) for the first
40% of the window, then bulk requests of many more than ``MAX_CLOSURE``
patterns (the blocked cogroup path). Interactive requests are bound by
Spark's fixed cost per request, bulk requests mostly by kernel time.
"""

from __future__ import annotations

import os
import time
from math import nan

import numpy as np

import harness
import layers

N_CONV = 120
MEAN_TURNS = 300.0
INTERACTIVE_QUERIES = 4
BULK_QUERIES = 96
# one series segment per conversation-day (at most 1440 points), as the
# operator's docstring advises for unbounded histories; it also bounds the
# longest series, whose task sets every request's latency
SEGMENT = "1 day"
MAX_CLOSURE = 16       # bulk requests exceed it, interactive ones do not
CHECKED_REQUESTS = 3   # seeded sample of requests re-checked by brute force


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)
        # series tasks per request, pinned so a local[1] replay of a
        # request prunes as the local[nproc] one did (the operator's
        # default is two per core)
        self.partitions = 2 * ctx.nproc
        self.corpus = None      # cached DataFrame
        self.points: list = []  # driver copy, for patterns and checks
        self.turns = 0
        self.corpus_bytes = 0
        self.checkpoint_bytes = 0
        self.requests: list = []  # (kind, queries, result rows)
        self.layer_detail: dict = {}

    def wrap_layers(self, tracer) -> None:
        from dynamicaxiswarping_jl_spark import operators
        from dynamicaxiswarping_jl_spark.plans.checkpoints import CheckpointManager
        # only driver-side entry points are wrapped: a wrapper captured by
        # a UDF closure would be shipped to the workers
        tracer.wrap(operators, "dtwnn_search", "operators.dtw_ops.dtwnn_search",
                    "operators")
        tracer.wrap(CheckpointManager, "run_stage",
                    lambda self, stage, *a, **k: f"plans.checkpoints.{stage}",
                    "plans")

    # -- set-up: seeded corpus, cached ---------------------------------------------
    def setup(self, rep: int) -> None:
        from dynamicaxiswarping_jl_spark import operators, sources
        from dynamicaxiswarping_jl_spark.plans.checkpoints import CheckpointManager
        spark, tr = self.ctx.spark, self.ctx.tracer
        if self.corpus is not None:
            self.corpus.unpersist()
        raw = harness.fresh_dir(self.ctx.path(f"turns{rep}"))
        with tr.span("sources.transcripts.generate", "sources"):
            (sources.transcripts_df(spark, N_CONV, seed=self.ctx.seed,
                                    mean_turns=MEAN_TURNS)
             .write.mode("overwrite").parquet(raw))
        turns = spark.read.parquet(raw)
        # the corpus is a checkpointed stage in a fresh workdir, as the
        # batch job writes its series
        wd = harness.fresh_dir(self.ctx.path(f"corpus{rep}"))
        cm = CheckpointManager(spark, wd)
        cm.run_stage("series_1m", lambda: operators.assemble_series(
            operators.gapfill(operators.rollup_turns(turns, "1m"), 60),
            "turn_rate", step_s=60, window=SEGMENT))
        path = os.path.join(wd, "series_1m", "data")
        self.corpus = spark.read.parquet(path).select("conv_id", "points").cache()
        rows = self.corpus.collect()
        self.points = [np.asarray(r["points"], dtype=np.float64) for r in rows]
        self.turns = turns.count()
        self.corpus_bytes = harness.data_bytes(path)
        self.corpus_path = path
        self.checkpoint_bytes = harness.dir_bytes(wd)

    # -- timed window --------------------------------------------------------------
    def _request(self, kind: str, n: int):
        from dynamicaxiswarping_jl_spark import operators
        qs = layers.query_patterns(self.points, n, self.rng)
        spark = self.ctx.spark

        def run(extra_groups):
            qdf = spark.createDataFrame(
                [(f"q{i}", q.tolist()) for i, q in enumerate(qs)],
                "query_id string, q array<double>")
            out = operators.dtwnn_search(qdf, self.corpus, radius=layers.RADIUS,
                                         max_closure_queries=MAX_CLOSURE,
                                         partitions=self.partitions,
                                         n_queries=n).collect()
            return {r["query_id"]: r.asDict() for r in out}

        def check(res):
            if len(res) != n or not all(np.isfinite(r["cost"]) for r in res.values()):
                raise AssertionError(f"{kind}: {len(res)} of {n} queries answered")
            self.requests.append((kind, qs, res))

        self.ctx.run_op(kind, run, items=n, check=check)

    def warmup(self) -> None:
        """One request of each kind before timing: a serving process has
        both plans' generated code compiled and the corpus blocks loaded."""
        self._request("warmup", INTERACTIVE_QUERIES)
        self._request("warmup", 2 * MAX_CLOSURE)

    def measure(self, deadline: float) -> None:
        """Interactive requests for the first 40% of the window, then bulk
        requests to its end (at least one of each): a bulk request takes
        about twice as long, so both medians get a few samples."""
        switch = deadline - 0.6 * self.ctx.seconds
        while time.perf_counter() < switch or not self.ctx.ok_ops("interactive"):
            self._request("interactive", INTERACTIVE_QUERIES)
            if len(self.ctx.ops) > 50:
                break  # every request failing: stop, the failures are counted
        while time.perf_counter() < deadline or not self.ctx.ok_ops("bulk"):
            self._request("bulk", BULK_QUERIES)
            if len(self.ctx.ops) > 50:
                break

    # -- correctness ------------------------------------------------------------------
    def check(self) -> list:
        """Each sampled winner's cost equals a brute-force driver-side
        ``kernels.dtwnn`` minimum over every series."""
        from dynamicaxiswarping_jl_spark.kernels import dtwnn
        if not self.requests:
            return ["no request completed"]
        errs = []
        rng = np.random.default_rng(self.ctx.seed + 1)
        picks = rng.choice(len(self.requests),
                           min(CHECKED_REQUESTS, len(self.requests)), replace=False)
        for ri in picks:
            kind, qs, res = self.requests[ri]
            for qi in rng.choice(len(qs), min(4, len(qs)), replace=False):
                q = qs[qi]
                best = min(dtwnn(q, y, "sqeuclidean", layers.RADIUS).cost
                           for y in self.points if len(y) >= len(q))
                got = res[f"q{qi}"]["cost"]
                if not np.isclose(got, best, rtol=1e-9, atol=1e-12):
                    errs.append(f"{kind} request {ri} query {qi}: "
                                f"cost {got} != brute force {best}")
        return errs

    # -- metrics ----------------------------------------------------------------------
    def e2e(self) -> dict:
        inter = self.ctx.ok_ops("interactive")
        bulk = self.ctx.ok_ops("bulk")
        return {
            "throughput_per_s": (sum(o["items"] for o in bulk)
                                 / sum(o["latency"] for o in bulk)) if bulk else 0.0,
            "op_p50_s": harness.median([o["latency"] for o in inter]) if inter else 0.0,
            "bytes_per_turn": self.corpus_bytes / max(1, self.turns),
        }

    def detail(self) -> dict:
        inter = [o["latency"] for o in self.ctx.ok_ops("interactive")]
        bulk = self.ctx.ok_ops("bulk")
        t, pct = harness.tail(inter)
        lens = [len(p) for p in self.points]
        e = self.e2e()
        return {
            "corpus_series": len(self.points), "corpus_turns": self.turns,
            "series_len_p50": float(np.median(lens)) if lens else None,
            "series_len_p99": float(np.percentile(lens, 99)) if lens else None,
            "nn_request_p50_s": {"value": e["op_p50_s"], "unit": "s",
                                 "samples": len(inter)},
            "nn_request_tail_s": {"value": t, "unit": "s", "percentile": pct,
                                  "samples": len(inter)},
            "nn_bulk_queries_per_s": {"value": e["throughput_per_s"], "unit": "1/s",
                                      "samples": len(bulk)},
        }

    def _parallel_efficiency(self) -> dict:
        """Re-run the last bulk request on local[1] beside its local[nproc]
        time, warm and with the same pinned task count: the single-machine
        proxy for the N -> 4N scaling rule (a report number, not a bounded
        metric). Restarts the context on the same JVM."""
        from dynamicaxiswarping_jl_spark import operators, plans
        _, qs, _ = [r for r in self.requests if r[0] == "bulk"][-1]
        t_n = [o["latency"] for o in self.ctx.ok_ops("bulk")][-1]
        path = self.corpus_path
        self.ctx.spark.stop()
        spark = plans.get_spark(app="perfbench-local1", cpus=1,
                                extra_conf=harness.spark_conf(self.ctx.run_dir))
        self.ctx.spark = spark
        plans.warm_python_workers(spark)
        corpus = spark.read.parquet(path).select("conv_id", "points").cache()
        corpus.count()

        def bulk():
            qdf = spark.createDataFrame(
                [(f"q{i}", q.tolist()) for i, q in enumerate(qs)],
                "query_id string, q array<double>")
            operators.dtwnn_search(qdf, corpus, radius=layers.RADIUS,
                                   max_closure_queries=MAX_CLOSURE,
                                   partitions=self.partitions,
                                   n_queries=len(qs)).collect()
        bulk()   # untimed: the timed local[nproc] request ran warm too
        t0 = time.perf_counter()
        bulk()
        t_1 = time.perf_counter() - t0
        return {"plans.parallel_efficiency": t_1 / (t_n * self.ctx.nproc),
                "plans.parallel.bulk_local1_s": t_1,
                "plans.parallel.bulk_localN_s": t_n}

    def layer_metrics(self, tracer) -> dict:
        considered = pruned_end = pruned_env = 0
        for _, qs, res in self.requests:
            for qi in range(len(qs)):
                r = res[f"q{qi}"]
                pruned_end += r["prune_end"]
                pruned_env += r["prune_env"]
            considered += sum(max(0, len(y) - len(qs[0]) + 1)
                              for y in self.points) * len(qs)
        own = {"operators.dtw_ops.prune_share":
               (pruned_end + pruned_env) / max(1, considered),
               "plans.checkpoints.bytes_per_turn":
               self.checkpoint_bytes / max(1, self.turns)}
        inter = [o["latency"] for o in self.ctx.ok_ops("interactive")]
        bulk = [o["latency"] for o in self.ctx.ok_ops("bulk")]
        self.layer_detail = {
            "operators.dtw_ops.dtwnn_search.request_s": harness.median(inter or [nan]),
            "operators.dtw_ops.dtwnn_search.bulk_s": harness.median(bulk or [nan]),
            "operators.dtw_ops.dtwnn_search.prune_end_share":
                pruned_end / max(1, considered),
            "operators.dtw_ops.dtwnn_search.prune_env_share":
                pruned_env / max(1, considered),
            **self._parallel_efficiency(),
        }
        return layers.common(
            tracer, self.ctx.ops, ("interactive",), "sources.transcripts.generate",
            layers.kernel_replay(self.points, layers.drift_pairs(self.points),
                                 self.ctx.seed), own)
