"""pipeline_batch: the nine checkpointed stages of scripts/run_pipeline.py
over pre-generated seeded transcripts, each run in a fresh workdir.

One operation is one invocation of the pipeline job's ``main`` on the
seeded parquet (the batch user's job), so the first operation in a run is
the cold one a fresh ``spark-submit`` pays. Relational operators and
checkpoint writes do almost all the work; series are short, so kernel
changes should not move this workload.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import time

import numpy as np

import harness
import layers

N_CONV = 600          # ~40k turns; lognormal conversation lengths
MEAN_TURNS = 40.0
# run_stage stage name -> span name (operators.<module>.<stage>)
STAGE_SPANS = {
    "tier_1m": "operators.rollup.tier_1m",
    "tier_1m_gapfilled": "operators.gapfill.tier_1m_gapfilled",
    "tier_1h": "operators.rollup.tier_1h",
    "tier_1d": "operators.rollup.tier_1d",
    "chunks_1h": "operators.compression.chunks_1h",
    "series_1h": "operators.rollup.series_1h",
    "series_1d": "operators.rollup.series_1d",
    "drift": "operators.dtw_ops.drift",
    "dba_reps": "operators.dba_ops.dba_reps",
}


def _load_pipeline(root: str):
    path = os.path.join(root, "scripts", "run_pipeline.py")
    spec = importlib.util.spec_from_file_location("perfbench_run_pipeline", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.pipeline = _load_pipeline(ctx.root)
        self.input = None
        self.input_rows = 0
        self.runs: list = []   # (workdir, summary, started_at)
        self.layer_detail: dict = {}

    def wrap_layers(self, tracer) -> None:
        from dynamicaxiswarping_jl_spark.plans.checkpoints import CheckpointManager
        tracer.wrap(CheckpointManager, "run_stage",
                    lambda self, stage, *a, **k: STAGE_SPANS[stage], "operators")

    # -- set-up: seeded input parquet ------------------------------------------
    def setup(self, rep: int) -> None:
        from dynamicaxiswarping_jl_spark import sources
        path = harness.fresh_dir(self.ctx.path(f"input{rep}"))
        spark = self.ctx.spark
        with self.ctx.tracer.span("sources.transcripts.generate", "sources"):
            (sources.transcripts_df(spark, N_CONV, seed=self.ctx.seed,
                                    mean_turns=MEAN_TURNS)
             .write.mode("overwrite").parquet(path))
        self.input = path
        self.input_rows = spark.read.parquet(path).count()

    # -- timed window --------------------------------------------------------------
    def _one(self, extra_groups):
        n = len(self.runs)
        wd = self.ctx.path(f"workdir{n}")
        started = time.time()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = self.pipeline.main(["--input", self.input, "--workdir", wd,
                                     "--cpus", str(self.ctx.nproc)])
        if rc != 0:
            raise RuntimeError(f"pipeline exited {rc}")
        summary = json.loads(buf.getvalue().strip().splitlines()[-1])
        self.runs.append((wd, summary, started))
        return summary

    def _check_run(self, summary) -> None:
        wd, _, started = self.runs[-1]
        if summary["turns"] != self.input_rows:
            raise AssertionError(f"sum(n_turns) {summary['turns']} != "
                                 f"{self.input_rows} input rows")
        for stage in STAGE_SPANS:
            mpath = os.path.join(wd, stage, "manifest.json")
            if os.path.getmtime(mpath) < started:
                raise AssertionError(f"stage {stage} resumed from an old manifest")

    def warmup(self) -> None:
        """Nothing to warm: each pipeline run is a batch job, and the first
        one in a session is the cold run a fresh job submission pays."""

    def measure(self, deadline: float) -> None:
        while not self.runs or time.perf_counter() < deadline:
            self.ctx.run_op("pipeline", self._one, items=self.input_rows,
                            check=self._check_run)
            if not self.runs:
                break  # the first run failed: counted, and nothing left to check

    # -- correctness ------------------------------------------------------------------
    def check(self) -> list:
        if not self.runs:
            return ["no pipeline run completed"]
        errs = []
        wd, summary, _ = self.runs[-1]
        errs += self._check_tier_1m(wd)
        errs += self._check_drift(wd, summary["mean_drift_cost"])
        return errs

    def _check_tier_1m(self, wd: str) -> list:
        """tier_1m equals a DuckDB rollup of the same parquet."""
        import duckdb
        con = duckdb.connect()
        try:
            diff = con.execute(f"""
                WITH ref AS (
                  SELECT conv_id,
                         (epoch_us(ts) // 60000000) * 60000000 AS b,
                         count(*) AS n_turns, count(tool) AS tool_calls
                  FROM read_parquet('{self.input}/*.parquet')
                  GROUP BY 1, 2),
                got AS (
                  SELECT conv_id, epoch_us(bucket) AS b, n_turns, tool_calls
                  FROM read_parquet('{wd}/tier_1m/data/*.parquet')
                  WHERE turn_rate = n_turns)
                SELECT (SELECT count(*) FROM (SELECT * FROM ref EXCEPT ALL
                                              SELECT * FROM got)),
                       (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL
                                              SELECT * FROM ref)),
                       (SELECT count(*) FROM
                          read_parquet('{wd}/tier_1m/data/*.parquet'))
            """).fetchone()
        finally:
            con.close()
        if diff[0] or diff[1]:
            return [f"tier_1m differs from the DuckDB rollup: {diff[0]} missing, "
                    f"{diff[1]} extra of {diff[2]} rows"]
        return []

    def _check_drift(self, wd: str, mean_cost: float) -> list:
        """Every conversation's drift cost repeats bit-for-bit when the
        drift stage is re-run on the checkpointed series, and the job's
        mean_drift_cost is their mean (Spark's avg sums in partition
        order, so the mean itself may differ in the last bit)."""
        import math
        from dynamicaxiswarping_jl_spark.operators import drift_scores
        spark = self.ctx.spark
        fine = spark.read.parquet(os.path.join(wd, "series_1h", "data"))
        coarse = spark.read.parquet(os.path.join(wd, "series_1d", "data"))
        again = {r["conv_id"]: r["cost"] for r in
                 drift_scores(fine, coarse, radius=5).select("conv_id", "cost").collect()}
        first = {r["conv_id"]: r["cost"] for r in
                 spark.read.parquet(os.path.join(wd, "drift", "data"))
                 .select("conv_id", "cost").collect()}
        errs = []
        if again != first:
            n = sum(again.get(k) != v for k, v in first.items())
            errs.append(f"drift costs not repeatable: {n} of {len(first)} differ")
        mean = math.fsum(first.values()) / max(1, len(first))
        if not math.isclose(mean, mean_cost, rel_tol=1e-12, abs_tol=1e-15):
            errs.append(f"mean_drift_cost {mean_cost} != mean of drift costs {mean}")
        return errs

    # -- metrics ----------------------------------------------------------------------
    def _ok(self):
        return self.ctx.ok_ops("pipeline")

    def e2e(self) -> dict:
        ops = self._ok()
        turns = sum(o["items"] for o in ops)
        return {
            "throughput_per_s": turns / sum(o["latency"] for o in ops) if ops else 0.0,
            "op_p50_s": harness.median([o["latency"] for o in ops]) if ops else 0.0,
            "bytes_per_turn": harness.median(
                [harness.dir_bytes(wd) / s["turns"] for wd, s, _ in self.runs]),
        }

    def detail(self) -> dict:
        ops = self._ok()
        e = self.e2e()
        return {
            "input_turns": self.input_rows, "n_conv": N_CONV,
            "pipeline_turns_per_s": {"value": e["throughput_per_s"], "unit": "1/s",
                                     "samples": len(ops)},
            "pipeline_run_s": {"value": e["op_p50_s"], "unit": "s",
                               "samples": len(ops)},
            "pipeline_bytes_per_turn": {"value": e["bytes_per_turn"], "unit": "B",
                                        "samples": len(self.runs)},
            "summaries": [s for _, s, _ in self.runs],
        }

    def layer_metrics(self, tracer) -> dict:
        import pyarrow.parquet as pq
        wd, summary, _ = self.runs[-1]

        def table(stage):
            return pq.read_table(os.path.join(wd, stage, "data"))

        chunks = table("chunks_1h")
        payload = sum(len(p) for p in chunks.column("payload").to_pylist())
        drift = table("drift")
        fine = [np.asarray(p) for p in table("series_1h").column("points").to_pylist()]
        coarse = [np.asarray(p) for p in table("series_1d").column("points").to_pylist()]
        own = {
            "plans.checkpoints.bytes_per_turn": harness.median(
                [harness.dir_bytes(w) / s["turns"] for w, s, _ in self.runs]),
            "operators.compression.bytes_per_point":
                payload / max(1, sum(chunks.column("n").to_pylist())),
            "operators.dtw_ops.prune_share":
                sum(drift.column("pruned_lb").to_pylist()) / max(1, drift.num_rows),
        }
        out = layers.common(
            tracer, self.ctx.ops, ("pipeline",), "sources.transcripts.generate",
            layers.kernel_replay(fine, layers.drift_pairs(fine, coarse),
                                 self.ctx.seed), own)
        # stage spans and manifest row counts, for the trace report
        self.layer_detail = {
            f"{span}.s": harness.median(tracer.durations(span) or [0.0])
            for span in STAGE_SPANS.values()}
        for stage, span in STAGE_SPANS.items():
            with open(os.path.join(wd, stage, "manifest.json")) as f:
                self.layer_detail[f"{span}.rows"] = json.load(f)["rows"]
        self.layer_detail.update({
            "plans.checkpoints.bytes_written": harness.median(
                [harness.dir_bytes(w) for w, _, _ in self.runs]),
            "operators.compression.bytes_per_point":
                own["operators.compression.bytes_per_point"],
            "operators.dtw_ops.drift.pruned_share": own["operators.dtw_ops.prune_share"],
        })
        return out
