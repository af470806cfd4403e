#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 \
        --seconds 10 --trace 0

Run it from the root of a checkout. It starts one Spark driver on
``local[nproc]``, sets up the workload's inputs from the seed, runs the
workload's operations back to back for ``--seconds``, checks the outputs
outside the timed window, and prints a detail report followed by one JSON
line (the last line of standard output)::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's layer entry points in spans and reports per-layer metrics, and
writes the spans under ``.perfbench/trace/``. See ``perfbench/DESIGN.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if HERE not in sys.path:
    sys.path.insert(0, HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import harness  # noqa: E402
from layers import UNITS as LAYER_UNITS  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = ("pipeline_batch", "nn_search", "tier_refresh")
SETUP_REPS = 2
# end-to-end metrics every workload reports (units as in BENCHMARK.json)
E2E_UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "op_p50_s": "s",
             "bytes_per_turn": "B"}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


class Ctx:
    """What a workload gets: the session, the tracer, the seed, its run
    directory, and ``run_op`` for timed, accounted operations."""

    def __init__(self, args, run_dir, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.tracer = tracer
        self.root = ROOT
        self.nproc = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
        self.spark = None
        self.jobs = None
        self.ops: list = []
        self._n = 0

    def path(self, *parts) -> str:
        return os.path.join(self.run_dir, *parts)

    def run_op(self, kind: str, fn, items: float = 1.0, check=None):
        """Time one operation. ``fn`` returns the operation's result;
        ``check(result)`` (optional) raises on a wrong result and is not
        timed. Failures are recorded, never raised."""
        self._n += 1
        group = f"op-{self._n}-{kind}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, kind)
        extra_groups: list = []
        rec = {"kind": kind, "items": items, "ok": False, "error": None}
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"bench.op.{kind}", "bench"):
                res = fn(extra_groups)
            rec["latency"] = time.perf_counter() - t0
            if check is not None:
                check(res)
            rec["ok"] = True
        except Exception as e:  # noqa: BLE001 - an operation failure is data
            rec.setdefault("latency", time.perf_counter() - t0)
            rec["error"] = f"{type(e).__name__}: {e}"
            log(f"[perfbench] {kind} failed:", traceback.format_exc())
            res = None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        rec.update(self.jobs.count([group, *extra_groups]))
        self.ops.append(rec)
        return res

    def ok_ops(self, kind: str) -> list:
        return [o for o in self.ops if o["kind"] == kind and o["ok"]]


def build_native(cache_dir: str) -> dict:
    """Compile the native kernels into the shared cache before anything is
    timed, and pin whether they are available: every run must see the
    state the first run recorded (a silent NumPy fallback is several
    times slower)."""
    from dynamicaxiswarping_jl_spark.kernels import native
    t0 = time.perf_counter()
    avail = native.available()
    build_s = time.perf_counter() - t0
    rec_path = os.path.join(cache_dir, "native.json")
    if os.path.exists(rec_path):
        with open(rec_path) as f:
            recorded = json.load(f)["available"]
    else:
        recorded = avail
        harness.dump(rec_path, {"available": avail})
    if avail != recorded:
        raise RuntimeError(f"native kernels available={avail}, "
                           f"recorded={recorded}")
    return {"available": avail, "build_s": build_s}


def check_worker_native(spark, expected: bool) -> None:
    def probe(batches):
        import pandas as pd
        from dynamicaxiswarping_jl_spark.kernels import native
        for _ in batches:
            yield pd.DataFrame({"a": [bool(native.available())]})
    n = spark.sparkContext.defaultParallelism
    seen = {r["a"] for r in spark.range(0, n, 1, n)
            .mapInPandas(probe, "a boolean").collect()}
    if seen != {expected}:
        raise RuntimeError(f"worker native availability {seen}, "
                           f"expected {expected}")


def start_session(ctx: Ctx) -> dict:
    from dynamicaxiswarping_jl_spark import plans
    t0 = time.perf_counter()
    with ctx.tracer.span("plans.session.start", "plans"):
        spark = plans.get_spark(app="perfbench", cpus=ctx.nproc,
                                extra_conf=harness.spark_conf(ctx.run_dir))
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    with ctx.tracer.span("plans.session.warm_workers", "plans"):
        plans.warm_python_workers(spark)
    t2 = time.perf_counter()
    ctx.spark = spark
    ctx.jobs = harness.JobCounter(spark.sparkContext)
    return {"start_s": t1 - t0, "warm_workers_s": t2 - t1}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # the engine must be present in the checkout: fail before any set-up
    for need in (harness.PACKAGE, os.path.join("scripts", "run_pipeline.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"[perfbench] {need} not found under {ROOT}")
            return 2

    bench_dir = os.path.join(ROOT, ".perfbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = harness.fresh_dir(os.path.join(bench_dir, "runs", run_id))
    cache_dir = os.path.join(bench_dir, "cache")
    os.makedirs(cache_dir, exist_ok=True)
    harness.isolate_env(ROOT, run_dir, cache_dir)

    native = build_native(cache_dir)
    wl_mod = importlib.import_module(args.workload)
    tracer = Tracer(run_id, enabled=bool(args.trace))
    ctx = Ctx(args, run_dir, tracer)
    wl = wl_mod.Workload(ctx)
    if ctx.trace:
        wl.wrap_layers(tracer)

    failures: list = []
    cpu0 = harness.cpu_times()
    phases = {"start": time.perf_counter()}
    sess = start_session(ctx)
    try:
        check_worker_native(ctx.spark, native["available"])
        with harness.RssSampler(harness.jvm_pid()) as rss:
            phases["session"] = time.perf_counter()
            setup_reps = []
            for i in range(SETUP_REPS):
                t0 = time.perf_counter()
                with tracer.span("bench.setup", "bench"):
                    wl.setup(i)
                setup_reps.append(time.perf_counter() - t0)
            tracer.enabled = False   # warm-up is neither set-up nor measured
            wl.warmup()
            tracer.enabled = ctx.trace
            phases["setup"] = time.perf_counter()
            wl.measure(time.perf_counter() + args.seconds)
            phases["measure"] = time.perf_counter()
            tracer.enabled = False
            try:
                failures += wl.check()
            except Exception as e:  # noqa: BLE001 - a crashed check fails the run
                log(traceback.format_exc())
                failures.append(f"check crashed: {type(e).__name__}: {e}")
            phases["check"] = time.perf_counter()
            if ctx.trace:
                layers = wl.layer_metrics(tracer)
            phases["layers"] = time.perf_counter()
        peak_rss, rss_samples = rss.peak, rss.samples
    finally:
        tracer.unwrap()
        harness.stop_spark(ctx.spark)
    phases["stop"] = time.perf_counter()
    names = list(phases)
    phases_s = {b: phases[b] - phases[a] for a, b in zip(names, names[1:])}

    attempted = len(ctx.ops)
    failed = sum(not o["ok"] for o in ctx.ops) + len(failures)
    failures += [f"{o['kind']}: {o['error']}" for o in ctx.ops if not o["ok"]]
    e2e = wl.e2e()
    e2e["setup_s"] = sess["start_s"] + sess["warm_workers_s"] + harness.median(setup_reps)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "nproc": ctx.nproc, "native": native, "session": sess,
        "host_steal_share": harness.steal_share(cpu0, harness.cpu_times()),
        "setup_reps_s": setup_reps, "phases_s": phases_s, "failures": failures,
        "setup_s": {"value": e2e["setup_s"], "unit": "s", "samples": SETUP_REPS},
        "peak_rss_mb": {"value": peak_rss, "unit": "MB", "samples": rss_samples},
        "failed_op_share": failed / max(1, attempted),
        "ops": ctx.ops, "detail": wl.detail(),
    }
    if ctx.trace:
        layers.update({
            "plans.session.start_s": ("s", sess["start_s"]),
            "plans.session.warm_workers_s": ("s", sess["warm_workers_s"]),
            "plans.session.peak_rss_mb": ("MB", peak_rss),
            "kernels.native.available": ("count", float(native["available"])),
        })
        layers.update(spark_counts([o for o in ctx.ops if o["kind"] != "warmup"]))
        if set(layers) != set(LAYER_UNITS):
            raise RuntimeError(f"per-layer metric set mismatch: "
                               f"{sorted(set(layers) ^ set(LAYER_UNITS))}")
        report["per_layer"] = layers
        report["layer_detail"] = wl.layer_detail
        report["self_time"] = tracer.self_times()
        harness.dump(os.path.join(bench_dir, "trace", f"{run_id}.json"),
                     {**tracer.export(), "report": report})
        metrics = {k: {"value": v, "unit": u} for k, (u, v) in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"report": report}, default=str))
    correct = not failures and all(harness.finite(m["value"])
                                   for m in metrics.values())
    if correct:
        shutil.rmtree(run_dir, ignore_errors=True)  # a failed run's files stay
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def spark_counts(ops) -> dict:
    n = max(1, len(ops))
    return {
        "plans.spark.jobs_per_op": ("count", sum(o["jobs"] for o in ops) / n),
        "plans.spark.stages_per_op": ("count", sum(o["stages"] for o in ops) / n),
        "plans.spark.tasks_per_op": ("count", sum(o["tasks"] for o in ops) / n),
        "plans.spark.tasks_failed": ("count", float(sum(o["tasks_failed"] for o in ops))),
    }


if __name__ == "__main__":
    sys.exit(main())
