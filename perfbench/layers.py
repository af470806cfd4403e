"""Per-layer metrics every workload reports from its traced run, and the
single-thread kernel replay behind the ``kernels.*`` numbers.

Every workload prints the same metric names. A layer a workload does not
use reports a count or share of 0, never a time of 0: its time metrics
come from layers every workload exercises.
"""

from __future__ import annotations

import time

import numpy as np

import harness

RADIUS = 5
QUERY_LEN = 32
# layers with self time under the timed operations: the kernels run inside
# UDFs on the workers (measured by the driver replay instead), and the plans
# layer's entry points run in set-up
LAYERS = ("sources", "operators", "streaming", "bench")

# name -> unit; workloads fill the ones marked "own" (default 0)
UNITS = {
    "plans.session.start_s": "s",
    "plans.session.warm_workers_s": "s",
    "plans.session.peak_rss_mb": "MB",
    "sources.transcripts.generate_s": "s",
    "operators.self_s_per_op": "s",
    **{f"{layer}.self_share": "share" for layer in LAYERS},
    "kernels.dtwnn.ms_per_query": "ms",
    "kernels.dtw_cost.us_per_pair": "us",
    "kernels.native.available": "count",
    "plans.spark.jobs_per_op": "count",
    "plans.spark.stages_per_op": "count",
    "plans.spark.tasks_per_op": "count",
    "plans.spark.tasks_failed": "count",
    "trace.op_p50_s": "s",
    "trace.spans_per_op": "count",
    # own: workload-specific counters
    "plans.checkpoints.bytes_per_turn": "B",
    "operators.compression.bytes_per_point": "B",
    "operators.dtw_ops.prune_share": "share",
    "streaming.microbatches_per_op": "count",
    "sources.storage.merge_calls_per_op": "count",
    "sources.storage.rows_rewritten_per_row_changed": "ratio",
}
OWN = ("plans.checkpoints.bytes_per_turn", "operators.compression.bytes_per_point",
       "operators.dtw_ops.prune_share", "streaming.microbatches_per_op",
       "sources.storage.merge_calls_per_op",
       "sources.storage.rows_rewritten_per_row_changed")


def query_patterns(series: list, n: int, rng: np.random.Generator,
                   m: int = QUERY_LEN) -> list:
    """Query patterns cut from seeded positions of corpus series, with
    seeded noise, so every query has a near match in the corpus."""
    # short-series corpora (the 1h tier of short conversations) get
    # shorter patterns
    m = min(m, max(4, max(len(s) for s in series) // 2))
    long = [s for s in series if len(s) >= m]
    out = []
    for _ in range(n):
        s = long[rng.integers(len(long))]
        at = rng.integers(len(s) - m + 1)
        q = s[at:at + m] + rng.normal(0.0, 0.1 * (s.std() + 1e-3), m)
        out.append(np.asarray(q, dtype=np.float64))
    return out


def drift_pairs(fine: list, coarse: list | None = None, block: int = 60) -> list:
    """(fine, coarse resampled onto the fine grid) pairs, as
    ``operators.drift_scores`` scores them. Without ``coarse`` the coarse
    series is the fine one summed over ``block`` points (the next tier)."""
    pairs = []
    for i, a in enumerate(fine):
        if coarse is not None:
            b = coarse[i]
        else:
            nb = -(-len(a) // block)
            b = np.add.reduceat(a, np.arange(0, nb * block, block)[:nb]) / block
        bi = (np.interp(np.linspace(0, 1, len(a)), np.linspace(0, 1, len(b)), b)
              if len(b) > 1 else np.full(len(a), b[0]))
        pairs.append((np.asarray(a, dtype=np.float64), bi))
    return pairs


def kernel_replay(corpus: list, pairs: list, seed: int) -> dict:
    """Single-thread driver replay: one NN query over the whole corpus
    (best-so-far threaded across series, as the search operator does) and
    banded DTW cost over drift pairs."""
    from dynamicaxiswarping_jl_spark.kernels import dtw_cost, dtwnn
    rng = np.random.default_rng(seed)
    per_query = []
    for q in query_patterns(corpus, 3, rng):
        t0 = time.perf_counter()
        bsf = np.inf
        for y in corpus:
            if len(y) >= len(q):
                r = dtwnn(q, y, "sqeuclidean", RADIUS, initial_bsf=bsf)
                bsf = min(bsf, r.cost)
        per_query.append(time.perf_counter() - t0)
    use = pairs[:400]
    t0 = time.perf_counter()
    for a, b in use:
        dtw_cost(a, b, "sqeuclidean", RADIUS)
    pair_s = (time.perf_counter() - t0) / max(1, len(use))
    return {"kernels.dtwnn.ms_per_query": 1e3 * harness.median(per_query),
            "kernels.dtw_cost.us_per_pair": 1e6 * pair_s}


def common(tracer, ops: list, kinds: tuple, gen_spans: str,
           replay: dict, own: dict) -> dict:
    """Assemble the per-layer metric set. ``kinds`` are the operation kinds
    whose latency is the workload's primary ``op_p50_s``."""
    timed = [o for o in ops if o["ok"] and o["kind"] != "warmup"]
    n = max(1, len(timed))
    st = tracer.self_times(under="bench.op.")
    total = sum(st["by_layer"].values()) or 1.0
    primary = [o["latency"] for o in timed if o["kind"] in kinds]
    out = {
        "sources.transcripts.generate_s":
            harness.median(tracer.durations(gen_spans) or [0.0]),
        "operators.self_s_per_op": st["by_layer"].get("operators", 0.0) / n,
        **{f"{layer}.self_share": st["by_layer"].get(layer, 0.0) / total
           for layer in LAYERS},
        **replay,
        "trace.op_p50_s": harness.median(primary) if primary else float("nan"),
        "trace.spans_per_op": st["spans"] / n,
        **{k: float(own.get(k, 0.0)) for k in OWN},
    }
    return {k: (UNITS[k], v) for k, v in out.items()}
