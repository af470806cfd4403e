#!/usr/bin/env python
"""End-to-end rollup pipeline job — the spark-submit entry point.

North-rule execution form::

    scripts/package.sh   # builds dist/engine.zip
    spark-submit --master local[32] --py-files dist/engine.zip \
        scripts/run_pipeline.py --input <transcripts parquet> \
        --workdir /tmp/pipeline --n-conv 200

Stages (each checkpoint-resumable with a lineage manifest; rerunning the
same command skips completed stages):

    ingest → 1m tier → gap-fill → 1h tier → 1d tier → gorilla chunks →
    assembled series → tier drift scores → DBA representatives

With ``--input`` absent, a deterministic synthetic transcript table is
generated (sources/transcripts.py) — no external data.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Allow direct `python scripts/run_pipeline.py` runs (no spark-submit
# --py-files): put the repo root on the driver path and export it so
# local-mode Python workers resolve the package too.
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))


def run_streaming(spark, args, turns):
    """North-star tail exercised via Structured Streaming at pipeline scale
    (VERDICT r02 #6): the same turns arrive as files in two time-split
    tranches; each tranche is one ``availableNow`` run of the SAME
    checkpointed queries (the second run resumes from the first's stream
    checkpoint — buckets spanning the split are re-emitted in update mode
    and converge via the catalog MERGE, not by double-append). Afterwards
    every materialized artifact must equal the batch path exactly:
    1m tier rows, 1h/1d cascades, and the Gorilla chunk table
    (byte-level: same n/t0/v0/crc per chunk window).
    """
    import os
    import time

    from pyspark.sql import functions as F

    from dynamicaxiswarping_jl_spark.operators import (
        rollup_turns, cascade, compress_chunks)
    from dynamicaxiswarping_jl_spark.sources.storage import TableCatalog
    from dynamicaxiswarping_jl_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from dynamicaxiswarping_jl_spark.streaming import (
        start_file_ingest, start_chunk_compress)

    wd = args.workdir
    src = os.path.join(wd, "stream_src")
    feed = os.path.join(wd, "stream_tier_feed")
    ck_ingest = os.path.join(wd, "ck_ingest")
    ck_chunks = os.path.join(wd, "ck_chunks")
    cat = TableCatalog(spark, os.path.join(wd, "stream_catalog"))

    lo, hi = turns.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    tranches = [turns.filter(F.col("ts") <= F.lit(mid)),
                turns.filter(F.col("ts") > F.lit(mid))]

    t0 = time.time()
    n_turns = 0
    for part in tranches:
        # new files land in the source dir; the checkpointed queries pick
        # up exactly the unseen ones (resume evidence: same checkpoint,
        # second invocation)
        part.write.mode("append").parquet(src)
        n_turns += part.count()
        start_file_ingest(spark, src, feed, ck_ingest, TRANSCRIPT_SCHEMA,
                          catalog=cat, table="tier_1m").awaitTermination()
        start_chunk_compress(spark, feed, cat, "chunks_1m", ck_chunks,
                             tier="1m", chunk="7 days",
                             source_table="tier_1m").awaitTermination()
    streaming_sec = time.time() - t0

    def diff(a, b, cols):
        a, b = a.select(*cols), b.select(*cols)
        return a.exceptAll(b).count() + b.exceptAll(a).count()

    tier_cols = ["conv_id", "bucket", "n_turns", "tool_calls", "turn_rate"]
    chunk_cols = ["conv_id", "tier", "chunk_start", "n", "t0", "v0", "crc"]
    s1m = cat.read("tier_1m").cache()
    b1m = rollup_turns(turns, "1m").cache()
    d = {
        "tier_1m_diff": diff(s1m, b1m, tier_cols),
        "tier_1h_diff": diff(cascade(s1m, "1h"), cascade(b1m, "1h"),
                             tier_cols),
        "tier_1d_diff": diff(cascade(s1m, "1d"), cascade(b1m, "1d"),
                             tier_cols),
        "chunks_diff": diff(cat.read("chunks_1m"),
                            compress_chunks(b1m, "1m", "turn_rate",
                                            chunk="7 days"), chunk_cols),
    }
    return {
        "mode": "streaming",
        "turns": n_turns,
        "tranches": len(tranches),
        "tier_1m_rows": s1m.count(),
        "chunk_rows": cat.read("chunks_1m").count(),
        "chunk_snapshots": len(cat.snapshots("chunks_1m")),
        "streaming_sec": round(streaming_sec, 3),
        **d,
        "equal": all(v == 0 for v in d.values()),
    }


def auto_shuffle_partitions(est_turns: int, parallelism: int,
                            turns_per_partition: int = 1_500_000) -> int:
    """Reduce partitions that keep per-partition sort memory-resident.

    The pipeline's widest shuffles are row-proportional to the turn
    count (1m tier ≈ 0.34×, gap-filled ≈ 0.73×), so ~1.5M turns per
    partition bounds any reduce partition at low single-digit millions
    of narrow rows. Floor of 2× parallelism keeps every core busy at
    small inputs; cap 65536 bounds scheduler overhead at the 10¹²-turn
    design point (where the PLANS.md sizing model takes over). The floor
    wins over the cap: past 32768 cores the result exceeds 65536."""
    want = -(-int(est_turns) // int(turns_per_partition))
    return max(2 * int(parallelism), min(65536, want))


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--input", default=None,
                   help="parquet dir of transcripts (conv_id, turn_idx, role, text, tool, ts)")
    p.add_argument("--workdir", required=True)
    p.add_argument("--n-conv", type=int, default=100,
                   help="synthetic conversations when --input is absent")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--radius", type=int, default=5)
    p.add_argument("--cpus", type=int, default=None,
                   help="only used when not running under spark-submit")
    p.add_argument("--shuffle-partitions", default="auto",
                   help="reduce-side partition sizing: 'auto' (default) "
                        "sets spark.sql.shuffle.partitions from the "
                        "estimated turn count (~1.5M turns/partition — "
                        "keeps per-partition sort memory-resident; AQE "
                        "coalesces the smaller stages back down), 'keep' "
                        "leaves the session conf untouched, or an integer")
    p.add_argument("--streaming", action="store_true",
                   help="ingest the turns through Structured Streaming "
                        "(file source → watermarked 1m agg → catalog MERGE "
                        "→ incremental Gorilla chunks) in two resumable "
                        "tranches, then assert tier/chunk equality with "
                        "the batch path")
    args = p.parse_args(argv)

    import time

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active
    else:
        builder = SparkSession.builder.appName("spark-ts-warp-pipeline")
        if args.cpus:
            builder = builder.master(f"local[{args.cpus}]")
        spark = (builder
                 .config("spark.sql.session.timeZone", "UTC")
                 .config("spark.sql.adaptive.enabled", "true")
                 .config("spark.sql.execution.arrow.pyspark.enabled", "true")
                 .getOrCreate())

    from dynamicaxiswarping_jl_spark.operators import (
        rollup_turns, cascade, gapfill, assemble_series, compress_chunks,
        drift_scores, dba_per_group)
    from dynamicaxiswarping_jl_spark.plans import CheckpointManager
    from dynamicaxiswarping_jl_spark.sources import transcripts_df

    # warm python workers so the first kernel stage doesn't pay daemon
    # spawn; timing starts after (measures the pipeline, not JVM startup)
    from dynamicaxiswarping_jl_spark.plans import warm_python_workers
    warm_python_workers(spark)
    t_start = time.time()

    cm = CheckpointManager(spark, args.workdir)
    if args.input:
        turns = spark.read.parquet(args.input)
        lineage = {"input": args.input}
        # a real count job, cheap because the empty projection is served
        # from parquet row-group metadata; it still touches every file
        est_turns = turns.count()
    else:
        turns = transcripts_df(spark, args.n_conv, seed=args.seed)
        lineage = {"generator": {"n_conv": args.n_conv, "seed": args.seed}}
        # generator turn count is lognormal(log 40, 1) clipped → mean ~66
        # per conversation; an estimate is all sizing needs
        est_turns = args.n_conv * 66

    # Explicit reduce-side sizing (north rule): the default 200-partition
    # shuffle spills past ~10⁹ turns (measured at 1.6B: the 1h-tier
    # Gorilla grouping fell 4.6× to sorter spill; 1024 partitions ran
    # spill-free). AQE coalesces byte-small stages back down, so auto
    # only ever errs harmlessly high.
    if args.shuffle_partitions != "keep":
        n_shuf = (auto_shuffle_partitions(
                      est_turns, spark.sparkContext.defaultParallelism)
                  if args.shuffle_partitions == "auto"
                  else int(args.shuffle_partitions))
        spark.conf.set("spark.sql.shuffle.partitions", str(n_shuf))

    if args.streaming:
        summary = run_streaming(spark, args, turns)
        summary["elapsed_sec"] = round(time.time() - t_start, 3)
        summary["turns_per_sec"] = round(
            summary["turns"] / summary["streaming_sec"])
        print(json.dumps(summary))
        return 0 if summary["equal"] else 1

    t1m = cm.run_stage("tier_1m", lambda: rollup_turns(turns, "1m"),
                       lineage={**lineage, "stage": "tier_1m"})
    t1m_gf = cm.run_stage(
        "tier_1m_gapfilled", lambda: gapfill(t1m, 60, policy="zero"),
        lineage={**lineage, "stage": "gf"})
    t1h = cm.run_stage("tier_1h",
                       lambda: gapfill(cascade(t1m, "1h"), 3600,
                                       policy="zero")
                       .withColumn("day", F.to_date("bucket")),
                       lineage={**lineage, "stage": "tier_1h"},
                       partition_by=["day"])
    t1d = cm.run_stage("tier_1d", lambda: gapfill(cascade(t1h, "1d"), 86400,
                                                  policy="zero"),
                       lineage={**lineage, "stage": "tier_1d"})
    chunks = cm.run_stage(
        "chunks_1h", lambda: compress_chunks(t1h, "1h", "turn_rate",
                                             chunk="7 days"),
        lineage={**lineage, "stage": "chunks"})
    fine = cm.run_stage(
        "series_1h", lambda: assemble_series(t1h, "turn_rate", step_s=3600),
        lineage={**lineage, "stage": "series_1h"})
    coarse = cm.run_stage(
        "series_1d", lambda: assemble_series(t1d, "turn_rate", step_s=86400),
        lineage={**lineage, "stage": "series_1d"})
    drift = cm.run_stage(
        "drift", lambda: drift_scores(fine, coarse, radius=args.radius),
        lineage={**lineage, "stage": "drift", "radius": args.radius})
    grouped = fine.withColumn(
        "group_id", F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("string"))
    cm.run_stage("dba_reps", lambda: dba_per_group(grouped, "group_id"),
                 lineage={**lineage, "stage": "dba_reps"})

    # Summary from the stage manifests (each records its output row count
    # at publish time) + two narrow single-column aggregates — NOT from
    # re-counting every stage output. At 400M turns the old re-count pass
    # was 33% of the wall (710 s), most of it a SECOND generator pass for
    # `turns.count()`; the turn count is instead derived exactly as
    # sum(n_turns) over the 1m tier (groupBy keeps null-window groups, so
    # every ingested turn lands in exactly one tier row).
    def mrows(stage: str) -> int:
        return cm.manifest(stage)["rows"]

    n_turns_total = int(
        t1m.agg(F.coalesce(F.sum("n_turns"), F.lit(0))).first()[0])
    summary = {
        "turns": n_turns_total,
        "tier_1m_rows": mrows("tier_1m"),
        "tier_1m_gapfilled_rows": mrows("tier_1m_gapfilled"),
        "tier_1h_rows": mrows("tier_1h"),
        "tier_1d_rows": mrows("tier_1d"),
        "chunks": mrows("chunks_1h"),
        "series": mrows("series_1h"),
        "drift_rows": mrows("drift"),
        "dba_groups": mrows("dba_reps"),
        "mean_drift_cost": float(drift.agg(F.avg("cost")).first()[0]),
    }
    summary["elapsed_sec"] = round(time.time() - t_start, 3)
    summary["turns_per_sec"] = round(summary["turns"] / summary["elapsed_sec"])
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
