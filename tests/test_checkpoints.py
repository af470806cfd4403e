"""Checkpoint/resume: manifests, lineage skipping, per-partition metrics."""

import json
import os

import pytest
from pyspark.sql import functions as F

from dynamicaxiswarping_jl_spark.plans import CheckpointManager
from dynamicaxiswarping_jl_spark.sources import transcripts_df
from dynamicaxiswarping_jl_spark.operators import rollup_turns


class TestCheckpoints:
    def test_stage_runs_once_then_resumes(self, spark, tmp_path):
        cm = CheckpointManager(spark, str(tmp_path))
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return spark.range(100).withColumn("v", F.col("id") * 2)

        df1 = cm.run_stage("s1", build, lineage={"input": "range100"})
        assert df1.count() == 100
        assert calls["n"] == 1
        # resume: same lineage → no recompute
        df2 = cm.run_stage("s1", build, lineage={"input": "range100"})
        assert df2.count() == 100
        assert calls["n"] == 1
        # changed lineage → recompute
        cm.run_stage("s1", build, lineage={"input": "range100", "v": 2})
        assert calls["n"] == 2

    def test_lineage_change_invalidates_manifest_before_recompute(
            self, spark, tmp_path):
        """A recompute under new lineage must remove the OLD manifest
        before touching the data dir: dying mid-recompute must not leave
        a stale manifest that a later run with the old lineage would
        silently resume from (it would serve the new lineage's partial
        data as the old checkpoint)."""
        cm = CheckpointManager(spark, str(tmp_path))
        cm.run_stage("s", lambda: spark.range(5), lineage={"v": 1})
        assert cm.manifest("s") is not None

        def boom():
            raise RuntimeError("simulated mid-recompute crash")

        with pytest.raises(RuntimeError, match="simulated"):
            cm.run_stage("s", boom, lineage={"v": 2})
        assert cm.manifest("s") is None  # old manifest no longer resumable
        # and the v1 run now recomputes rather than resuming
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return spark.range(5)

        cm.run_stage("s", build, lineage={"v": 1})
        assert calls["n"] == 1

    def test_manifest_contents(self, spark, tmp_path):
        cm = CheckpointManager(spark, str(tmp_path))
        cm.run_stage("roll", lambda: spark.range(10),
                     lineage={"src": "x"}, metrics={"prune_end": 5})
        m = json.load(open(os.path.join(tmp_path, "roll", "manifest.json")))
        assert m["rows"] == 10
        assert m["metrics"] == {"prune_end": 5}
        assert m["lineage"] == {"src": "x"}
        assert sum(p["rows"] for p in m["partitions"]) == 10
        assert all("partition_id" in p for p in m["partitions"])

    @pytest.mark.parametrize("partition_by", [None, ["day"]])
    def test_fresh_stage_runs_only_the_write_jobs(self, spark, tmp_path,
                                                  partition_by):
        """A fresh run_stage runs exactly the jobs of writing the same
        frame to parquet: the manifest's row counts come from the written
        files' footers, per write task, not from a re-read of the stage."""
        sc = spark.sparkContext

        def frame():
            return (spark.range(0, 100, 1, 4)
                    .withColumn("day", (F.col("id") % 3).cast("string")))

        def jobs(group, fn):
            sc.setJobGroup(group, group)
            try:
                fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            return len(sc.statusTracker().getJobIdsForGroup(group))

        def write():
            w = frame().write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(str(tmp_path / "plain"))

        cm = CheckpointManager(spark, str(tmp_path / "cp"))
        tag = "-".join(partition_by or ["flat"])
        want = jobs(f"cp-write-{tag}", write)
        got = jobs(f"cp-stage-{tag}", lambda: cm.run_stage(
            "s", frame, partition_by=partition_by))
        assert got == want
        m = cm.manifest("s")
        assert m["rows"] == 100
        assert [p["partition_id"] for p in m["partitions"]] == [0, 1, 2, 3]
        assert [p["rows"] for p in m["partitions"]] == [25] * 4

    def test_pipeline_resume_identical_output(self, spark, tmp_path):
        cm = CheckpointManager(spark, str(tmp_path))
        turns = transcripts_df(spark, 4, seed=5, mean_turns=25, slices=2)
        lineage = {"gen": {"n_conv": 4, "seed": 5}}
        a = cm.run_stage("t1m", lambda: rollup_turns(turns, "1m"),
                         lineage=lineage).orderBy("conv_id", "bucket").collect()
        b = cm.run_stage("t1m", lambda: (_ for _ in ()).throw(AssertionError),
                         lineage=lineage).orderBy("conv_id", "bucket").collect()
        assert a == b


class TestPartitionedCheckpoint:
    def test_day_partitioned_retention_prunes_directories(self, spark, tmp_path):
        """A day-partitioned tier checkpoint + apply_retention must show
        partition pruning in the scan (PartitionFilters on day), reading
        only the kept days' files."""
        import pyspark.sql.functions as F
        from dynamicaxiswarping_jl_spark.plans import CheckpointManager
        from dynamicaxiswarping_jl_spark.operators import apply_retention

        cm = CheckpointManager(spark, str(tmp_path))
        rows = [("c1", f"2024-01-{d:02d} 00:00:00", float(d))
                for d in range(1, 11)]
        df = spark.createDataFrame(rows, "conv_id string, b string, turn_rate double")
        src = df.select("conv_id", F.col("b").cast("timestamp").alias("bucket"),
                        "turn_rate").withColumn("day", F.to_date("bucket"))
        tier = cm.run_stage("tier_test", lambda: src, lineage={"x": 1},
                            partition_by=["day"])
        kept = apply_retention(tier, "2024-01-08 00:00:00",
                               partition_col="day")
        assert kept.count() == 3
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "day" in plan
        # physical evidence: only 3 of 10 day directories are selected
        sel = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert sel, plan
        import re
        m = re.search(r"files read: (\d+)", plan)
        if m:  # Spark version dependent; directory count is the fallback
            assert int(m.group(1)) <= 3


def test_partition_column_keeps_its_type(spark, tmp_path):
    """A string partition column reads back as strings, fresh and
    resumed: the manifest's schema types the directories, where parquet
    inference would turn "007" into the int 7."""
    cm = CheckpointManager(spark, str(tmp_path))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.createDataFrame([(1, "007"), (2, "0042")],
                                     "id int, code string")

    for _ in range(2):
        out = cm.run_stage("codes", build, lineage={"x": 1},
                           partition_by=["code"])
        assert dict(out.dtypes)["code"] == "string"
        assert sorted(r.code for r in out.collect()) == ["0042", "007"]
    assert calls["n"] == 1
