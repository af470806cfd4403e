"""North-rule execution form: the pipeline must run via
``spark-submit --py-files`` and resume from checkpoints."""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def test_auto_shuffle_partitions_sizing():
    """~1.5M turns/partition with a 2×parallelism floor and a 65536 cap:
    default-200 spilled at 1.6B turns (chunks_1h 140.7 → 30.8 s at 1024
    partitions, measured r05); the auto rule lands above the spill-free
    point at every measured size."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from run_pipeline import auto_shuffle_partitions
    assert auto_shuffle_partitions(66_000, 32) == 64        # floor
    assert auto_shuffle_partitions(200_134_326, 32) == 134
    assert auto_shuffle_partitions(1_601_541_779, 32) == 1068
    assert auto_shuffle_partitions(10**12, 32) == 65536     # cap
    assert auto_shuffle_partitions(0, 4) == 8


def test_dba_mode_flag_is_rejected():
    """The DBA stage has one plan, so the job has no flag to pick one."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from run_pipeline import main
    with pytest.raises(SystemExit) as exc:
        main(["--workdir", "unused", "--dba-mode", "distributed"])
    assert exc.value.code == 2


def test_default_run_builds_eight_dba_groups(spark, tmp_path, capsys):
    """A default in-process run ends in one DBA representative for each
    of the eight ``xxhash64`` groups."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from run_pipeline import main
    assert main(["--workdir", str(tmp_path / "wd"), "--n-conv", "40",
                 "--shuffle-partitions", "keep"]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["series"] == 40
    assert summary["dba_groups"] == 8


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT),
                    reason="spark-submit not available")
class TestSparkSubmit:
    def test_pipeline_via_spark_submit_and_resume(self, tmp_path):
        subprocess.run(["sh", os.path.join(REPO, "scripts", "package.sh")],
                       check=True, capture_output=True)
        work = str(tmp_path / "wd")

        def run():
            out = subprocess.run(
                [SPARK_SUBMIT, "--master", "local[4]",
                 "--conf", "spark.ui.enabled=false",
                 "--py-files", os.path.join(REPO, "dist", "engine.zip"),
                 os.path.join(REPO, "scripts", "run_pipeline.py"),
                 "--workdir", work, "--n-conv", "10"],
                capture_output=True, text=True, timeout=400, cwd=REPO)
            assert out.returncode == 0, out.stderr[-2000:]
            return json.loads(out.stdout.strip().splitlines()[-1])

        s1 = run()
        assert s1["turns"] > 0
        assert s1["drift_rows"] == 10
        # manifests exist with per-partition lineage
        man = json.load(open(os.path.join(work, "drift", "manifest.json")))
        assert man["rows"] == 10
        assert man["partitions"]
        mtime = os.path.getmtime(os.path.join(work, "drift", "manifest.json"))
        # resume: identical summary, drift stage not recomputed
        s2 = run()
        drop = ("elapsed_sec", "turns_per_sec")  # timing keys differ by run
        assert {k: v for k, v in s2.items() if k not in drop} == \
               {k: v for k, v in s1.items() if k not in drop}
        assert os.path.getmtime(
            os.path.join(work, "drift", "manifest.json")) == mtime
