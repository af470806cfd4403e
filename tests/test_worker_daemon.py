"""plans.worker_daemon: Python workers skip unchanged zip-directory
re-reads, and a changed archive is still re-read."""

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_run_from_the_daemon(spark):
    """Every PySpark task calls importlib.invalidate_caches(); under the
    stock daemon on CPython < 3.12 that re-reads every zip importer's
    archive (~0.2 s). Under plans.worker_daemon it is a few stats."""
    def probe(batches):
        import importlib
        import time
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1e3
        for pdf in batches:
            yield pdf.assign(ms=ms)

    rows = (spark.range(4, numPartitions=4)
            .mapInPandas(probe, "id long, ms double").collect())
    assert len(rows) == 4
    assert max(r["ms"] for r in rows) < 20.0


def test_changed_zip_is_reread(tmp_path):
    """Plain Python, in a fresh interpreter with the daemon's zipimport
    patch: an unchanged archive is not re-read on invalidate_caches();
    one rewritten with an added module is, so the new module imports."""
    script = textwrap.dedent("""
        import importlib, sys, zipfile, zipimport
        zpath = sys.argv[1]
        with zipfile.ZipFile(zpath, "w") as z:
            z.writestr("zpkg/__init__.py", "")
            z.writestr("zpkg/old.py", "X = 1")
        sys.path.insert(0, zpath)
        import zpkg.old
        from dynamicaxiswarping_jl_spark.plans import worker_daemon
        worker_daemon.skip_unchanged_zip_rereads()

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        importlib.invalidate_caches()
        if sys.version_info < (3, 12):
            assert reads == [], reads

        with zipfile.ZipFile(zpath, "w") as z:
            z.writestr("zpkg/__init__.py", "")
            z.writestr("zpkg/old.py", "X = 1")
            z.writestr("zpkg/new.py", "Y = 2")
        importlib.invalidate_caches()
        import zpkg.new
        assert zpkg.new.Y == 2
        print("ok")
        """)
    proc = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "z.zip")],
        cwd=ROOT, capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "ok"
