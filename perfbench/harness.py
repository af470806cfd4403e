"""Process, session and measurement plumbing shared by every workload.

Nothing here runs at import time: ``isolate_env`` must be called before
pyspark starts its JVM so that every scratch file the run leaves lands
under the run's own directory inside the checkout.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import statistics
import threading
import time

PACKAGE = "dynamicaxiswarping_jl_spark"


# -- environment ---------------------------------------------------------------

def isolate_env(root: str, run_dir: str, cache_dir: str) -> None:
    """Point every temp/cache location at directories inside the checkout.

    ``cache_dir`` holds the native-kernel build shared by all runs (built
    once, before any timing); ``run_dir`` is fresh per run."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["XDG_CACHE_HOME"] = cache_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ.pop("SPARK_TSWARP_NO_NATIVE", None)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    import tempfile
    tempfile.tempdir = tmp


def spark_conf(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # no hsperfdata file under /tmp: the run writes only in its checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.streaming.checkpointLocation": os.path.join(run_dir, "ck-default"),
        # keep every finished job/stage in the status store: per-operation
        # job, stage and task counts are read from it after each operation
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


# -- process tree --------------------------------------------------------------

def _children_map() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int) -> list:
    """``pid`` and all its live descendants."""
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_mb(pids) -> float:
    """Resident memory of ``pids`` with each shared page split between the
    processes that map it (``Pss``): Spark forks its Python workers from
    one daemon, and plain RSS would count the daemon's pages once per
    live worker, so the total would follow how many workers happen to be
    alive."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f
                           if line.startswith("Pss:"))
        except (OSError, StopIteration, IndexError, ValueError):
            pass
    return kb / 1024


class RssSampler:
    """Peak resident memory (PSS) of the driver JVM plus its Python worker
    tree, sampled on a background thread."""

    def __init__(self, pid: int, period: float = 0.25):
        self.pid, self.period = pid, period
        self.peak = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_mb(process_tree(self.pid)))
            self.samples += 1
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, then the JVM it launched and every process under
    it, and wait until all of them have exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway exits on stdin EOF
            except OSError:
                pass
            try:
                proc.wait(timeout=timeout)
            except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
                proc.kill()
                proc.wait(timeout=timeout)
        deadline = time.monotonic() + timeout
        for p in tree:
            while _alive(p) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def cpu_times() -> list:
    """The host's aggregate CPU counters from ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list, after: list) -> float:
    """Share of the host's CPU time between two ``cpu_times`` readings
    that the hypervisor gave to other guests: a slow-host episode shows
    here, not in the benchmark's own numbers."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


# -- Spark job accounting ------------------------------------------------------

class JobCounter:
    """Jobs, stages and tasks of one operation, read from the status
    tracker by job group (streaming queries run their micro-batches under
    a job group equal to their run id)."""

    def __init__(self, sc):
        self.sc = sc
        self.st = sc.statusTracker()

    def count(self, groups) -> dict:
        jobs = stages = tasks = failed = 0
        for g in groups:
            for jid in self.st.getJobIdsForGroup(g):
                info = self.st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    s = self.st.getStageInfo(sid)
                    if s is None:
                        continue
                    stages += 1
                    tasks += s.numTasks
                    failed += s.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "tasks_failed": failed}


# -- statistics ----------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs):
    """Highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``; ``(None, None)`` below eleven samples."""
    s = sorted(xs)
    k = len(s) - 10
    if k < 1:
        return None, None
    return float(s[k - 1]), round(100.0 * k / len(s), 2)


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total


def data_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path`` (no checksums or
    markers)."""
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dp, f))
    return total


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def finite(x) -> bool:
    return x is not None and math.isfinite(x)


def dump(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, default=str)
