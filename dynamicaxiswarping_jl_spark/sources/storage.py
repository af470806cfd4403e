"""Iceberg-degraded table storage.

The north rule targets Iceberg tables; this sandbox has no Iceberg runtime
jar, so the catalog is abstracted: ``TableCatalog`` stores each table as
partitioned parquet plus an append-only JSON snapshot log (the degraded
analog of Iceberg's snapshot metadata). Lineage manifests
(plans/checkpoints.py) record the snapshot id they read, so resume and
audit semantics survive the downgrade. On a real cluster, swap
``write``/``read`` for ``writeTo(...).createOrReplace()`` /
``spark.read.format('iceberg')`` — call sites only touch this class.

One scan, one commit, one rewrite: ``_scan`` is the only code that turns
a snapshot record into rows, ``_commit`` the only code that builds and
publishes a record, and ``_rewrite`` the one copy-on-write protocol
(scan the parent, build, write, commit) that ``merge`` and ``compact``
share. ``write`` is a data write plus a ``_commit``.

The commit record is the schema: ``_write_data`` records the full
on-disk schema (logical plus hidden ``_p_*`` columns, all nullable, as a
read returns them) as a DDL string, and ``_scan`` reads every data dir
with it. Parquet schema inference would cost a job per data dir per read,
fail on an empty partitioned write, and retype directory values (a
string ``"007"`` would read back as the int 7). An append whose columns
or types differ from the recorded schema is refused before writing.

Concurrency: commits are serialized by a per-table lock file created with
``O_CREAT|O_EXCL`` (atomic on POSIX) — the degraded analog of Iceberg's
optimistic catalog-pointer swap. A writer that loses the race waits and
retries; a lock left by a crashed holder is broken after ``lock_stale``
seconds, by an atomic rename that only one of several racing breakers can
win (the O_EXCL re-create then picks the next holder). ``_rewrite``
holds the lock across its read-compute-write so concurrent merges
serialize instead of losing the earlier delta (Iceberg re-validates and
retries the commit; the coarse lock is the single-filesystem emulation
of the same guarantee).

Hidden partitioning: ``write(..., partition_spec={...})`` accepts
Iceberg-style transforms — ``days(col)`` / ``hours(col)`` /
``bucket(N, col)`` / ``truncate(N, col)`` / ``identity(col)`` — derived
into ``_p_<name>`` directory columns at write and dropped at read (the
caller never sees them, which is what makes them *hidden*). The hidden
columns are named by the record's spec, not by their prefix, and a write
whose visible columns collide with them is refused. It is the
only partitioning: ``identity(col)`` is plain directory partitioning on
a visible column, and ``merge``/``compact`` carry the spec forward.
``partition_filter`` rewrites a predicate on the SOURCE column into one
on the hidden column so scans prune directories (Iceberg does this
rewrite inside its scan planner; here it is an explicit helper).
Appends work on partitioned tables: an append without a spec inherits
the table's (one with a different spec is refused), and ``_scan`` reads
each data dir as its own partition root, so a multi-dir snapshot reads
like a single-dir one and the filter still reaches every scan.

Writes: every write path counts ``rows_written`` with an ``Observation``
on the write job itself, never by re-reading what it wrote. ``merge``
materializes its delta once, and every rewrite is one
``rebalance``-hinted pass, so AQE sizes the output files by bytes: an
unchanged or slightly changed table keeps as few files as a compaction
would give it.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from functools import reduce
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

__all__ = ["TableCatalog", "CatalogCommitTimeout"]


class CatalogCommitTimeout(RuntimeError):
    """A concurrent writer held the table's commit lock past the timeout."""


def _parse_transform(spec: str) -> tuple:
    """``"days(ts)"`` -> ``("days", None, "ts")``;
    ``"bucket(16, id)"`` -> ``("bucket", 16, "id")``."""
    name, _, inner = spec.partition("(")
    name, inner = name.strip(), inner.rstrip(")").strip()
    if name in ("bucket", "truncate"):
        n_s, _, col = inner.partition(",")
        return name, int(n_s), col.strip()
    if name in ("identity", "days", "hours"):
        return name, None, inner
    raise ValueError(f"unknown partition transform {spec!r}")


def _apply_transform(tname: str, n, source: Column) -> Column:
    """Apply a parsed transform to a source expression (column OR
    literal — applying the same transform to both sides is what makes
    :meth:`TableCatalog.partition_filter` sound). Bucket uses
    ``pmod(xxhash64(x), N)`` (the emulation's stand-in for Iceberg's
    murmur3 bucket — stable within this catalog, not byte-compatible
    with a real Iceberg table)."""
    if tname == "identity":
        return source
    if tname == "days":
        return F.to_date(source)
    if tname == "hours":
        return F.date_trunc("hour", source)
    if tname == "bucket":
        return F.pmod(F.xxhash64(source), F.lit(n))
    if tname == "truncate":
        return F.substring(source, 1, n)
    raise ValueError(f"unknown partition transform {tname!r}")


def _hidden_columns(partition_spec: Optional[dict]) -> list:
    """The hidden ``_p_<name>`` column of each key of a partition spec.
    Only these are hidden: a visible column may start with ``_p_`` too."""
    return [f"_p_{pname}" for pname in (partition_spec or {})]


def _transform_column(spec: str) -> Column:
    """Iceberg-style partition transform string -> derived Column."""
    tname, n, col = _parse_transform(spec)
    return _apply_transform(tname, n, F.col(col))


class TableCatalog:
    def __init__(self, spark: SparkSession, root: str,
                 lock_timeout: float = 300.0, lock_stale: float = 1800.0):
        self.spark = spark
        self.root = root
        self.lock_timeout = lock_timeout
        self.lock_stale = lock_stale
        os.makedirs(root, exist_ok=True)

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _log(self, name: str) -> str:
        return os.path.join(self._dir(name), "_snapshots.json")

    # -- commit lock (cross-process) ---------------------------------------
    @contextmanager
    def _commit_lock(self, name: str):
        """Serialize commits to one table across processes.

        O_CREAT|O_EXCL is atomic on a POSIX filesystem, so exactly one
        writer wins each acquisition; losers back off and retry until
        ``lock_timeout``. A lock older than ``lock_stale`` seconds is
        presumed crashed and broken (``_break_stale_lock``) — the
        subsequent O_EXCL re-create race picks exactly one new holder.
        ``lock_stale`` must exceed the longest held commit (merge holds
        across read-compute-write): a live slow holder past it is
        indistinguishable from a crash by design.
        """
        os.makedirs(self._dir(name), exist_ok=True)
        lock = os.path.join(self._dir(name), "_commit.lock")
        deadline = time.monotonic() + self.lock_timeout
        delay = 0.01
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, json.dumps(
                    {"pid": os.getpid(), "acquired_at": time.time()}).encode())
                os.close(fd)
                break
            except FileExistsError:
                try:
                    seen = os.stat(lock)
                except OSError:
                    seen = None  # holder just released — retry below
                if (seen is not None
                        and time.time() - seen.st_mtime > self.lock_stale):
                    self._break_stale_lock(lock, seen)
                    continue
                if time.monotonic() > deadline:
                    raise CatalogCommitTimeout(
                        f"commit lock for table {name!r} held for "
                        f">{self.lock_timeout}s by a concurrent writer")
                # sleep + deadline run on EVERY iteration (a persistent
                # stat error must not become an unbreakable busy-spin)
                time.sleep(delay)
                delay = min(delay * 2, 0.2)
        try:
            yield
        finally:
            try:
                os.unlink(lock)
            except OSError:
                pass

    @staticmethod
    def _break_stale_lock(lock: str, seen: os.stat_result) -> bool:
        """Remove the lock file that ``seen`` describes, and no other.

        The lock is renamed to a unique name first: rename is atomic, so
        of several breakers that judged the same file stale exactly one
        moves it aside. A later breaker's rename picks up whatever holds
        the name by then — a fresh lock the winner already re-created —
        so a file that is not the one judged stale is linked back
        (``link`` never overwrites) instead of unlinked. True iff this
        call removed the stale lock."""
        aside = f"{lock}.broken-{uuid.uuid4().hex}"
        try:
            os.rename(lock, aside)
        except OSError:
            return False  # released or broken meanwhile
        st = os.stat(aside)
        stale = (st.st_ino, st.st_mtime_ns) == (seen.st_ino,
                                                 seen.st_mtime_ns)
        if not stale:
            try:
                os.link(aside, lock)
            except OSError:
                # a third writer's O_EXCL create landed in the two
                # syscalls between rename and link; it holds the name
                pass
        os.unlink(aside)
        return stale

    # -- snapshot log ------------------------------------------------------
    def snapshots(self, name: str) -> list:
        p = self._log(name)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)

    def current_snapshot(self, name: str) -> Optional[dict]:
        snaps = self.snapshots(name)
        return snaps[-1] if snaps else None

    def _publish(self, name: str, snaps: list) -> None:
        tmp = self._log(name) + f".tmp-{uuid.uuid4().hex[:8]}"
        os.makedirs(self._dir(name), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(snaps, f, indent=1)
        os.replace(tmp, self._log(name))  # atomic commit

    def _commit(self, name: str, snaps: list, mode: str, data_dir: str,
                rows: int, schema: str, spec: Optional[dict]) -> dict:
        """Build one snapshot record on top of ``snaps`` and publish it.
        The caller holds the commit lock and read ``snaps`` under it, so
        an ``append`` chains off the true latest snapshot's data dirs."""
        dirs = [data_dir]
        if mode == "append" and snaps:
            dirs = snaps[-1]["data_dirs"] + dirs
        rec = {"snapshot_id": uuid.uuid4().hex[:16], "mode": mode,
               "data_dirs": dirs, "rows_written": rows, "schema": schema,
               "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                             time.gmtime())}
        if spec:
            rec["partition_spec"] = spec
        self._publish(name, snaps + [rec])
        return rec

    def _scan(self, rec: dict, where: Optional[Column] = None) -> DataFrame:
        """A snapshot record's rows in the logical schema, read with the
        record's schema (no inference, no job). Each data dir is its own
        partition root (an append adds one), so each is read
        on its own and the reads are unioned by name. ``where`` applies
        before the hidden ``_p_*`` columns are dropped, so directory
        pruning reaches every scan."""
        read = self.spark.read.schema(rec["schema"])
        df = reduce(DataFrame.unionByName,
                    [read.parquet(d) for d in rec["data_dirs"]])
        if where is not None:
            df = df.filter(where)
        hidden = _hidden_columns(rec.get("partition_spec"))
        return df.drop(*hidden) if hidden else df

    # -- write paths ---------------------------------------------------------
    def _write_data(self, name: str, df: DataFrame,
                    partition_spec: Optional[dict]):
        """Write the (uniquely named) data dir — outside the commit lock;
        only the log append needs serializing. Returns the dir, the rows
        written and the on-disk schema as a read returns it (DDL)."""
        data_dir = os.path.join(self._dir(name),
                                f"snap-{uuid.uuid4().hex[:16]}")
        hidden = _hidden_columns(partition_spec)
        clash = sorted(set(hidden) & set(df.columns))
        if clash:
            raise ValueError(f"columns {clash} of {name!r} collide with its "
                             f"hidden partition columns")
        for col, spec in zip(hidden, (partition_spec or {}).values()):
            df = df.withColumn(col, _transform_column(spec))
        # the row count comes from the write job itself, not a re-read
        written = Observation()
        w = df.observe(written, F.count(F.lit(1)).alias("rows")) \
            .write.mode("overwrite")
        if hidden:
            w = w.partitionBy(*hidden)
        w.parquet(data_dir)
        return (data_dir, written.get["rows"],
                df.schema.toNullable().toDDL())

    def write(self, name: str, df: DataFrame, mode: str = "overwrite",
              partition_spec: Optional[dict] = None) -> dict:
        """Write a new snapshot of the table; returns the snapshot record.

        ``partition_spec`` maps partition name -> transform string
        (hidden partitioning, see module docstring). An ``append``
        without a spec inherits the table's; one with a different spec,
        or with columns or types other than the table's (in any order),
        raises ``ValueError`` before writing anything.
        """
        spec = partition_spec or None
        cur = self.current_snapshot(name) if mode == "append" else None
        if cur is not None:
            table_spec = cur.get("partition_spec") or None
            if spec not in (None, table_spec):
                raise ValueError(f"append with partition_spec {spec!r} to "
                                 f"{name!r}, partitioned by {table_spec!r}")
            spec = table_spec
            have = {f.name: f.dataType for f in df.schema.toNullable()}
            hidden = set(_hidden_columns(table_spec))
            want = {f.name: f.dataType
                    for f in _parse_datatype_string(cur["schema"])
                    if f.name not in hidden}
            if have != want:
                raise ValueError(f"append with schema {have!r} to {name!r}, "
                                 f"whose schema is {want!r}")
        data_dir, rows, schema = self._write_data(name, df, spec)
        if cur is not None:
            schema = cur["schema"]  # parquet reads by name: the table's order
        with self._commit_lock(name):
            return self._commit(name, self.snapshots(name), mode, data_dir,
                                rows, schema, spec)

    def _rewrite(self, name: str, mode: str,
                 build: Callable[[Optional[DataFrame]], DataFrame]) -> dict:
        """Copy-on-write commit: under the commit lock, write
        ``build(parent rows, or None for an empty table)`` with the
        parent's partition spec as one ``rebalance``-hinted pass (AQE
        sizes the files by bytes, the way Iceberg's Spark writer requests
        a write distribution), then commit it. Holding the lock across
        read-compute-write makes concurrent rewrites serialize instead of
        the later commit erasing the earlier one (Iceberg gets the same
        guarantee from commit validation + retry)."""
        with self._commit_lock(name):
            snaps = self.snapshots(name)
            parent = snaps[-1] if snaps else None
            spec = (parent or {}).get("partition_spec") or None
            df = build(self._scan(parent) if parent else None)
            data_dir, rows, schema = self._write_data(
                name, df.hint("rebalance"), spec)
            return self._commit(name, snaps, mode, data_dir, rows, schema,
                                spec)

    def merge(self, name: str, df: DataFrame, keys: list) -> dict:
        """Key-wise upsert: rows of ``df`` replace current rows with the
        same key tuple (copy-on-write MERGE — the degraded analog of
        Iceberg ``MERGE INTO``; on a real catalog this call site becomes
        that statement). Unmatched current rows are carried over.

        ``df`` is materialized once, before the lock is taken, so the
        anti-join keys and the union read the same rows and an expensive
        delta (a pandas-UDF encoder) runs once.
        """
        df = df.localCheckpoint()
        return self._rewrite(name, "merge", lambda cur: df if cur is None else
                             cur.join(df.select(*keys).distinct(), list(keys),
                                      "left_anti").unionByName(df))

    # -- maintenance actions -------------------------------------------------
    def expire_snapshots(self, name: str, keep_last: int = 1) -> dict:
        """Drop all but the newest ``keep_last`` snapshot records and
        delete data dirs no retained snapshot references (the degraded
        analog of Iceberg ``expire_snapshots``). Time travel to expired
        ids stops working — by design, same as Iceberg."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        with self._commit_lock(name):
            snaps = self.snapshots(name)
            if len(snaps) <= keep_last:
                return {"expired": 0, "data_dirs_removed": 0}
            keep, drop = snaps[-keep_last:], snaps[:-keep_last]
            live = {d for s in keep for d in s["data_dirs"]}
            dead = {d for s in drop for d in s["data_dirs"]} - live
            # publish the pruned log FIRST: a crash between the two steps
            # then leaves orphan dirs instead of a log whose snapshots
            # reference deleted data. Reads stay correct, but the orphans
            # leak: nothing deletes them until a gc() sweep of
            # unreferenced data dirs exists (ROADMAP.md)
            self._publish(name, keep)
            for d in dead:
                shutil.rmtree(d, ignore_errors=True)
        return {"expired": len(drop), "data_dirs_removed": len(dead)}

    def compact(self, name: str) -> dict:
        """Rewrite the current snapshot's data dirs into one dir as a new
        snapshot (the degraded analog of Iceberg ``rewrite_data_files``
        + pointer swap): history is preserved, and a following
        ``expire_snapshots`` can reclaim the fragments."""
        if not self.snapshots(name):
            raise FileNotFoundError(f"table {name!r} has no snapshots")
        return self._rewrite(name, "compact", lambda cur: cur)

    # -- read paths ------------------------------------------------------------
    def read(self, name: str, snapshot_id: Optional[str] = None,
             where: Optional[Column] = None) -> DataFrame:
        """Read the current (or a time-travel) snapshot in the logical
        schema; ``where`` (typically from :meth:`partition_filter`)
        reaches the scan, see :meth:`_scan`."""
        snaps = self.snapshots(name)
        if not snaps:
            raise FileNotFoundError(f"table {name!r} has no snapshots")
        if snapshot_id is None:
            return self._scan(snaps[-1], where)
        matches = [s for s in snaps if s["snapshot_id"] == snapshot_id]
        if not matches:
            raise KeyError(f"snapshot {snapshot_id!r} not found for {name!r}")
        return self._scan(matches[0], where)

    def partition_filter(self, name: str, col: str, op: str, value) -> Column:
        """Rewrite ``col <op> value`` into a predicate on the hidden
        partition column so the parquet scan prunes directories (the
        explicit form of Iceberg's scan-planner transform rewrite).

        Monotone transforms (days/hours/truncate/identity) support
        ``<``/``<=``/``>``/``>=``/``=``; bucket supports ``=`` only (a
        range constrains no bucket). The returned predicate is a
        NECESSARY condition of the original — callers keep the original
        row-level filter too (exactly how Iceberg layers them)."""
        rec = self.current_snapshot(name)
        spec = (rec or {}).get("partition_spec") or {}
        parsed = {pname: _parse_transform(s) for pname, s in spec.items()}
        matches = [(pname, t) for pname, t in parsed.items() if t[2] == col]
        if not matches:
            raise KeyError(f"no partition transform over column {col!r}")
        pname, (tname, n, _) = matches[0]
        hidden = F.col(f"_p_{pname}")
        if tname == "bucket" and op != "=":
            raise ValueError("bucket transform prunes only equality")
        # apply the SAME transform to the literal; a foldable expression,
        # so Catalyst constant-folds it and the scan still prunes. The
        # literal is first cast to the SOURCE column's recorded type:
        # xxhash64 is type-sensitive (int 42 and long 42 hash to
        # different values), so an uncast Python literal against e.g. a
        # LongType id column would compute a different bucket and
        # silently prune away the matching partition.
        src_t = _parse_datatype_string(rec["schema"])[col].dataType
        lit = _apply_transform(tname, n, F.lit(value).cast(src_t))
        ops = {"=": hidden.__eq__, "<": hidden.__le__, "<=": hidden.__le__,
               ">": hidden.__ge__, ">=": hidden.__ge__}
        if op not in ops:
            raise ValueError(f"unsupported op {op!r}")
        # strict < / > widen to <= / >= on the transformed value: the
        # boundary partition may hold qualifying rows (necessary, not
        # sufficient — the row filter finishes the job)
        return ops[op](lit)
