"""TableCatalog: snapshot commits, time travel, append semantics."""

import pytest
from pyspark.sql import functions as F

from dynamicaxiswarping_jl_spark.sources.storage import TableCatalog


class TestTableCatalog:
    def test_write_read_roundtrip(self, spark, tmp_path):
        cat = TableCatalog(spark, str(tmp_path))
        df = spark.range(100).withColumn("v", F.col("id") * 2)
        rec = cat.write("t1", df)
        assert rec["rows_written"] == 100
        got = cat.read("t1")
        assert got.count() == 100

    def test_time_travel(self, spark, tmp_path):
        cat = TableCatalog(spark, str(tmp_path))
        s1 = cat.write("t", spark.range(10))
        s2 = cat.write("t", spark.range(20))
        assert cat.read("t").count() == 20
        assert cat.read("t", snapshot_id=s1["snapshot_id"]).count() == 10
        assert cat.current_snapshot("t")["snapshot_id"] == s2["snapshot_id"]

    def test_append_mode(self, spark, tmp_path):
        cat = TableCatalog(spark, str(tmp_path))
        cat.write("t", spark.range(10))
        cat.write("t", spark.range(5), mode="append")
        assert cat.read("t").count() == 15

    def test_missing_table_and_snapshot(self, spark, tmp_path):
        cat = TableCatalog(spark, str(tmp_path))
        with pytest.raises(FileNotFoundError):
            cat.read("nope")
        cat.write("t", spark.range(1))
        with pytest.raises(KeyError):
            cat.read("t", snapshot_id="beef")


class TestUcrReader:
    def test_roundtrip_vs_numpy(self, spark, tmp_path):
        import numpy as np
        from dynamicaxiswarping_jl_spark.sources import read_ucr
        rng = np.random.default_rng(7)
        M = np.column_stack([rng.integers(1, 4, size=12).astype(float),
                             rng.normal(size=(12, 20))])
        p = tmp_path / "toy_ucr.txt"
        np.savetxt(p, M, fmt="%.7e")
        got = (read_ucr(spark, str(p)).orderBy("series_id").toPandas())
        assert got.series_id.tolist() == list(range(12))
        np.testing.assert_allclose(got.label.to_numpy(), M[:, 0])
        np.testing.assert_allclose(np.stack(got.points.to_numpy()), M[:, 1:],
                                   rtol=1e-6)

    def test_reference_cbf_shape(self, spark):
        """Smoke: the reference's bundled CBF sample parses to the shape
        its data/README.md documents (30 series x 128 samples, labels
        1..3) — data only, no reference code involved."""
        import os
        path = "/root/reference/data/CBF_TRAIN.txt"
        if not os.path.exists(path):
            import pytest
            pytest.skip("reference data not present")
        from dynamicaxiswarping_jl_spark.sources import read_ucr
        df = read_ucr(spark, path).toPandas()
        assert len(df) == 30
        assert set(df.label) <= {1.0, 2.0, 3.0}
        assert all(len(pts) == 128 for pts in df.points)


class TestMergeAndRefresh:
    def test_catalog_merge_upserts_by_key(self, spark, tmp_path):
        from dynamicaxiswarping_jl_spark.sources.storage import TableCatalog
        cat = TableCatalog(spark, str(tmp_path))
        cat.write("t", spark.createDataFrame(
            [(1, "a"), (2, "b")], "k int, v string"))
        rec = cat.merge("t", spark.createDataFrame(
            [(2, "B"), (3, "c")], "k int, v string"), keys=["k"])
        assert rec["mode"] == "merge"
        got = {(r.k, r.v) for r in cat.read("t").collect()}
        assert got == {(1, "a"), (2, "B"), (3, "c")}
        # time travel still sees the pre-merge snapshot
        first = cat.snapshots("t")[0]["snapshot_id"]
        old = {(r.k, r.v) for r in cat.read("t", first).collect()}
        assert old == {(1, "a"), (2, "b")}

    def test_incremental_refresh_equals_full_recompute(self, spark, tmp_path):
        from dynamicaxiswarping_jl_spark.sources.storage import TableCatalog
        from dynamicaxiswarping_jl_spark.operators import rollup_turns
        from dynamicaxiswarping_jl_spark.sources import transcripts_df
        cat = TableCatalog(spark, str(tmp_path))
        turns = transcripts_df(spark, 8, seed=3, mean_turns=40, slices=2).cache()
        # initial load: conversations 0-5; delta: conversations 6-7
        base = turns.filter(F.col("conv_id") < "conv-0006")
        delta = turns.filter(F.col("conv_id") >= "conv-0006")
        cat.write("tier_1m", rollup_turns(base, "1m"))
        cat.merge("tier_1m", rollup_turns(delta, "1m"), ["conv_id", "bucket"])
        got = (cat.read("tier_1m")
               .orderBy("conv_id", "bucket").collect())
        want = (rollup_turns(turns, "1m")
                .orderBy("conv_id", "bucket").collect())
        assert got == want

    def test_merge_rows_written_is_exact(self, spark, tmp_path):
        """rows_written equals the committed table's row count for a first
        MERGE into an empty table, a MERGE into a populated table and a
        MERGE into a hidden-partitioned table."""
        import datetime
        cat = TableCatalog(spark, str(tmp_path))
        kv = "k int, v string"
        rec = cat.merge("t", spark.createDataFrame(
            [(k, "a") for k in range(7)], kv), ["k"])
        assert rec["rows_written"] == cat.read("t").count() == 7
        rec = cat.merge("t", spark.createDataFrame(
            [(k, "b") for k in range(5, 12)], kv), ["k"])
        assert rec["rows_written"] == cat.read("t").count() == 12
        ts = "id int, ts timestamp"
        cat.write("p", spark.createDataFrame(
            [(i, datetime.datetime(2025, 1, 1 + i % 3, i % 24))
             for i in range(30)], ts),
            partition_spec={"day": "days(ts)"})
        rec = cat.merge("p", spark.createDataFrame(
            [(i, datetime.datetime(2025, 1, 5)) for i in range(25, 35)], ts),
            ["id"])
        assert rec["rows_written"] == cat.read("p").count() == 35

    def test_small_merge_writes_one_file(self, spark, tmp_path):
        """The MERGE output is sized by bytes, not by the parent's file
        count: a small delta into a small table leaves one data file."""
        import os
        cat = TableCatalog(spark, str(tmp_path))
        cat.write("t", spark.range(0, 1000, 1, 4)
                  .withColumn("v", F.col("id") * 2))
        rec = cat.merge("t", spark.range(990, 1010, 1, 2)
                        .withColumn("v", F.col("id") * 3), ["id"])
        files = [f for f in os.listdir(rec["data_dirs"][0])
                 if f.endswith(".parquet")]
        assert len(files) == 1
        assert cat.read("t").count() == 1010

    def test_merge_evaluates_the_delta_once(self, spark, tmp_path):
        """An expensive delta (a pandas-UDF encoder) runs once per MERGE:
        the anti-join keys and the union read the same materialized rows."""
        cat = TableCatalog(spark, str(tmp_path))
        cat.write("t", spark.createDataFrame(
            [(k, "a") for k in range(10)], "k int, v string"))
        calls = spark.sparkContext.accumulator(0)

        def encode(batches):
            for pdf in batches:
                calls.add(len(pdf))
                yield pdf.assign(v="b")

        delta = spark.range(5, 15, 1, 2).selectExpr("cast(id as int) k",
                                                    "'' v") \
            .mapInPandas(encode, "k int, v string")
        cat.merge("t", delta, ["k"])
        assert calls.value == 10
        got = sorted((r.k, r.v) for r in cat.read("t").collect())
        assert got == [(k, "a") for k in range(5)] + \
            [(k, "b") for k in range(5, 15)]


class TestCatalogConformance:
    """Conformance matrix pinning the parquet-degraded TableCatalog to
    the Iceberg semantics it emulates (VERDICT r03 #5) — each test is a
    row of the pass/degrade matrix in COVERAGE.md §storage. If the
    emulation drifts, the matrix (not just a query) breaks."""

    def test_snapshot_isolation_reader_unaffected_by_commit(
            self, spark, tmp_path):
        # Iceberg: a reader pinned to snapshot s sees s forever; commits
        # write NEW data files. Emulation: snap dirs are immutable.
        cat = TableCatalog(spark, str(tmp_path))
        s1 = cat.write("t", spark.range(10))
        pinned = cat.read("t", snapshot_id=s1["snapshot_id"])
        cat.write("t", spark.range(99))          # overwrite commit
        cat.merge("t", spark.range(5).withColumnRenamed("id", "id"),
                  keys=["id"])
        assert pinned.count() == 10              # still snapshot-1 data
        assert cat.read("t", s1["snapshot_id"]).count() == 10

    def test_merge_is_idempotent(self, spark, tmp_path):
        cat = TableCatalog(spark, str(tmp_path))
        cat.write("t", spark.createDataFrame(
            [(1, "a"), (2, "b")], "k int, v string"))
        delta = spark.createDataFrame([(2, "B"), (3, "c")],
                                      "k int, v string")
        cat.merge("t", delta, keys=["k"])
        once = sorted((r.k, r.v) for r in cat.read("t").collect())
        cat.merge("t", delta, keys=["k"])        # same delta again
        twice = sorted((r.k, r.v) for r in cat.read("t").collect())
        assert once == twice == [(1, "a"), (2, "B"), (3, "c")]
        # every merge still commits a snapshot (audit trail grows)
        assert len(cat.snapshots("t")) == 3

    def test_merge_composite_keys_and_null_key_inserts(self, spark,
                                                       tmp_path):
        # Iceberg MERGE ON (a,b): NULL never equals → null-key source
        # rows INSERT, and current null-key rows are never matched away
        cat = TableCatalog(spark, str(tmp_path))
        cat.write("t", spark.createDataFrame(
            [(1, "x", "old"), (None, "x", "keep")],
            "a int, b string, v string"))
        cat.merge("t", spark.createDataFrame(
            [(1, "x", "new"), (None, "x", "ins")],
            "a int, b string, v string"), keys=["a", "b"])
        got = sorted(((r.a, r.b, r.v) for r in cat.read("t").collect()),
                     key=str)
        assert (1, "x", "new") in got and (1, "x", "old") not in got
        assert got.count((None, "x", "keep")) == 1
        assert got.count((None, "x", "ins")) == 1

    def test_time_travel_snapshots_immutable_across_modes(self, spark,
                                                          tmp_path):
        cat = TableCatalog(spark, str(tmp_path))
        recs = [cat.write("t", spark.range(3)),
                cat.write("t", spark.range(4), mode="append"),
                # append left ids 0,1 duplicated; MERGE replaces every
                # row matching a delta key but keeps the other
                # duplicates as-is: 4 kept (0,1 x2) + 7 upserts = 11
                cat.merge("t", spark.range(2, 9), keys=["id"]),
                cat.write("t", spark.range(1))]
        counts = [3, 7, 11, 1]
        for rec, n in zip(recs, counts):
            assert cat.read("t", rec["snapshot_id"]).count() == n

    def test_commit_atomicity_torn_tmp_log_ignored(self, spark, tmp_path):
        # the commit is os.replace(tmp, log): a crash BEFORE replace
        # leaves a torn .tmp that must not corrupt the committed log
        cat = TableCatalog(spark, str(tmp_path))
        cat.write("t", spark.range(7))
        with open(cat._log("t") + ".tmp", "w") as f:
            f.write('[{"torn": tru')               # mid-write garbage
        assert cat.read("t").count() == 7
        assert len(cat.snapshots("t")) == 1
        cat.write("t", spark.range(2), mode="append")  # next commit fine
        assert cat.read("t").count() == 9

    def test_restore_by_rewriting_old_snapshot(self, spark, tmp_path):
        # Iceberg rollback analog: re-committing a time-travel read
        cat = TableCatalog(spark, str(tmp_path))
        s1 = cat.write("t", spark.range(5))
        cat.write("t", spark.range(50))
        cat.write("t", cat.read("t", s1["snapshot_id"]))
        assert cat.read("t").count() == 5
        assert len(cat.snapshots("t")) == 3        # history kept

    def test_schema_recorded_per_snapshot(self, spark, tmp_path):
        cat = TableCatalog(spark, str(tmp_path))
        r1 = cat.write("t", spark.range(1))
        r2 = cat.write("t", spark.range(1).withColumn("v", F.lit("s")))
        assert "v STRING" in r2["schema"] and "v STRING" not in r1["schema"]
        assert cat.read("t").columns == ["id", "v"]

    def test_concurrent_appends_all_commit(self, spark, tmp_path):
        """Iceberg serializes concurrent commits via optimistic retry on
        the catalog pointer; the emulation serializes them with the
        per-table O_EXCL commit lock (parents re-read INSIDE the lock),
        so every writer's snapshot record AND rows survive a race."""
        from concurrent.futures import ThreadPoolExecutor
        cat = TableCatalog(spark, str(tmp_path))
        cat.write("t", spark.range(1))

        def app(i):
            return TableCatalog(spark, str(tmp_path)).write(
                "t", spark.range(10), mode="append")

        with ThreadPoolExecutor(4) as ex:
            recs = list(ex.map(app, range(4)))
        ids = [s["snapshot_id"] for s in cat.snapshots("t")]
        assert all(r["snapshot_id"] in ids for r in recs)
        assert len(ids) == 5                     # no record lost
        assert cat.read("t").count() == 41       # no rows lost

    def test_concurrent_merges_serialize(self, spark, tmp_path):
        # lost-update check: each merge holds the lock across its
        # read-compute-write, so no delta erases an earlier one
        from concurrent.futures import ThreadPoolExecutor
        cat = TableCatalog(spark, str(tmp_path))
        cat.write("t", spark.createDataFrame([(0, "z")], "k int, v string"))

        def m(i):
            d = spark.createDataFrame([(i, f"v{i}")], "k int, v string")
            TableCatalog(spark, str(tmp_path)).merge("t", d, keys=["k"])

        with ThreadPoolExecutor(4) as ex:
            list(ex.map(m, [1, 2, 3, 4]))
        got = {(r.k, r.v) for r in cat.read("t").collect()}
        assert got == {(0, "z"), (1, "v1"), (2, "v2"), (3, "v3"), (4, "v4")}

    def test_commit_lock_timeout_raises(self, spark, tmp_path):
        import os
        from dynamicaxiswarping_jl_spark.sources.storage import (
            CatalogCommitTimeout)
        cat = TableCatalog(spark, str(tmp_path), lock_timeout=0.3)
        os.makedirs(cat._dir("t"), exist_ok=True)
        with open(os.path.join(cat._dir("t"), "_commit.lock"), "w") as f:
            f.write("{}")                        # a live foreign holder
        with pytest.raises(CatalogCommitTimeout):
            cat.write("t", spark.range(1))

    def test_stale_lock_broken(self, spark, tmp_path):
        import os
        import time
        cat = TableCatalog(spark, str(tmp_path), lock_stale=0.05)
        os.makedirs(cat._dir("t"), exist_ok=True)
        lock = os.path.join(cat._dir("t"), "_commit.lock")
        with open(lock, "w") as f:
            f.write("{}")                        # a crashed holder
        time.sleep(0.1)
        rec = cat.write("t", spark.range(3))     # breaks it and commits
        assert rec["rows_written"] == 3
        assert not os.path.exists(lock)          # released after commit

    def test_racing_stale_lock_breakers_spare_the_winners_lock(self, spark,
                                                               tmp_path):
        """Two breakers judge the same crashed lock stale. The first
        retires it and takes the lock; the second acts on its old
        judgement only after that. It must leave the winner's live lock
        in place, content and inode, and leave no renamed file behind."""
        import json
        import os
        import time
        cat = TableCatalog(spark, str(tmp_path), lock_stale=0.05)
        os.makedirs(cat._dir("t"), exist_ok=True)
        lock = os.path.join(cat._dir("t"), "_commit.lock")
        with open(lock, "w") as f:
            f.write("{}")                        # a crashed holder
        time.sleep(0.1)
        seen = os.stat(lock)                     # both breakers saw this
        assert cat._break_stale_lock(lock, seen)
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.write(fd, json.dumps({"pid": "winner"}).encode())
        os.close(fd)
        live = os.stat(lock).st_ino
        assert not cat._break_stale_lock(lock, seen)
        with open(lock) as f:
            assert json.load(f) == {"pid": "winner"}
        assert os.stat(lock).st_ino == live
        assert os.listdir(cat._dir("t")) == ["_commit.lock"]

    def test_expire_snapshots_reclaims_only_dead_dirs(self, spark,
                                                      tmp_path):
        import os
        cat = TableCatalog(spark, str(tmp_path))
        s1 = cat.write("t", spark.range(5))
        cat.write("t", spark.range(6), mode="append")   # refs dir1+dir2
        cat.write("t", spark.range(7))                  # refs dir3 only
        out = cat.expire_snapshots("t", keep_last=1)
        assert out == {"expired": 2, "data_dirs_removed": 2}
        assert len(cat.snapshots("t")) == 1
        assert cat.read("t").count() == 7
        with pytest.raises(KeyError):                   # travel expired
            cat.read("t", s1["snapshot_id"])
        snapdirs = [d for d in os.listdir(cat._dir("t"))
                    if d.startswith("snap-")]
        assert len(snapdirs) == 1
        # a dir still referenced by a retained snapshot is NOT removed
        cat.write("t2", spark.range(2))
        cat.write("t2", spark.range(3), mode="append")
        out2 = cat.expire_snapshots("t2", keep_last=1)
        assert out2 == {"expired": 1, "data_dirs_removed": 0}
        assert cat.read("t2").count() == 5

    def test_compact_rewrites_fragments_history_kept(self, spark,
                                                     tmp_path):
        cat = TableCatalog(spark, str(tmp_path))
        cat.write("t", spark.range(5))
        cat.write("t", spark.range(5, 12), mode="append")
        rec = cat.compact("t")
        assert rec["mode"] == "compact" and len(rec["data_dirs"]) == 1
        assert sorted(r.id for r in cat.read("t").collect()) == \
            list(range(12))
        assert len(cat.snapshots("t")) == 3      # history preserved
        out = cat.expire_snapshots("t", keep_last=1)
        assert out["data_dirs_removed"] == 2     # fragments reclaimed


class TestHiddenPartitioning:
    """Iceberg hidden-partitioning emulation: transforms derive _p_*
    directory columns at write, invisible at read; partition_filter
    rewrites source-column predicates so the scan prunes."""

    @staticmethod
    def _fixture(spark):
        import datetime
        return spark.createDataFrame(
            [(i, datetime.datetime(2025, 1, 1 + i % 3, i % 24, 0),
              f"doc-{i:03d}") for i in range(30)],
            "id int, ts timestamp, name string")

    def test_hidden_columns_invisible_and_in_layout(self, spark, tmp_path):
        import os
        cat = TableCatalog(spark, str(tmp_path))
        rec = cat.write("t", self._fixture(spark),
                        partition_spec={"day": "days(ts)",
                                        "b": "bucket(4, id)"})
        assert rec["partition_spec"] == {"day": "days(ts)",
                                         "b": "bucket(4, id)"}
        got = cat.read("t")
        assert got.columns == ["id", "ts", "name"]   # hidden cols dropped
        d = rec["data_dirs"][0]
        assert any(x.startswith("_p_day=") for x in os.listdir(d))
        assert got.count() == 30

    def test_partition_filter_sound_and_reaches_scan(self, spark,
                                                     tmp_path):
        cat = TableCatalog(spark, str(tmp_path))
        cat.write("t", self._fixture(spark),
                  partition_spec={"day": "days(ts)", "b": "bucket(4, id)"})
        pred = cat.partition_filter("t", "ts", ">=", "2025-01-02")
        row = F.col("ts") >= "2025-01-02"
        pruned = sorted(r.id for r in
                        cat.read("t", where=pred).filter(row).collect())
        full = sorted(r.id for r in cat.read("t").filter(row).collect())
        assert pruned == full and len(full) > 0
        # the predicate lands in the scan's PartitionFilters, not as a
        # post-scan row filter
        plan = cat.read("t", where=pred)._jdf.queryExecution() \
                  .executedPlan().toString()
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert pf and "_p_day" in pf[0]

    def test_partition_filter_bucket_equality(self, spark, tmp_path):
        cat = TableCatalog(spark, str(tmp_path))
        cat.write("t", self._fixture(spark),
                  partition_spec={"b": "bucket(4, id)"})
        pred = cat.partition_filter("t", "id", "=", 7)
        got = cat.read("t", where=pred).filter(F.col("id") == 7)
        assert [r.id for r in got.collect()] == [7]
        with pytest.raises(ValueError):          # range can't prune bucket
            cat.partition_filter("t", "id", "<", 7)

    def test_partition_filter_bucket_long_column_int_literal(
            self, spark, tmp_path):
        """xxhash64 is type-sensitive (int 42 and long 42 hash
        differently): the rewrite must cast the literal to the stored
        column type or equality pruning silently drops the matching
        partition for LongType id columns."""
        cat = TableCatalog(spark, str(tmp_path))
        df = spark.createDataFrame([(i,) for i in range(30)], "id long")
        cat.write("t", df, partition_spec={"b": "bucket(4, id)"})
        pred = cat.partition_filter("t", "id", "=", 7)
        got = cat.read("t", where=pred).filter(F.col("id") == 7)
        assert [r.id for r in got.collect()] == [7]

    def test_merge_and_compact_preserve_hidden_partitioning(
            self, spark, tmp_path):
        """MERGE into (and compaction of) a hidden-partitioned table must
        align schemas past the materialized _p_* columns and carry the
        partition_spec forward, keeping partition_filter working."""
        import datetime
        import os
        spec = {"day": "days(ts)", "b": "bucket(4, id)"}
        cat = TableCatalog(spark, str(tmp_path))
        cat.write("t", self._fixture(spark), partition_spec=spec)
        up = spark.createDataFrame(
            [(7, datetime.datetime(2025, 1, 2, 3, 0), "doc-new")],
            "id int, ts timestamp, name string")
        rec = cat.merge("t", up, ["id"])
        assert rec["partition_spec"] == spec
        got = cat.read("t")
        assert got.columns == ["id", "ts", "name"]
        assert got.count() == 30
        assert got.filter(F.col("id") == 7).first()["name"] == "doc-new"
        assert any(x.startswith("_p_day=")
                   for x in os.listdir(rec["data_dirs"][0]))
        pred = cat.partition_filter("t", "id", "=", 7)
        assert (cat.read("t", where=pred)
                .filter(F.col("id") == 7).count()) == 1
        rec2 = cat.compact("t")
        assert rec2["partition_spec"] == spec
        assert cat.read("t").columns == ["id", "ts", "name"]
        pred2 = cat.partition_filter("t", "id", "=", 7)
        assert (cat.read("t", where=pred2)
                .filter(F.col("id") == 7).count()) == 1

    def test_partition_filter_truncate_and_errors(self, spark, tmp_path):
        cat = TableCatalog(spark, str(tmp_path))
        cat.write("t", self._fixture(spark),
                  partition_spec={"pfx": "truncate(5, name)"})
        pred = cat.partition_filter("t", "name", "=", "doc-012")
        got = cat.read("t", where=pred).filter(F.col("name") == "doc-012")
        assert [r.id for r in got.collect()] == [12]
        with pytest.raises(KeyError):            # not a partition source
            cat.partition_filter("t", "ts", "=", "x")
        with pytest.raises(ValueError):
            cat.partition_filter("t", "name", "!=", "doc-012")

    def test_partition_by_append_then_read(self, spark, tmp_path):
        """Each data dir of an appended snapshot is its own partition
        root; one multi-path read of them fails on the conflicting
        directory structures."""
        cat = TableCatalog(spark, str(tmp_path))
        fx = self._fixture(spark)
        cat.write("t", fx.filter(F.col("id") < 20),
                  partition_spec={"name": "identity(name)"})
        cat.write("t", fx.filter(F.col("id") >= 20), mode="append",
                  partition_spec={"name": "identity(name)"})
        got = cat.read("t")
        assert sorted(got.columns) == ["id", "name", "ts"]
        assert sorted(r.id for r in got.collect()) == list(range(30))

    @pytest.mark.parametrize("repeat_spec", [True, False])
    def test_hidden_spec_append_reads_filters_merges_compacts(
            self, spark, tmp_path, repeat_spec):
        """An append to a hidden-partitioned table, with or without the
        spec, keeps the spec (a spec-less append inherits it) and reads,
        prunes, merges and compacts like a single-dir table."""
        import datetime
        spec = {"day": "days(ts)", "b": "bucket(4, id)"}
        cat = TableCatalog(spark, str(tmp_path))
        fx = self._fixture(spark)
        cat.write("t", fx.filter(F.col("id") < 20), partition_spec=spec)
        rec = cat.write("t", fx.filter(F.col("id") >= 20), mode="append",
                        partition_spec=spec if repeat_spec else None)
        assert rec["partition_spec"] == spec
        assert len(rec["data_dirs"]) == 2
        got = cat.read("t")
        assert got.columns == ["id", "ts", "name"]
        assert sorted(r.id for r in got.collect()) == list(range(30))

        pred = cat.partition_filter("t", "ts", ">=", "2025-01-02")
        row = F.col("ts") >= "2025-01-02"
        pruned = sorted(r.id for r in
                        cat.read("t", where=pred).filter(row).collect())
        full = sorted(r.id for r in cat.read("t").filter(row).collect())
        assert pruned == full and len(full) > 0
        plan = cat.read("t", where=pred)._jdf.queryExecution() \
                  .executedPlan().toString()
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert len(pf) == 2 and all("_p_day" in ln for ln in pf)

        up = spark.createDataFrame(
            [(25, datetime.datetime(2025, 1, 2, 3, 0), "doc-new")],
            "id int, ts timestamp, name string")
        rec = cat.merge("t", up, ["id"])
        assert rec["partition_spec"] == spec
        got = cat.read("t")
        assert got.count() == 30
        assert got.filter(F.col("id") == 25).first()["name"] == "doc-new"

        rec = cat.compact("t")
        assert rec["partition_spec"] == spec
        assert len(rec["data_dirs"]) == 1
        eq = cat.partition_filter("t", "id", "=", 25)
        assert [r.name for r in cat.read("t", where=eq)
                .filter(F.col("id") == 25).collect()] == ["doc-new"]
        assert cat.read("t").count() == 30

    def test_append_with_a_different_spec_raises(self, spark, tmp_path):
        import os
        cat = TableCatalog(spark, str(tmp_path))
        cat.write("t", self._fixture(spark),
                  partition_spec={"day": "days(ts)"})
        cat.write("u", self._fixture(spark))
        before = sorted(os.listdir(cat._dir("t")))
        with pytest.raises(ValueError):
            cat.write("t", self._fixture(spark), mode="append",
                      partition_spec={"b": "bucket(4, id)"})
        with pytest.raises(ValueError):
            cat.write("u", self._fixture(spark), mode="append",
                      partition_spec={"day": "days(ts)"})
        # refused before any data was written
        assert sorted(os.listdir(cat._dir("t"))) == before
        assert len(cat.snapshots("t")) == 1 and len(cat.snapshots("u")) == 1


def test_append_with_a_different_schema_raises(spark, tmp_path):
    """An append must carry the table's columns and types (in any order):
    one that adds a column or changes a type is refused before writing,
    instead of committing a snapshot no read can open."""
    import os
    cat = TableCatalog(spark, str(tmp_path))
    fx = TestHiddenPartitioning._fixture(spark)
    cat.write("t", fx.filter(F.col("id") < 20),
              partition_spec={"day": "days(ts)"})
    before = sorted(os.listdir(cat._dir("t")))
    with pytest.raises(ValueError):
        cat.write("t", fx.withColumn("extra", F.lit(1)), mode="append")
    with pytest.raises(ValueError):
        cat.write("t", fx.withColumn("id", F.col("id").cast("long")),
                  mode="append")
    assert sorted(os.listdir(cat._dir("t"))) == before
    assert len(cat.snapshots("t")) == 1
    # reads go by name, so column order does not count
    cat.write("t", fx.filter(F.col("id") >= 20).select("name", "ts", "id"),
              mode="append")
    got = cat.read("t")
    assert got.columns == ["id", "ts", "name"]
    assert sorted(r.id for r in got.collect()) == list(range(30))


def test_read_builds_without_a_job(spark, tmp_path):
    """A read takes its schema from the commit record, so building it
    runs no Spark job (schema inference ran one per data dir)."""
    cat = TableCatalog(spark, str(tmp_path))
    fx = TestHiddenPartitioning._fixture(spark)
    cat.write("plain", fx)
    cat.write("days", fx, partition_spec={"day": "days(ts)"})
    cat.write("two", fx.filter(F.col("id") < 20),
              partition_spec={"day": "days(ts)"})
    cat.write("two", fx.filter(F.col("id") >= 20), mode="append")
    sc = spark.sparkContext
    for name in ("plain", "days", "two"):
        group = f"catalog-read-{name}"
        sc.setJobGroup(group, group)
        try:
            df = cat.read(name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0, name
        assert df.columns == ["id", "ts", "name"]
        assert df.count() == 30


def test_empty_write_to_partitioned_table_reads(spark, tmp_path):
    """An empty write leaves no partition directory to infer a schema
    from; the recorded schema still reads it, and it takes an append."""
    cat = TableCatalog(spark, str(tmp_path))
    fx = TestHiddenPartitioning._fixture(spark)
    cat.write("t", fx.limit(0), partition_spec={"day": "days(ts)"})
    assert cat.read("t").count() == 0
    assert cat.read("t").columns == ["id", "ts", "name"]
    rec = cat.write("t", fx, mode="append")
    assert rec["partition_spec"] == {"day": "days(ts)"}
    assert sorted(r.id for r in cat.read("t").collect()) == list(range(30))
    pred = cat.partition_filter("t", "ts", ">=", "2025-01-03")
    assert (cat.read("t", where=pred).filter(F.col("ts") >= "2025-01-03")
            .count()) == 10


def test_visible_p_prefixed_column_round_trips(spark, tmp_path):
    """Only the spec's ``_p_<name>`` columns are hidden: a user's own
    ``_p_``-prefixed column reads back and is part of the append check."""
    cat = TableCatalog(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, _p_note string")
    cat.write("t", df)
    assert cat.read("t").columns == ["id", "_p_note"]
    cat.write("t", df, mode="append")
    assert sorted(r._p_note for r in cat.read("t").collect()) == [
        "a", "a", "b", "b"]
    with pytest.raises(ValueError, match="schema"):
        cat.write("t", df.drop("_p_note"), mode="append")


def test_visible_column_colliding_with_hidden_column_raises(spark, tmp_path):
    """A visible column named like one of the spec's hidden columns would
    be overwritten by the partition value; the write refuses it and
    commits nothing."""
    cat = TableCatalog(spark, str(tmp_path))
    fx = TestHiddenPartitioning._fixture(spark).withColumn("_p_day",
                                                           F.lit("x"))
    with pytest.raises(ValueError, match="_p_day"):
        cat.write("t", fx, partition_spec={"day": "days(ts)"})
    assert cat.snapshots("t") == []
