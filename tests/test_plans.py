"""Physical-plan quality gates: pushdown, pruning, codegen, broadcast.

These assert the *plan*, not the result — the properties that decide whether
the same query survives a 100× scale-up (SURVEY.md §4.2).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from dynamicaxiswarping_jl_spark.operators import rollup_turns

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


class TestPlanQuality:
    def test_rollup_prunes_columns(self, spark):
        ev = spark.read.parquet(f"{SF}/events.parquet")
        evs = ev.select(F.col("user_id").cast("string").alias("conv_id"), "ts",
                        F.lit(None).cast("string").alias("tool"))
        plan = plan_of(rollup_turns(evs, "1m"))
        # scan must read only ts + user_id — not value/props/event_type
        assert "ReadSchema" in plan
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "props" not in read_schema
        assert "value" not in read_schema
        assert "event_type" not in read_schema

    def test_filter_pushdown_reaches_scan(self, spark):
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        q = li.filter(F.col("l_shipdate") <= F.lit("1998-09-01")) \
              .select("l_returnflag")
        plan = plan_of(q)
        assert "PushedFilters" in plan
        pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
        assert "l_shipdate" in pushed

    def test_rollup_single_shuffle(self, spark):
        ev = spark.read.parquet(f"{SF}/events.parquet")
        evs = ev.select(F.col("user_id").cast("string").alias("conv_id"), "ts",
                        F.lit(None).cast("string").alias("tool"))
        plan = plan_of(rollup_turns(evs, "1m"))
        # partial agg before the single exchange (map-side combine);
        # (AQE's pre-execution formatted plan hides codegen spans, so assert
        # the aggregate structure instead)
        import re
        n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        assert n_exchanges == 1
        assert "partial_count" in plan

    def test_nation_revenue_broadcasts_dims(self, spark):
        plan = plan_of(E.queries()["nation_revenue"](spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_text_ops_stay_jvm_side(self, spark):
        # token/quality/lang/fingerprint must not contain python UDF nodes
        for name in ("token_stats", "quality_score", "language_id",
                     "fingerprint_dupes"):
            plan = plan_of(E.queries()[name](spark, SF))
            assert "BatchEvalPython" not in plan, name
            assert "ArrowEvalPython" not in plan, name

    def test_cosine_scoring_jvm_side(self, spark):
        plan = plan_of(E.queries()["cosine_topk"](spark, SF))
        # dot products are higher-order aggregate expressions, not UDFs
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestSpreadPlan:
    """spread must (a) never probe .rdd on a plan with exchanges — under
    AQE that conversion MATERIALIZES the upstream query stages, running
    the lineage twice — and (b) reach its target with a narrow coalesce
    (no shuffle, no stage boundary) when the input is an exchange-free
    read (cached frame / file scan) that is already wide enough."""

    def test_exchange_free_classifier(self, spark):
        from dynamicaxiswarping_jl_spark.plans.fanout import (
            _plan_is_exchange_free)
        ev = spark.read.parquet(f"{SF}/events.parquet")
        assert _plan_is_exchange_free(ev)                       # file scan
        agg = ev.groupBy("event_type").count()
        assert not _plan_is_exchange_free(agg)                  # shuffle agg
        cached = ev.select("user_id", "ts").cache()
        try:
            cached.count()
            # narrow projection over the cache: InMemoryTableScan leaf —
            # the exchange that BUILT the cache must not count
            assert _plan_is_exchange_free(cached.select("user_id"))
            joined = cached.alias("a").join(
                cached.alias("b"), "user_id")
            assert not _plan_is_exchange_free(joined)           # join
        finally:
            cached.unpersist()

    def test_subquery_bearing_plan_is_not_exchange_free(self, spark):
        """A scalar subquery's plan runs eagerly on .rdd conversion even
        when the main tree has no Exchange — the classifier must send
        such frames down the repartition path, never the probe."""
        from dynamicaxiswarping_jl_spark.plans.fanout import (
            _plan_is_exchange_free)
        ev = spark.read.parquet(f"{SF}/events.parquet")
        ev.createOrReplaceTempView("_sq_events")
        sub = spark.sql(
            "SELECT user_id, ts FROM _sq_events "
            "WHERE user_id > (SELECT avg(user_id) FROM _sq_events)")
        assert not _plan_is_exchange_free(sub)

    def test_spread_narrow_on_wide_cache_shuffle_on_join(self, spark):
        from dynamicaxiswarping_jl_spark.plans.fanout import spread
        ev = spark.read.parquet(f"{SF}/events.parquet")
        wide = ev.select("user_id", "ts").repartition(64).cache()
        try:
            wide.count()
            target = spark.sparkContext.defaultParallelism
            narrow = spread(wide.select("user_id"), target=target)
            # only the plan ABOVE the cache leaf counts — the
            # InMemoryRelation's description embeds the repartition that
            # originally built the cache
            plan_top = plan_of(narrow).split("InMemoryRelation")[0]
            assert "Coalesce" in plan_top
            assert "RoundRobinPartitioning" not in plan_top
            assert narrow.rdd.getNumPartitions() == target
            joined = wide.alias("a").join(wide.alias("b"), "user_id")
            plan_j = plan_of(spread(joined, target=target))
            assert "RoundRobinPartitioning" in plan_j
        finally:
            wide.unpersist()

    def test_fan_out_slices_only_a_narrow_exchange_free_input(self, spark):
        """fan_out crosses with query slices only when the input is
        exchange-free and narrower than the target. A wide cache
        coalesces, a single item reads a narrow one in place, and a join
        keeps spread's repartition, each with k = 1."""
        from dynamicaxiswarping_jl_spark.plans.fanout import fan_out
        ev = spark.read.parquet(f"{SF}/events.parquet")
        wide = ev.select("user_id", "ts").repartition(64).cache()
        try:
            wide.count()
            narrow = wide.coalesce(2)
            frame, k = fan_out(wide.select("user_id"), 10, 8)
            top = plan_of(frame).split("InMemoryRelation")[0]
            assert k == 1 and "Coalesce" in top
            assert frame.rdd.getNumPartitions() == 8
            frame, k = fan_out(narrow, 1, 8)
            top = plan_of(frame).split("InMemoryRelation")[0]
            assert k == 1 and "CartesianProduct" not in top
            assert frame.rdd.getNumPartitions() == 2
            frame, k = fan_out(narrow, 10, 8)
            top = plan_of(frame).split("InMemoryRelation")[0]
            assert k == 4 and "CartesianProduct" in top
            assert frame.rdd.getNumPartitions() == 8
            joined = wide.alias("a").join(wide.alias("b"), "user_id")
            frame, k = fan_out(joined, 10, 8)
            assert k == 1 and "RoundRobinPartitioning" in plan_of(frame)
        finally:
            wide.unpersist()

    def test_block_product_reads_both_sides_in_place(self, spark):
        """block_product coalesces a wide exchange-free left side to one
        partition, keeps the right side's partitions while they fit the
        target and coalesces them to it past it, slices only below the
        target, and repartitions a side whose plan has an Exchange."""
        from dynamicaxiswarping_jl_spark.plans.fanout import (
            _plan_is_exchange_free, block_product)
        ev = spark.read.parquet(f"{SF}/events.parquet")
        wide = ev.select("user_id", "ts").repartition(64).cache()
        try:
            wide.count()
            one = wide.coalesce(1)
            frame, k = block_product(wide.select("user_id"),
                                     wide.coalesce(2).select("ts"), 4)
            assert k == 2 and _plan_is_exchange_free(frame)
            assert "CartesianProduct" in plan_of(frame)
            assert frame.rdd.getNumPartitions() == 4
            frame, k = block_product(one.select("user_id"),
                                     wide.select("ts"), 4)
            assert k == 1 and _plan_is_exchange_free(frame)
            assert frame.rdd.getNumPartitions() == 4
            frame, k = block_product(one.select("user_id"),
                                     one.select("ts"), 4)
            assert k == 4 and _plan_is_exchange_free(frame)
            assert frame.rdd.getNumPartitions() == 4
            joined = wide.alias("a").join(wide.alias("b"), "user_id")
            frame, k = block_product(joined.select("user_id"),
                                     one.select("ts"), 4)
            assert k == 4
            assert "SinglePartition, REPARTITION_BY_NUM" in plan_of(frame)
            frame, k = block_product(one.select("user_id"),
                                     joined.select("user_id"), 4)
            assert k == 1
            assert "RoundRobinPartitioning" in plan_of(frame)
        finally:
            wide.unpersist()

    @pytest.mark.parametrize("left_parts,right_parts", [(1, 1), (3, 2)])
    def test_block_product_yields_every_pair_once(self, spark, left_parts,
                                                  right_parts):
        """Read by product_sides, with right rows s::k per slice, the
        product holds every (left, right) pair exactly once, also when
        each side spans several Arrow batches: a task's left side is the
        whole left frame and its right side one right partition, each
        block once and in number order."""
        from dynamicaxiswarping_jl_spark.plans.fanout import (
            block_product, product_sides)
        left = spark.createDataFrame(
            [(f"l{i}", [float(i)] * (i % 3 + 1)) for i in range(7)],
            "id string, v array<double>").repartition(left_parts).cache()
        right = spark.createDataFrame([(f"r{j}",) for j in range(5)],
                                      "rid string").repartition(
                                          right_parts).cache()
        left.count(), right.count()
        frame, k = block_product(left, right, 4)
        assert k == 4 // right_parts
        assert frame.rdd.getNumPartitions() == right_parts * k

        def pairs(batches):
            import pyarrow as pa
            batches = list(batches)
            lt, rt, s = product_sides(iter(batches))
            blocks = len({n for b in batches
                          for n in b.column("_left_no").to_pylist()})
            got = [(a, float(v.sum()), b, ",".join(lt["id"]),
                    ",".join(rt["rid"]), blocks)
                   for a, v in zip(lt["id"], lt["v"])
                   for b in rt["rid"][s::k]]
            yield pa.RecordBatch.from_pylist(
                [dict(zip(("a", "v", "b", "left", "right", "blocks"), g))
                 for g in got],
                schema=pa.schema([("a", pa.string()), ("v", pa.float64()),
                                  ("b", pa.string()), ("left", pa.string()),
                                  ("right", pa.string()),
                                  ("blocks", pa.int64())]))

        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        spark.conf.set(key, "2")
        try:
            rows = frame.mapInArrow(
                pairs, "a string, v double, b string, left string, "
                "right string, blocks long").collect()
            left_rows = [r.id for p in left.rdd.glom().collect() for r in p]
            right_parts = {",".join(r.rid for r in p)
                           for p in right.rdd.glom().collect() if p}
        finally:
            spark.conf.set(key, old)
            left.unpersist(), right.unpersist()
        assert {r["left"] for r in rows} == {",".join(left_rows)}
        assert {r["right"] for r in rows} == right_parts
        assert min(r["blocks"] for r in rows) > 1  # several left blocks
        assert sorted(tuple(r)[:3] for r in rows) == sorted(
            (f"l{i}", float(i) * (i % 3 + 1), f"r{j}")
            for i in range(7) for j in range(5))

    def test_exchange_free_partitions_counts_scans_and_caches(self, spark):
        """On an exchange-free plan the probe returns Spark's own count:
        the file splitter's for a scan, the cache layout's for a cached
        frame."""
        from dynamicaxiswarping_jl_spark.plans.fanout import (
            exchange_free_partitions)
        ev = spark.read.parquet(f"{SF}/events.parquet")
        assert exchange_free_partitions(ev) == ev.rdd.getNumPartitions()
        cached = ev.select("user_id").repartition(7).cache()
        try:
            cached.count()
            assert exchange_free_partitions(cached.select("user_id")) == 7
        finally:
            cached.unpersist()

    def test_exchange_free_partitions_runs_no_job_on_shuffles(self, spark):
        """A shuffled or subquery-bearing plan answers None, and asking
        runs no Spark job (its .rdd would make AQE run the upstream
        stages)."""
        from dynamicaxiswarping_jl_spark.plans.fanout import (
            exchange_free_partitions)
        ev = spark.read.parquet(f"{SF}/events.parquet")
        ev.createOrReplaceTempView("_probe_events")
        agg = ev.groupBy("event_type").count()
        sub = spark.sql(
            "SELECT user_id FROM _probe_events "
            "WHERE user_id > (SELECT avg(user_id) FROM _probe_events)")
        sc = spark.sparkContext
        sc.setJobGroup("fanout-probe", "exchange_free_partitions probe")
        try:
            assert exchange_free_partitions(agg) is None
            assert exchange_free_partitions(sub) is None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup("fanout-probe")) == 0

    def test_known_max_rows_bounds_limits_not_scans_and_runs_no_job(
            self, spark):
        """Catalyst's static bound: a limit has one, a file scan does
        not, and reading it runs no Spark job."""
        from dynamicaxiswarping_jl_spark.plans.fanout import known_max_rows
        ev = spark.read.parquet(f"{SF}/events.parquet")
        sc = spark.sparkContext
        sc.setJobGroup("max-rows-probe", "known_max_rows probe")
        try:
            assert known_max_rows(ev.limit(7)) == 7
            assert known_max_rows(ev) is None
            # createDataFrame: a list builds a LogicalRDD (no bound), a
            # pandas frame a LocalRelation (bounded)
            assert known_max_rows(
                spark.createDataFrame([(1,), (2,)], "a int")) is None
            assert known_max_rows(spark.createDataFrame(
                pd.DataFrame({"a": [1, 2]}))) == 2
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(
            "max-rows-probe")) == 0


class TestDriverMemoryDefault:
    """get_spark's driver heap: SPARK_DRIVER_MEMORY when set, else the
    smaller of 8g and half the host's physical memory."""

    @staticmethod
    def _host(monkeypatch, phys_bytes):
        from dynamicaxiswarping_jl_spark.plans import session
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        return session

    @pytest.mark.parametrize("phys_gib,want", [
        (4, "2048m"), (15, "7680m"), (16, "8192m"), (64, "8192m")])
    def test_half_of_physical_memory_capped_at_8g(self, monkeypatch,
                                                  phys_gib, want):
        monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
        session = self._host(monkeypatch, phys_gib << 30)
        assert session._driver_memory() == want

    def test_env_var_wins(self, monkeypatch):
        monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
        session = self._host(monkeypatch, 64 << 30)
        assert session._driver_memory() == "3g"
