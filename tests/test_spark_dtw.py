"""DTW analytics through Spark: bit-identical to the local NumPy kernels
(SURVEY.md §5 test plan item b)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynamicaxiswarping_jl_spark.kernels import (
    dtw, dtw_cost, dtw_cost_batch, dtwnn, dba, SqEuclidean)
from dynamicaxiswarping_jl_spark.operators import (
    dtw_pairs, drift_scores, dtwnn_search, knn_topk, dba_per_group,
    rollup_turns, cascade, gapfill, assemble_series)
from dynamicaxiswarping_jl_spark.sources import transcripts_df

SERIES_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("points", T.ArrayType(T.DoubleType())),
])


@pytest.fixture(scope="module")
def series(spark):
    rng = np.random.default_rng(21)
    rows = [("s%02d" % i, np.cumsum(rng.normal(size=40)).tolist())
            for i in range(10)]
    return spark.createDataFrame(rows, SERIES_SCHEMA).cache()


class TestDtwPairs:
    def test_matches_kernel(self, spark, series):
        pdf = series.toPandas()
        pairs = spark.createDataFrame(
            [(pdf.conv_id[i], [float(v) for v in pdf.points[i]], pdf.conv_id[j], [float(v) for v in pdf.points[j]])
             for i in range(4) for j in range(4) if i != j],
            "id_a string, a array<double>, id_b string, b array<double>")
        got = dtw_pairs(pairs, keep_paths=True).toPandas().set_index(["id_a", "id_b"])
        for i in range(4):
            for j in range(4):
                if i == j:
                    continue
                cost, i1, i2 = dtw(np.array(pdf.points[i]), np.array(pdf.points[j]))
                row = got.loc[(pdf.conv_id[i], pdf.conv_id[j])]
                assert row["cost"] == pytest.approx(cost, rel=1e-12)
                assert list(row["i1"]) == i1.tolist()
                assert list(row["i2"]) == i2.tolist()

    def test_banded_radius(self, spark, series):
        pdf = series.toPandas()
        pairs = spark.createDataFrame(
            [(pdf.conv_id[0], [float(v) for v in pdf.points[0]], pdf.conv_id[1], [float(v) for v in pdf.points[1]])],
            "id_a string, a array<double>, id_b string, b array<double>")
        got = dtw_pairs(pairs, radius=5).first()["cost"]
        from dynamicaxiswarping_jl_spark.kernels import radiuslimits
        imin, imax = radiuslimits(5, 40, 40)
        want, _, _ = dtw(np.array(pdf.points[0]), np.array(pdf.points[1]),
                         i2min=imin, i2max=imax)
        assert got == pytest.approx(want, rel=1e-12)


class TestDtwnnSearch:
    def test_matches_kernel_global_min(self, spark, series):
        pdf = series.toPandas()
        q = np.array(pdf.points[3][10:25])
        queries = spark.createDataFrame([("q0", q.tolist())],
                                        "query_id string, q array<double>")
        got = dtwnn_search(queries, series, radius=3).first()
        # oracle: kernel dtwnn per series, global argmin (ties → min conv_id
        # is not guaranteed by min_by; assert on cost and that loc matches)
        best = None
        for row in pdf.itertuples(index=False):
            res = dtwnn(q, np.array(row.points), SqEuclidean(), 3)
            if best is None or res.cost < best[0]:
                best = (res.cost, row.conv_id, res.loc)
        assert got["cost"] == pytest.approx(best[0], rel=1e-9)
        assert got["conv_id"] == best[1]
        assert got["loc"] == best[2]
        assert got["prune_end"] + got["prune_env"] >= 0

    def test_euclidean_equals_driver_brute_force(self, spark, series):
        """dist="euclidean" scores Euclidean windows: (cost, conv_id,
        loc) per query equal the minimum of dtw_cost over every window of
        every series of the cached corpus."""
        pdf = series.toPandas()
        rng = np.random.default_rng(4)
        qs = {"q0": np.array(pdf.points[3][10:25]) + 0.3 * rng.normal(size=15),
              "q1": np.array(pdf.points[8][5:17]) + 0.3 * rng.normal(size=12)}
        queries = spark.createDataFrame(
            [(k, v.tolist()) for k, v in qs.items()],
            "query_id string, q array<double>")
        got = dtwnn_search(queries, series, radius=3,
                           dist="euclidean").toPandas()
        for qid, q in qs.items():
            m = len(q)
            want = min((dtw_cost(q, np.array(y)[t:t + m], "euclidean", 3),
                        cid, t + 1)
                       for cid, y in zip(pdf.conv_id, pdf.points)
                       for t in range(len(y) - m + 1))
            row = got[got.query_id == qid].iloc[0]
            assert (row["cost"], row["conv_id"], row["loc"]) == want

    def test_seeded_bsf_identical_under_exact_ties(self, spark):
        # The best-so-far a task carries across its series must not
        # change cost/conv_id/loc even when several series tie EXACTLY at
        # the carried value (the knife-edge: a series whose optimum
        # equals the running bsf must still report, since every LB gate
        # compares with <=). Zero plateaus + duplicated series make exact
        # cross-series ties certain, including cost 0 at the bsf itself.
        # One task (all 12 series thread one bsf) must equal 12 tasks.
        rows, qrows = _exact_tie_rows()
        series = spark.createDataFrame(rows, SERIES_SCHEMA)
        queries = spark.createDataFrame(
            qrows, "query_id string, q array<double>")
        cols = ["query_id", "cost", "conv_id", "loc"]
        wide = (dtwnn_search(queries, series, radius=3, partitions=12)
                .select(*cols).toPandas()
                .sort_values("query_id").reset_index(drop=True))
        threaded = (dtwnn_search(queries, series, radius=3, partitions=1)
                    .select(*cols).toPandas()
                    .sort_values("query_id").reset_index(drop=True))
        pd.testing.assert_frame_equal(wide, threaded)
        # the duplicated-series queries must land on the lexicographically
        # smallest copy with cost exactly 0 — a tie AT the carried bsf
        for qid in ("q0", "q1"):
            row = threaded[threaded.query_id == qid].iloc[0]
            assert row["cost"] == 0.0
            assert row["conv_id"] == "t00"

    @pytest.mark.parametrize("normalizer", [None, "znorm"])
    def test_blocked_large_query_path_matches_closure_path(
            self, spark, series, normalizer):
        """VERDICT r03 #2: past max_closure_queries the query set must
        never ride the driver (no collect + closure). Force the
        large-query path with max_closure_queries=0 and assert
        cost/conv_id/loc identical to the closure plan — including exact
        cross-series ties and queries longer than some series — for the
        plain and znorm searches. Each query's cost must also equal
        the local brute-force ``dtwnn`` minimum over every series with
        the same normalizer."""
        pdf = series.toPandas()
        rng = np.random.default_rng(31)
        qrows = []
        for i in range(24):
            src = pdf.points[int(rng.integers(0, len(pdf)))]
            a = int(rng.integers(0, max(1, len(src) - 6)))
            m = int(rng.integers(4, 14))
            q = list(src[a:a + m])
            if rng.random() < 0.3:  # perturb so not all are exact hits
                q = [v + 0.1 for v in q]
            qrows.append((f"q{i:02d}", [float(v) for v in q]))
        queries = spark.createDataFrame(
            qrows, "query_id string, q array<double>")
        want = {qid: min(dtwnn(np.array(q), np.array(y), SqEuclidean(), 3,
                               normalizer).cost
                         for y in pdf.points if len(y) >= len(q))
                for qid, q in qrows}
        cols = ["query_id", "cost", "conv_id", "loc"]
        kw = dict(radius=3, normalizer=normalizer)
        closure = (dtwnn_search(queries, series, **kw)
                   .select(*cols).toPandas()
                   .sort_values("query_id").reset_index(drop=True))
        blocked = (dtwnn_search(queries, series, max_closure_queries=0,
                                **kw)
                   .select(*cols).toPandas()
                   .sort_values("query_id").reset_index(drop=True))
        pd.testing.assert_frame_equal(closure, blocked)
        assert closure.cost.tolist() == [want[qid]
                                         for qid in closure.query_id]

    def test_n_queries_hint_routes_without_a_probe_job(self, spark,
                                                       series):
        """The caller-size hint must pick the path by itself (no
        count()/maxRows probe) and both routings must stay exact: a
        hint above the closure cap forces the blocked plan, a hint at
        the true size keeps the closure plan, results identical."""
        pdf = series.toPandas()
        q = [float(v) for v in pdf.points[0][:8]]
        queries = spark.createDataFrame([("q0", q)],
                                        "query_id string, q array<double>")
        cols = ["query_id", "cost", "conv_id", "loc"]
        via_closure = (dtwnn_search(queries, series, radius=3,
                                    n_queries=1)
                       .select(*cols).toPandas())
        via_blocked = (dtwnn_search(queries, series, radius=3,
                                    n_queries=10_000)
                       .select(*cols).toPandas())
        pd.testing.assert_frame_equal(via_closure, via_blocked)

    def test_interactive_request_runs_at_most_two_jobs(self, spark,
                                                       series):
        """A repeated small request over a cached corpus: the query
        collect and the search pass only, with no shuffle in front of
        the search. The per-task winners fold on the driver into a local
        relation, so the caller's collect() runs no job."""
        pdf = series.toPandas()
        queries = spark.createDataFrame(
            [(f"q{i}", [float(v) for v in pdf.points[i][5:17]])
             for i in range(4)], "query_id string, q array<double>")

        def request():
            return dtwnn_search(queries, series, radius=3,
                                n_queries=4).collect()

        request()  # warm
        rows, jobs = _jobs_of(spark, "dtwnn-job-count", request)
        assert len(rows) == 4
        assert jobs <= 2

    def test_narrow_cached_corpus_fans_out_by_query_slices(self, spark,
                                                           series):
        """A 1-partition cached corpus under a task target of 8 is read
        in place: 4 queries cross it as 4 one-row range partitions in a
        narrow CartesianProduct (no Exchange, no broadcast), and the
        search stage runs 4 tasks, one per query slice."""
        from dynamicaxiswarping_jl_spark.plans.fanout import fan_out
        narrow = series.coalesce(1).cache()
        try:
            narrow.count()
            pdf = narrow.toPandas()
            queries = spark.createDataFrame(
                [(f"q{i}", [float(v) for v in pdf.points[i][5:17]])
                 for i in range(4)], "query_id string, q array<double>")
            frame, k = fan_out(narrow.select("conv_id", "points"), 4, 8)
            plan = frame._jdf.queryExecution().executedPlan().toString()
            assert k == 4
            for node in ("CartesianProduct", "InMemoryTableScan", "Range"):
                assert node in plan
            assert "Exchange" not in plan  # nor BroadcastExchange

            def request():
                return dtwnn_search(queries, narrow, radius=3,
                                    partitions=8, n_queries=4).collect()

            request()  # warm
            group = "dtwnn-slices"
            rows, jobs = _jobs_of(spark, group, request)
            tracker = spark.sparkContext.statusTracker()
            search = max(tracker.getJobIdsForGroup(group))
            stages = tracker.getJobInfo(search).stageIds
            assert len(rows) == 4 and jobs <= 2
            assert [tracker.getStageInfo(s).numTasks for s in stages] == [4]
        finally:
            narrow.unpersist()

    def test_query_slices_identical_under_exact_ties(self, spark):
        """On a 1-partition cached corpus, query slices (k > 1) must
        give the (cost, conv_id, loc) of one unsliced task (k = 1) and
        of brute-force ``dtwnn`` over every series, on the exact-tie
        data of test_seeded_bsf_identical_under_exact_ties: each slice
        task threads its own best-so-far over the same series order."""
        rows, qrows = _exact_tie_rows()
        corpus = spark.createDataFrame(rows, SERIES_SCHEMA).coalesce(1).cache()
        try:
            corpus.count()
            queries = spark.createDataFrame(
                qrows, "query_id string, q array<double>")
            cols = ["query_id", "cost", "conv_id", "loc"]

            def search(partitions):
                return (dtwnn_search(queries, corpus, radius=3,
                                     partitions=partitions)
                        .select(*cols).toPandas()
                        .sort_values("query_id").reset_index(drop=True))

            sliced, uneven, whole = search(8), search(2), search(1)
        finally:
            corpus.unpersist()
        pd.testing.assert_frame_equal(sliced, whole)   # k = 3: 1 query each
        pd.testing.assert_frame_equal(uneven, whole)   # k = 2: 2 and 1
        brute = []
        for qid, q in qrows:
            best = min((r.cost, cid, r.loc) for cid, r in (
                (cid, dtwnn(np.array(q), np.array(y), SqEuclidean(), 3))
                for cid, y in rows))
            brute.append((qid, *best))
        assert list(sliced.itertuples(index=False, name=None)) == brute
        for qid in ("q0", "q1"):
            row = sliced[sliced.query_id == qid].iloc[0]
            assert (row["cost"], row["conv_id"]) == (0.0, "t00")

    def test_bulk_request_over_narrow_cached_corpus_runs_one_job(
            self, spark, series):
        """A repeated large request over a 1-partition cached corpus is
        one narrow stage: the packed corpus and query blocks cross in a
        CartesianProduct over the cache, with no Exchange (no query
        shuffle, no winner reduce), and the caller's collect() is 1 job
        with one task per query partition."""
        narrow = series.coalesce(1).cache()
        try:
            narrow.count()
            queries = _bulk_queries(spark, narrow.toPandas())

            def search():
                return dtwnn_search(queries, narrow, radius=3, n_queries=24,
                                    max_closure_queries=4)

            plan = search()._jdf.queryExecution().executedPlan().toString()
            for node in ("CartesianProduct", "InMemoryTableScan"):
                assert node in plan
            assert "Exchange" not in plan
            search().collect()  # warm
            group = "dtwnn-bulk-narrow"
            rows, jobs = _jobs_of(spark, group, lambda: search().collect())
            assert len(rows) == 24 and jobs == 1
            assert _stage_tasks(spark, group) == [
                queries.rdd.getNumPartitions()]
        finally:
            narrow.unpersist()

    def test_bulk_request_over_wide_cached_corpus_runs_one_job(
            self, spark, series):
        """A multi-partition cached corpus is coalesced to one partition,
        so each query meets the whole corpus in one task: the repeated
        request is one narrow stage (CartesianProduct, no Exchange, no
        winner reduce), and the caller's collect() is 1 job."""
        assert series.rdd.getNumPartitions() > 1
        queries = _bulk_queries(spark, series.toPandas())

        def search():
            return dtwnn_search(queries, series, radius=3, n_queries=24,
                                max_closure_queries=4)

        search().collect()  # warm
        plan = search()._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" in plan and "Exchange" not in plan
        rows, jobs = _jobs_of(spark, "dtwnn-bulk-wide",
                              lambda: search().collect())
        assert len(rows) == 24
        assert jobs == 1

    def test_wide_corpus_and_wide_queries_run_a_task_per_core(
            self, spark, series):
        """A 4-partition cached corpus crossed with a 4-partition cached
        query frame: the query side is coalesced so that the product
        runs at most one task per core, and the rows equal the closure
        path's."""
        cores = spark.sparkContext.defaultParallelism
        corpus = series.repartition(4).cache()
        queries = _bulk_queries(spark, series.toPandas()).repartition(
            4).cache()
        try:
            corpus.count(), queries.count()
            cols = ["query_id", "cost", "conv_id", "loc"]
            bulk, _ = _jobs_of(spark, "dtwnn-wide-wide", lambda: dtwnn_search(
                queries, corpus, radius=3, n_queries=24,
                max_closure_queries=4).select(*cols).toPandas())
            assert max(_stage_tasks(spark, "dtwnn-wide-wide")) <= cores
            closure = dtwnn_search(queries, corpus, radius=3,
                                   n_queries=24).select(*cols).toPandas()
        finally:
            corpus.unpersist(), queries.unpersist()
        pd.testing.assert_frame_equal(
            bulk.sort_values("query_id").reset_index(drop=True),
            closure.sort_values("query_id").reset_index(drop=True))

    @pytest.mark.parametrize("width", [1, 4])
    @pytest.mark.parametrize("normalizer", [None, "znorm"])
    def test_block_product_matches_closure_and_brute_force_under_ties(
            self, spark, width, normalizer):
        """On the exact-tie data, over a 1- and a 4-partition cached
        corpus, the large-query path gives the (cost, conv_id, loc) of
        the closure path, and each cost equals the brute-force
        ``dtwnn`` minimum over every series."""
        rows, qrows = _exact_tie_rows()
        corpus = spark.createDataFrame(rows, SERIES_SCHEMA).repartition(
            width).cache()
        try:
            corpus.count()
            assert corpus.rdd.getNumPartitions() == width
            queries = spark.createDataFrame(
                qrows, "query_id string, q array<double>")
            cols = ["query_id", "cost", "conv_id", "loc"]

            def search(cap):
                return (dtwnn_search(queries, corpus, radius=3,
                                     normalizer=normalizer,
                                     max_closure_queries=cap)
                        .select(*cols).toPandas()
                        .sort_values("query_id").reset_index(drop=True))

            closure, blocked = search(512), search(0)
        finally:
            corpus.unpersist()
        pd.testing.assert_frame_equal(closure, blocked)
        want = [min(dtwnn(np.array(q), np.array(y), SqEuclidean(), 3,
                          normalizer).cost for _, y in rows)
                for _, q in qrows]
        assert blocked.cost.tolist() == want
        if normalizer is None:
            for qid in ("q0", "q1"):
                row = blocked[blocked.query_id == qid].iloc[0]
                assert (row["cost"], row["conv_id"]) == (0.0, "t00")

    @pytest.mark.parametrize("width", [1, 4])
    @pytest.mark.parametrize("cap", [512, 0], ids=["closure", "product"])
    def test_block_product_folds_every_arrow_batch_of_a_task(self, spark,
                                                             series, width,
                                                             cap):
        """With 2 records per Arrow batch, each task of either plan reads
        its series (and, on the large-query path, its query blocks) from
        many Arrow batches. Over a 1- and a 4-partition corpus each query
        must still get exactly one row, the one the closure path gives at
        the default batch size."""
        corpus = series.repartition(width).cache()
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        try:
            corpus.count()
            assert corpus.rdd.getNumPartitions() == width
            queries = _bulk_queries(spark, series.toPandas())
            cols = ["query_id", "cost", "conv_id", "loc"]
            closure = (dtwnn_search(queries, corpus, radius=3)
                       .select(*cols).toPandas()
                       .sort_values("query_id").reset_index(drop=True))
            spark.conf.set(key, "2")
            batched = (dtwnn_search(queries, corpus, radius=3,
                                    max_closure_queries=cap)
                       .select(*cols).toPandas())
        finally:
            spark.conf.set(key, old)
            corpus.unpersist()
        assert batched.query_id.is_unique and len(batched) == 24
        pd.testing.assert_frame_equal(
            batched.sort_values("query_id").reset_index(drop=True), closure)

    def test_one_partition_queries_and_corpus_run_a_task_per_core(
            self, spark, series):
        """A 1-partition query frame over a 1-partition corpus is a
        1-task product: query slices widen it to one task per core, so
        the search does not collapse onto one task."""
        narrow = series.coalesce(1).cache()
        try:
            narrow.count()
            queries = _bulk_queries(spark, narrow.toPandas()).coalesce(1)
            rows, _ = _jobs_of(spark, "dtwnn-bulk-1x1", lambda: dtwnn_search(
                queries, narrow, radius=3, max_closure_queries=0,
                n_queries=24).collect())
            assert len(rows) == 24
            cores = spark.sparkContext.defaultParallelism
            assert _stage_tasks(spark, "dtwnn-bulk-1x1") == [cores]
        finally:
            narrow.unpersist()

    def test_zero_partition_side_yields_no_rows(self, spark, series):
        """A side with no partitions at all (an empty RDD) is an empty
        search on every path, not a division by its partition count."""
        from dynamicaxiswarping_jl_spark.operators import distance_profile_op
        empty = spark.sparkContext.emptyRDD()
        no_series = spark.createDataFrame(empty, SERIES_SCHEMA)
        no_queries = spark.createDataFrame(
            empty, "query_id string, q array<double>")
        queries = _bulk_queries(spark, series.toPandas())
        for op in (dtwnn_search, distance_profile_op):
            assert op(queries, no_series, radius=3, n_queries=24).collect() == []
            assert op(queries, no_series, radius=3,
                      max_closure_queries=0).collect() == []
            assert op(no_queries, series, radius=3,
                      max_closure_queries=0).collect() == []

    def test_seed_memo_never_outlives_its_cached_corpus(self, spark,
                                                        tmp_path):
        """Corpus A holds every query exactly (best cost 0); corpus B,
        written over A's parquet under the same keys, does not. Any
        request state that outlived corpus A and was reused for B (a
        best-so-far, a sample, a memo keyed by cache internals) would
        prune every B window against 0 and lose the answers, so each
        search over B must equal the driver brute-force minimum: after
        unpersist, overwrite and re-cache here, and after a session
        restart in a subprocess (the restart cannot stop this suite's
        shared session)."""
        import os
        import subprocess
        import sys
        path = str(tmp_path / "corpus")
        _memo_search_checked(spark, path, _memo_corpus(1))
        _memo_search_checked(spark, path, _memo_corpus(2))
        here = os.path.dirname(os.path.abspath(__file__))
        script = (
            "import sys; sys.path.insert(0, %r)\n"
            "import test_spark_dtw as t\n"
            "from dynamicaxiswarping_jl_spark.plans import get_spark\n"
            "for seed in (1, 2):\n"
            "    s = get_spark('seed-memo-%%d' %% seed, cpus=2,\n"
            "                  extra_conf={'spark.driver.memory': '1g'})\n"
            "    t._memo_search_checked(s, %r, t._memo_corpus(seed))\n"
            "    s.stop()\n" % (here, str(tmp_path / "restart")))
        proc = subprocess.run([sys.executable, "-c", script],
                              cwd=os.path.dirname(here), capture_output=True,
                              text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-3000:]


def _exact_tie_rows():
    """Series and queries with certain exact cross-series ties: four
    copies of a zero-plateau series and eight integer walks; q0 and q1
    match all four copies at cost 0, q2 is a window of one walk."""
    base = [0.0] * 8 + [1.0, 3.0, 1.0] + [0.0] * 9
    rng = np.random.default_rng(7)
    rows = [("t%02d" % i, list(base)) for i in range(4)]  # 4 exact copies
    rows += [("u%02d" % i,
              [float(v) for v in
               np.round(np.cumsum(rng.integers(-1, 2, size=20)))]
              ) for i in range(8)]
    queries = [("q0", base[4:16]), ("q1", [0.0] * 9),
               ("q2", [float(v) for v in rows[6][1][2:14]])]
    return rows, queries


def _bulk_queries(spark, pdf):
    """24 windows of the corpus series in ``pdf`` as a query frame."""
    return spark.createDataFrame(
        [(f"q{i:02d}", [float(v) for v in
                        pdf.points[i % len(pdf)][i % 7:i % 7 + 12]])
         for i in range(24)], "query_id string, q array<double>")


def _stage_tasks(spark, group):
    """The task count of each stage the jobs of ``group`` ran."""
    tracker = spark.sparkContext.statusTracker()
    return [tracker.getStageInfo(s).numTasks
            for j in sorted(tracker.getJobIdsForGroup(group))
            for s in tracker.getJobInfo(j).stageIds]


def _jobs_of(spark, group, fn):
    """``fn()``'s result and the number of Spark jobs it ran, counted in
    a job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _memo_corpus(seed):
    rng = np.random.default_rng(seed)
    return [("c%d" % i, np.cumsum(rng.normal(size=30)).tolist())
            for i in range(6)]


def _memo_search_checked(spark, path, rows):
    """Write ``rows`` to ``path``, cache it, search the corpus-1 queries
    and compare each cost with the driver brute-force minimum."""
    queries = [("q%d" % i, p[4:14]) for i, (_, p) in
               enumerate(_memo_corpus(1)[:4])]
    spark.createDataFrame(rows, SERIES_SCHEMA).write.mode(
        "overwrite").parquet(path)
    corpus = spark.read.parquet(path).cache()
    qdf = spark.createDataFrame(queries, "query_id string, q array<double>")
    got = {r["query_id"]: r["cost"] for r in dtwnn_search(
        qdf, corpus, radius=3, n_queries=len(queries)).collect()}
    corpus.unpersist()
    want = {qid: min(dtwnn(np.array(q), np.array(p), SqEuclidean(), 3).cost
                     for _, p in rows) for qid, q in queries}
    assert got.keys() == want.keys()
    for qid, cost in want.items():
        assert got[qid] == pytest.approx(cost, rel=1e-9, abs=1e-12)


def _brute_pair_cost(a, b, dist, radius):
    """The pair rule of knn_topk by brute force: banded dtw_cost for
    equal lengths, else the minimum of dtw_cost over every window of the
    longer series, the shorter being the query."""
    if len(a) == len(b):
        return dtw_cost(a, b, dist, radius)
    s, l = sorted((a, b), key=len)
    return min(dtw_cost(s, l[t:t + len(s)], dist, radius)
               for t in range(len(l) - len(s) + 1))


def _pair_cost(a, b, radius):
    """The knn_series golden's pair rule (scripts/make_goldens.py):
    banded DTW for equal lengths, else the subsequence NN cost of the
    shorter series inside the longer."""
    if len(a) == len(b):
        return float(dtw_cost_batch(a, b[None, :], radius)[0])
    s, l = sorted((a, b), key=len)
    return float(dtwnn(s, l, "sqeuclidean", radius,
                       prune_endpoints=False).cost)


def _knn_brute(series, k, radius, key="conv_id"):
    """All-pairs k-NN on the driver, ranked by (cost, id_b)."""
    pts = {r[key]: np.asarray(r["points"], dtype=np.float64)
           for r in series.collect()}
    recs = []
    for a, ya in pts.items():
        top = sorted((_pair_cost(ya, yb, radius), b)
                     for b, yb in pts.items() if b != a)[:k]
        recs += [(a, b, c, rk) for rk, (c, b) in enumerate(top, 1)]
    return pd.DataFrame(recs, columns=["id_a", "id_b", "cost", "rk"])


def _assert_same_knn(got, want):
    """Equal (id_a, id_b, rk) rows, and costs to 1e-12, in any order."""
    cols = ["id_a", "rk"]
    got = got.sort_values(cols).reset_index(drop=True)
    want = want.sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[["id_a", "id_b", "rk"]],
                                  want[["id_a", "id_b", "rk"]],
                                  check_dtype=False)
    np.testing.assert_allclose(got["cost"], want["cost"], rtol=1e-12)


class TestKnn:
    def test_matches_dense_topk(self, spark, series):
        pdf = series.toPandas()
        got = knn_topk(series, k=3, radius=5).toPandas()
        pts = {r.conv_id: np.array(r.points) for r in pdf.itertuples(index=False)}
        ids = sorted(pts)
        for cid in ids:
            want = sorted(
                (dtw_cost(pts[cid], pts[o], SqEuclidean(), 5), o)
                for o in ids if o != cid)[:3]
            sub = got[got.id_a == cid].sort_values("rk")
            np.testing.assert_allclose(sub["cost"], [w[0] for w in want],
                                       rtol=1e-9)

    def test_k_at_least_n_minus_one_returns_every_neighbour(self, spark,
                                                            series):
        """k >= N-1: every other series is a neighbour, ranked 1..N-1 by
        (cost, id_b), with brute-force costs."""
        n = series.count()
        got = knn_topk(series, k=n + 2, radius=5).toPandas()
        want = _knn_brute(series, n + 2, 5)
        assert len(got) == n * (n - 1)
        cols = ["id_a", "id_b", "rk"]
        pd.testing.assert_frame_equal(
            got.sort_values(cols)[cols].reset_index(drop=True),
            want.sort_values(cols)[cols].reset_index(drop=True),
            check_dtype=False)
        np.testing.assert_allclose(got.sort_values(cols)["cost"],
                                   want.sort_values(cols)["cost"], rtol=1e-12)

    def test_cityblock_mixed_lengths_equals_driver_brute_force(self,
                                                               spark):
        """dist="cityblock" on a mixed-length corpus: (id_b, cost, rk)
        per id_a equal a driver brute force, cross-length pairs scored
        as the best window of the shorter series inside the longer."""
        rng = np.random.default_rng(5)
        rows = [(f"m{i:02d}", np.cumsum(rng.normal(size=int(n))).tolist())
                for i, n in enumerate(rng.integers(6, 26, size=16))]
        corpus = spark.createDataFrame(rows, SERIES_SCHEMA)
        got = (knn_topk(corpus, k=3, radius=3, dist="cityblock").toPandas()
               .sort_values(["id_a", "rk"]).reset_index(drop=True))
        pts = {cid: np.array(p) for cid, p in rows}
        want = []
        for a in sorted(pts):
            top = sorted((_brute_pair_cost(pts[a], pts[b], "cityblock", 3), b)
                         for b in pts if b != a)[:3]
            want += [(a, b, c, rk) for rk, (c, b) in enumerate(top, 1)]
        assert list(zip(got.id_a, got.id_b, got.rk)) == [
            (a, b, rk) for a, b, _, rk in want]
        np.testing.assert_allclose(got.cost, [w[2] for w in want],
                                   rtol=1e-12)

    @pytest.mark.parametrize("mixed", [False, True],
                             ids=["equal_length", "mixed_length"])
    def test_knn_topk_runs_one_job(self, spark, mixed):
        """One call plus collect over a cached 40-series corpus is one
        narrow stage of one task per core: the packed corpus and ids
        cross in a CartesianProduct over the cache, with no Exchange,
        cogroup, pre-scan, checkpoint or fold."""
        rng = np.random.default_rng(3)
        rows = [(f"s{i:02d}", np.cumsum(rng.normal(
            size=16 + i % 7 if mixed else 24)).tolist()) for i in range(40)]
        corpus = spark.createDataFrame(rows, SERIES_SCHEMA).cache()
        try:
            corpus.count()
            plan = knn_topk(corpus, k=3, radius=4)._jdf.queryExecution(
            ).executedPlan().toString()
            for node in ("CartesianProduct", "InMemoryTableScan"):
                assert node in plan
            for node in ("Exchange", "FlatMapCoGroupsInPandas"):
                assert node not in plan

            def request():
                return knn_topk(corpus, k=3, radius=4).collect()

            request()  # warm
            group = f"knn-jobs-{mixed}"
            got, jobs = _jobs_of(spark, group, request)
            assert len(got) == 40 * 3
            assert jobs == 1
            assert _stage_tasks(spark, group) == [
                spark.sparkContext.defaultParallelism]
        finally:
            corpus.unpersist()

    def test_corpus_of_several_arrow_batches(self, spark, series):
        """A corpus spanning several Arrow batches gives each task several
        corpus blocks, each recurring once per id block: every id still
        gets exactly k rows, equal to brute force."""
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        spark.conf.set(key, "2")
        try:
            got = knn_topk(series, k=3, radius=5).toPandas()
        finally:
            spark.conf.set(key, old)
        assert got.groupby("id_a").size().eq(3).all()
        _assert_same_knn(got, _knn_brute(series, 3, 5))

    def test_wide_cached_corpus_runs_a_task_per_core(self, spark, series):
        """An 8-partition cached corpus: the ids are coalesced to one
        task per core, and the rows are those of brute force."""
        cores = spark.sparkContext.defaultParallelism
        wide = series.repartition(8).cache()
        try:
            wide.count()
            got, _ = _jobs_of(spark, "knn-wide",
                              lambda: knn_topk(wide, k=3, radius=5).toPandas())
            assert max(_stage_tasks(spark, "knn-wide")) <= cores
        finally:
            wide.unpersist()
        _assert_same_knn(got, _knn_brute(series, 3, 5))

    def test_multichannel_corpus_equals_driver_knn_kbest(self, spark):
        """A multichannel corpus (array<array<double>>, channels × time)
        rides the packed blocks as nested arrays: the rows equal
        ``knn_kbest`` run on the driver."""
        from dynamicaxiswarping_jl_spark.kernels import knn_kbest
        rng = np.random.default_rng(11)
        rows = [(f"c{i:02d}", np.cumsum(rng.normal(size=(2, int(n))),
                                        axis=1).tolist())
                for i, n in enumerate(rng.integers(12, 20, size=12))]
        corpus = spark.createDataFrame(
            rows, "conv_id string, points array<array<double>>")
        got = knn_topk(corpus, k=3, radius=3).toPandas()
        pts = [(cid, np.array(p)) for cid, p in rows]
        want, _, _ = knn_kbest(pts, pts, 3, 3, "sqeuclidean")
        want = pd.DataFrame(want, columns=["id_a", "id_b", "cost"])
        want["rk"] = want.groupby("id_a").cumcount() + 1
        assert len(got) == 12 * 3
        _assert_same_knn(got, want)


class TestDriftScores:
    def test_pipeline_drift(self, spark):
        turns = transcripts_df(spark, 5, seed=3, mean_turns=60, slices=2)
        t1m = gapfill(rollup_turns(turns, "1m"), 60, policy="zero")
        t1h = gapfill(cascade(t1m, "1h"), 3600, policy="zero")
        fine = assemble_series(t1m, "turn_rate", step_s=60)
        coarse = assemble_series(t1h, "turn_rate", step_s=3600)
        d = drift_scores(fine, coarse, radius=3).toPandas()
        assert len(d) == 5
        assert (d["cost"] >= 0).all()
        assert set(d.columns) >= {"cost", "n_fine", "n_coarse", "pruned_lb"}


class TestDBASpark:
    def test_golden_through_spark(self, spark):
        # the runtests.jl:473-481 golden value via applyInPandas:
        # members sorted by conv_id → init_center must be the first (= z)
        rows = [("a_z", [1.0, 2.0, 2.0, 4.0], "g"),   # sorts first → init = z
                ("b_x", [1.0, 2.0, 2.0, 3.0, 3.0, 4.0], "g"),
                ("c_y", [1.0, 3.0, 4.0], "g")]
        df = spark.createDataFrame(rows, "conv_id string, points array<double>, group_id string")
        got = dba_per_group(df, "group_id").first()
        np.testing.assert_allclose(got["center"], [1.0, 1.75, 2.75, 4.0])
        assert got["converged"]
        assert got["n_members"] == 3

    @staticmethod
    def _walks(spark):
        rng = np.random.default_rng(7)
        rows = [("s%02d" % i, np.cumsum(rng.normal(size=24)).tolist(),
                 str(i % 3)) for i in range(18)]
        return rows, spark.createDataFrame(
            rows, "conv_id string, points array<double>, group_id string")

    def test_per_group_matches_kernel_per_group(self, spark):
        """Each group's representative is the kernel's DBA over that
        group's members, started from the member with the smallest key."""
        rows, df = self._walks(spark)
        got = {r["group_id"]: r
               for r in dba_per_group(df, "group_id").collect()}
        assert sorted(got) == ["0", "1", "2"]
        for g, r in got.items():
            seqs = [np.asarray(p) for _, p, gg in sorted(rows) if gg == g]
            avg, res = dba(seqs, "sqeuclidean", init_center=seqs[0],
                           iterations=100, rtol=1e-5)
            np.testing.assert_allclose(r["center"], avg, rtol=1e-12)
            assert r["cost"] == pytest.approx(res.cost, rel=1e-12)
            assert r["iterations"] == res.iterations
            assert r["converged"] == res.converged
            assert r["n_members"] == len(seqs) == 6

    def test_dbaclust_distributed_leaves_only_its_result_cached(self,
                                                                spark):
        """Each iteration caches a new assignment; the superseded one is
        unpersisted, so after a 4-iteration call the only new persistent
        RDD is the returned frame's."""
        from dynamicaxiswarping_jl_spark.operators import dbaclust_distributed
        rng = np.random.default_rng(11)
        t = np.linspace(0, 3, 16)
        rows = [(f"c{i:02d}", (np.sin(t * (1 + i % 3))
                               + 0.2 * rng.normal(size=16)).tolist())
                for i in range(30)]
        df = spark.createDataFrame(rows, SERIES_SCHEMA)
        jsc = spark.sparkContext._jsc.sc()
        before = jsc.getPersistentRDDs().size()
        # rtol < 0: never converged, so all 4 iterations run
        assign, _, _, n_iter, _ = dbaclust_distributed(
            spark, df, 3, iterations=4, rtol=-1.0)
        try:
            assert n_iter == 4
            assert jsc.getPersistentRDDs().size() == before + 1
            assert assign.count() == 30
        finally:
            assign.unpersist()

    def test_plan_pins_one_task_per_group(self, spark):
        """The groups are hash-partitioned on ``group_col`` at
        ``defaultParallelism`` partitions, and AQE does not coalesce that
        byte-tiny shuffle back onto one task."""
        import re
        _, df = self._walks(spark)
        reps = dba_per_group(df, "group_id")
        plan = reps._jdf.queryExecution().executedPlan().toString()
        parts = re.findall(r"hashpartitioning\(group_id#\d+, (\d+)\)", plan)
        assert parts == [str(spark.sparkContext.defaultParallelism)], plan
        assert "REPARTITION_BY_NUM" in plan
        reps.collect()
        final = reps._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "coalesced" not in final, final


class TestMultichannelPairs:
    def test_multichannel_dtw_pairs_matches_local(self, spark):
        """ARRAY<ARRAY<DOUBLE>> series (channels × time, time last —
        reference README.md:11, multichannel regression runtests.jl:60-74)
        flow through dtw_pairs with exact cost + path parity."""
        import numpy as np
        from dynamicaxiswarping_jl_spark.operators import dtw_pairs
        from dynamicaxiswarping_jl_spark.kernels import dtw
        rng = np.random.default_rng(1)
        A = rng.normal(size=(3, 20))
        B = rng.normal(size=(3, 24))
        pairs = spark.createDataFrame(
            [("a", [[float(x) for x in ch] for ch in A],
              "b", [[float(x) for x in ch] for ch in B])],
            "id_a string, a array<array<double>>, "
            "id_b string, b array<array<double>>")
        got = dtw_pairs(pairs, keep_paths=True).collect()[0]
        want, i1, i2 = dtw(A, B)
        assert got.cost == pytest.approx(want, rel=1e-12)
        assert got.i1 == i1.tolist() and got.i2 == i2.tolist()


class TestKnnLbPrefilter:
    def test_prefilter_matches_bruteforce(self, spark):
        """The bound-pruned k-NN returns the same per-key cost profile
        as all-pairs brute force (result-identical guarantee)."""
        import numpy as np
        from dynamicaxiswarping_jl_spark.operators import knn_topk
        rng = np.random.default_rng(5)
        rows = []
        for i in range(24):
            n = 40 if i % 5 else 30  # mix of lengths: LB path + exact path
            base = np.sin(np.linspace(0, 3, n)) * (1 + i % 7)
            rows.append((f"s{i:02d}",
                         [float(v) for v in base + 0.1 * rng.normal(size=n)]))
        series = spark.createDataFrame(rows, "conv_id string, points array<double>")
        brute = _knn_brute(series, 3, 5)
        fast = knn_topk(series, k=3, radius=5).toPandas()
        for key in sorted(brute.id_a.unique()):
            bc = sorted(round(c, 9) for c in brute[brute.id_a == key].cost)
            fc = sorted(round(c, 9) for c in fast[fast.id_a == key].cost)
            assert bc == fc, key

    def test_grid_path_degenerate_lengths(self, spark):
        """Length-1 series: their endpoint bound is a single term
        (first==last would double-count, ADVICE r01), and the top-k
        stays exact."""
        import numpy as np
        from dynamicaxiswarping_jl_spark.operators import knn_topk
        rng = np.random.default_rng(11)
        rows = [("one0", [2.0]), ("one1", [2.05])]  # near pair of singletons
        for i in range(14):
            v = np.sin(np.linspace(0, 2, 20)) * (1 + i % 4) \
                + 0.1 * rng.normal(size=20)
            rows.append((f"s{i:02d}", [float(x) for x in v]))
        series = spark.createDataFrame(
            rows, "conv_id string, points array<double>")
        brute = _knn_brute(series, 2, 3)
        fast = knn_topk(series, k=2, radius=3).toPandas()
        for key in sorted(brute.id_a.unique()):
            bc = sorted(round(c, 9) for c in brute[brute.id_a == key].cost)
            fc = sorted(round(c, 9) for c in fast[fast.id_a == key].cost)
            assert bc == fc, key

    def test_grid_path_randomized_exactness(self, spark):
        """Randomized adversarial corpora: duplicate series (exact-zero
        ties), clustered + outlier values and mixed lengths — the
        neighbor multiset must equal brute force in every
        configuration."""
        import numpy as np
        from dynamicaxiswarping_jl_spark.operators import knn_topk
        rng = np.random.default_rng(99)
        for trial, (n, k) in enumerate([(18, 2), (25, 4), (40, 3)]):
            rows = []
            for i in range(n):
                L = rng.choice([16, 16, 16, 24]) if trial == 2 else 16
                if i % 7 == 0 and i > 0:
                    rows.append((f"t{trial}s{i:02d}", rows[-1][1]))  # dup
                    continue
                base = rng.choice([0.0, 0.0, 50.0])  # clustered + outliers
                v = base + np.round(rng.normal(size=L), 1)
                rows.append((f"t{trial}s{i:02d}", [float(x) for x in v]))
            series = spark.createDataFrame(
                rows, "conv_id string, points array<double>")
            brute = _knn_brute(series, k, 4)
            fast = knn_topk(series, k=k, radius=4).toPandas()
            for key in sorted(brute.id_a.unique()):
                bc = sorted(round(c, 9) for c in brute[brute.id_a == key].cost)
                fc = sorted(round(c, 9) for c in fast[fast.id_a == key].cost)
                assert bc == fc, (trial, key)

    def test_residue_minmax_bound_prunes_peaky_pairs_exactly(self, spark):
        """Short series with a mid-series excursion far OUTSIDE the
        longer series' value range but calm endpoints (the case an
        endpoint bound is blind to): the pruned plan must still equal
        brute force."""
        import numpy as np
        from dynamicaxiswarping_jl_spark.operators import knn_topk
        rng = np.random.default_rng(77)
        rows = []
        # 12 calm long series in [-1, 1], length 30
        for i in range(12):
            v = np.sin(np.linspace(0, 3, 30)) + 0.05 * rng.normal(size=30)
            rows.append((f"calm{i:02d}", [float(x) for x in v]))
        # 8 short series: calm endpoints in range, huge mid-series peak
        # far outside every long series' [min, max]
        for i in range(8):
            v = 0.05 * rng.normal(size=20)
            v[10] = 100.0 + i  # the excursion
            rows.append((f"peak{i:02d}", [float(x) for x in v]))
        series = spark.createDataFrame(
            rows, "conv_id string, points array<double>")
        fast = knn_topk(series, k=3, radius=4).toPandas()
        brute = _knn_brute(series, 3, 4)
        for key in sorted(brute.id_a.unique()):
            bc = sorted(round(c, 9) for c in brute[brute.id_a == key].cost)
            fc = sorted(round(c, 9) for c in fast[fast.id_a == key].cost)
            assert bc == fc, key

    def test_residue_sketch_bounds_prune_range_nested_pairs_exactly(
            self, spark):
        """Narrow-range short series NESTED inside wide-swing long
        series' value ranges: every value-range bound passes these cross
        pairs, yet their true subsequence cost is huge (a wide-swing
        window can't flatten itself). The plan must equal brute force."""
        import numpy as np
        from dynamicaxiswarping_jl_spark.operators import knn_topk
        rng = np.random.default_rng(55)
        rows = []
        # 10 wide-swing long series: amp-5 sine, range ~[-5, 5], len 40
        for i in range(10):
            v = 5.0 * np.sin(np.linspace(0, 4 * np.pi, 40)) \
                + 0.05 * rng.normal(size=40)
            rows.append((f"wide{i:02d}", [float(x) for x in v]))
        # 8 narrow short series: range ~[-0.3, 0.3] — strictly nested
        for i in range(8):
            v = 0.1 * rng.normal(size=24)
            rows.append((f"narr{i:02d}", [float(x) for x in v]))
        series = spark.createDataFrame(
            rows, "conv_id string, points array<double>")
        fast = knn_topk(series, k=3, radius=4).toPandas()
        brute = _knn_brute(series, 3, 4)
        for key in sorted(brute.id_a.unique()):
            bc = sorted(round(c, 9) for c in brute[brute.id_a == key].cost)
            fc = sorted(round(c, 9) for c in fast[fast.id_a == key].cost)
            assert bc == fc, key

    def test_residue_all_cross_length_matches_bruteforce(self, spark):
        """Every pair cross-length (all-distinct lengths): the seeded
        cross-length verification must equal brute force, including
        exact ties with the k-th best — two long series both containing
        the query series verbatim (cost 0 twice) must both survive the
        nextafter(k-th best) seed."""
        import numpy as np
        from dynamicaxiswarping_jl_spark.operators import knn_topk
        rng = np.random.default_rng(23)
        probe = np.sin(np.linspace(0, 4, 12))
        rows = [("probe", [float(v) for v in probe])]
        # two containers of different lengths, each embedding probe exactly
        for j, pad in enumerate((5, 9)):
            v = np.concatenate([rng.normal(size=pad) + 10, probe,
                                rng.normal(size=pad + j) + 10])
            rows.append((f"cont{j}", [float(x) for x in v]))
        for i in range(15):
            L = 14 + i * 2  # all lengths distinct
            v = np.cumsum(rng.normal(size=L))
            rows.append((f"s{i:02d}", [float(x) for x in v]))
        rows.append(("one", [3.5]))  # singleton in the mix
        series = spark.createDataFrame(
            rows, "conv_id string, points array<double>")
        brute = _knn_brute(series, 2, 4)
        fast = knn_topk(series, k=2, radius=4).toPandas()
        for key in sorted(brute.id_a.unique()):
            bc = sorted(round(c, 9) for c in brute[brute.id_a == key].cost)
            fc = sorted(round(c, 9) for c in fast[fast.id_a == key].cost)
            assert bc == fc, key
        # the exact-tie pair: probe's two 0-cost containers both present
        pk = fast[fast.id_a == "probe"]
        assert set(pk.id_b) == {"cont0", "cont1"}
        np.testing.assert_allclose(pk.cost, [0.0, 0.0], atol=1e-12)

    def test_tau_less_isolated_id_full_grid_scan(self, spark):
        """An isolated id far from a tight cluster, every bound to it
        large, still gets its exact k neighbours."""
        import numpy as np
        from dynamicaxiswarping_jl_spark.operators import knn_topk
        rng = np.random.default_rng(5)
        rows = []
        # 99 series clustered at HIGH values, one isolated id at LOW values
        for i in range(99):
            v = 100.0 + np.cumsum(rng.normal(size=16)) * 0.1
            rows.append((f"c{i:02d}", [float(x) for x in v]))
        rows.append(("iso", [float(x) for x in np.linspace(0, 1, 16)]))
        series = spark.createDataFrame(
            rows, "conv_id string, points array<double>")
        brute = _knn_brute(series, 4, 5)
        fast = knn_topk(series, k=4, radius=5).toPandas()
        bi = brute[brute.id_a == "iso"]
        fi = fast[fast.id_a == "iso"]
        assert len(fi) == len(bi) == 4, (len(fi), len(bi))
        assert sorted(round(c, 9) for c in fi.cost) \
            == sorted(round(c, 9) for c in bi.cost)
        for key in sorted(brute.id_a.unique()):
            bc = sorted(round(c, 9) for c in brute[brute.id_a == key].cost)
            fc = sorted(round(c, 9) for c in fast[fast.id_a == key].cost)
            assert bc == fc, key

    def test_grid_path_clustered_sine_families(self, spark):
        """Cluster-structured corpus (many near-identical shapes per
        family): k-NN ≡ brute force."""
        import numpy as np
        from dynamicaxiswarping_jl_spark.operators import knn_topk
        rng = np.random.default_rng(13)
        rows = []
        t = np.arange(24)
        for fam in range(5):
            base, amp, freq = fam * 2.0, 1 + fam * 0.5, 0.2 + fam * 0.07
            for i in range(8):
                v = (base + amp * np.sin(t * freq)
                     + rng.normal(scale=0.05, size=24))
                rows.append((f"f{fam}s{i}", [float(x) for x in v]))
        series = spark.createDataFrame(
            rows, "conv_id string, points array<double>")
        brute = _knn_brute(series, 3, 5)
        fast = knn_topk(series, k=3, radius=5).toPandas()
        for key in sorted(brute.id_a.unique()):
            bc = sorted(round(c, 9) for c in brute[brute.id_a == key].cost)
            fc = sorted(round(c, 9) for c in fast[fast.id_a == key].cost)
            assert bc == fc, key

class TestMatrixProfile:
    def test_matches_kernel_oracle_including_ties(self, spark):
        """Values, 1-based locs and exact cost-0 tie winners (a motif
        repeated three times) equal a per-series ``kernels.matrix_profile``
        run on the driver; a series shorter than ``m + radius + 1`` yields
        no rows."""
        from dynamicaxiswarping_jl_spark.kernels import matrix_profile
        from dynamicaxiswarping_jl_spark.operators import matrix_profile_op
        m, r = 12, 3
        rng = np.random.default_rng(17)
        motif = np.sin(np.linspace(0, 2 * np.pi, 16))
        y = np.concatenate([motif, rng.normal(size=23), motif,
                            rng.normal(size=31), motif,
                            np.repeat(rng.normal(size=9), 3)])
        ys = {"long0": y, "long1": np.cumsum(rng.normal(size=97)),
              "short": rng.normal(size=m + r)}
        series = spark.createDataFrame(
            [(k, v.tolist()) for k, v in ys.items()], SERIES_SCHEMA)
        got = (matrix_profile_op(series, m=m, radius=r).toPandas()
               .sort_values(["conv_id", "loc"]).reset_index(drop=True))
        assert sorted(set(got.conv_id)) == ["long0", "long1"]
        for k in ("long0", "long1"):
            P, I = matrix_profile(ys[k], m, r, "sqeuclidean")
            mine = got[got.conv_id == k]
            np.testing.assert_array_equal(mine["loc"], np.arange(1, len(P) + 1))
            np.testing.assert_array_equal(mine["nn_dist"], P)
            np.testing.assert_array_equal(mine["nn_loc"], I)
        # the first motif window ties at cost 0 with both later copies;
        # the lowest loc wins
        first = got[(got.conv_id == "long0") & (got["loc"] == 1)].iloc[0]
        assert first.nn_dist == 0.0 and first.nn_loc == 16 + 23 + 1

    def test_one_pass_runs_at_most_two_jobs(self, spark, series):
        """One call plus collect over a cached short-series corpus runs
        the one mapInPandas pass: no checkpoint or length pre-scan job."""
        from dynamicaxiswarping_jl_spark.operators import matrix_profile_op
        series.count()

        def request():
            return matrix_profile_op(series, m=8, radius=3).collect()

        request()  # warm
        rows, jobs = _jobs_of(spark, "matrix-profile-jobs", request)
        assert len(rows) == 10 * (40 - 8 + 1)
        assert jobs <= 2


class TestDistanceProfilePaths:
    def test_blocked_matches_closure(self, spark, series):
        """VERDICT r04 #2: past max_closure_queries the distance-profile
        query set must never ride the driver. Force the large-query
        path and assert every (query, series, loc, dist) row identical
        to the closure plan — including queries longer than some series
        (dropped on both paths)."""
        from dynamicaxiswarping_jl_spark.operators import distance_profile_op
        pdf = series.toPandas()
        rng = np.random.default_rng(5)
        qrows = []
        for i in range(9):
            src = pdf.points[int(rng.integers(0, len(pdf)))]
            a = int(rng.integers(0, 25))
            m = int(rng.integers(5, 14))
            q = [float(v) + (0.1 if i % 3 == 0 else 0.0)
                 for v in src[a:a + m]]
            qrows.append((f"q{i}", q))
        qrows.append(("qlong", [0.0] * 60))  # longer than every series
        queries = spark.createDataFrame(qrows,
                                        "query_id string, q array<double>")
        cols = ["query_id", "conv_id", "loc", "dist"]
        closure = (distance_profile_op(queries, series, radius=3)
                   .select(*cols).toPandas().sort_values(cols[:3])
                   .reset_index(drop=True))
        blocked = (distance_profile_op(queries, series, radius=3,
                                       max_closure_queries=0)
                   .select(*cols).toPandas().sort_values(cols[:3])
                   .reset_index(drop=True))
        pd.testing.assert_frame_equal(closure, blocked)

    def test_n_queries_hint_routes_without_probe(self, spark, series):
        from dynamicaxiswarping_jl_spark.operators import distance_profile_op
        pdf = series.toPandas()
        q = [float(v) for v in pdf.points[0][:8]]
        queries = spark.createDataFrame([("q0", q)],
                                        "query_id string, q array<double>")
        cols = ["query_id", "conv_id", "loc", "dist"]
        via_closure = (distance_profile_op(queries, series, radius=3,
                                           n_queries=1)
                       .select(*cols).toPandas().sort_values(cols[:3])
                       .reset_index(drop=True))
        via_blocked = (distance_profile_op(queries, series, radius=3,
                                           n_queries=10_000)
                       .select(*cols).toPandas().sort_values(cols[:3])
                       .reset_index(drop=True))
        pd.testing.assert_frame_equal(via_closure, via_blocked)
