"""Fan-out of CPU-heavy Python-UDF stages, and the two zero-job probes.

``spread`` is the engine's rule for widening a byte-tiny, CPU-heavy
frame before a pandas UDF (AQE would otherwise coalesce it onto one
task). The corpus searches have two plans, each with one reader for its
``mapInArrow`` tasks. ``fan_out`` is the plan of the closure query
paths: it reaches the task target on the query axis when the frame is
too narrow to reach it on the series axis without a shuffle, and
``sliced_rows`` reads a task's rows and its query slice. ``block_product``
is the plan of the large-query paths and ``knn_topk``: every (series,
query) pair in one narrow stage of about one task per core, the corpus
as one partition, both sides packed one row per Arrow batch, and
``product_sides`` reads a task's two sides back, each block once. The
two plans share one width rule, ``_fit``.
``exchange_free_partitions`` answers "how many partitions does this
plan have?" without running a job, or says it cannot; every
operator that sizes a fan-out asks it instead of re-deriving Spark's
file-split math. ``known_max_rows`` answers "at most how many rows?"
the same way, for the operators that pick a plan by input size.
"""

from __future__ import annotations

from typing import Iterator, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["spread", "fan_out", "sliced_rows", "block_product",
           "product_sides", "exchange_free_partitions", "known_max_rows"]


def spread(df: DataFrame, target: Optional[int] = None) -> DataFrame:
    """Repartition before a CPU-heavy pandas UDF.

    AQE coalesces shuffle outputs by *bytes*; assembled-series frames are
    tiny in bytes but expensive per row in the DTW kernels, so without this
    the kernel stage can collapse onto one task. Explicit fan-out restores
    CPU parallelism (round-robin keeps it deterministic enough — kernel
    outputs are per-row, order-independent).

    Twice the parallelism in tasks when no ``target`` is given: a
    skew-tolerant width for stages whose per-row cost varies (pair DPs
    of very different lengths). The closure query paths of dtwnn_search and
    distance_profile_op do not call this directly: they go through
    ``fan_out``, which keeps this repartition only for inputs whose plan
    has an Exchange, and otherwise reaches its target without a shuffle
    (a narrow exchange-free input by query slices).

    UNCACHED inputs always get an explicit-count round-robin
    ``repartition`` — never a plan probe, never ``coalesce``. An earlier
    version read ``df.rdd.getNumPartitions()`` to skip the shuffle when
    the input was already wide enough, but under AQE that RDD conversion
    MATERIALIZES the upstream query stages (AQE must run them to finalize
    the plan), so every call site silently executed its upstream lineage
    twice — far costlier than the one narrow shuffle of these
    tiny-in-bytes frames. The explicit count also makes the fan-out
    AQE-proof: AQE neither folds nor coalesces a user-specified
    repartition (PLANS.md "AQE traps").

    EXCHANGE-FREE inputs are the exception where the probe is both safe
    and worth it: when the physical plan (``executedPlan`` unwrapped to
    the AQE ``initialPlan`` — a plan-compilation-only inspection, AQE
    rewrites start at execution)
    contains no ``Exchange``, the ``.rdd`` conversion has no query stages
    for AQE to materialize, so the partition-count probe costs one plan
    compile and zero jobs, and there is no AQE shuffle for it to
    re-coalesce either. This is exactly the narrow projection over a
    cached frame (``InMemoryTableScan``) or a plain file scan that the
    search/profile operators feed in. An already-wide input then reaches
    ``target`` with a narrow ``coalesce`` — cache read, merge, and pandas
    UDF fuse into one stage instead of paying a shuffle + stage boundary
    per call (measured ~0.4 s/call on the warm sf0.1 NN search, ~35% of
    its wall). Coalesce's no-rebalance skew is bounded here: it merges
    whole partitions of a layout that was itself produced by a balanced
    hash/round-robin plan (a cache) or by the file splitter.

    An explicit ``target`` pins the task decomposition independently of
    ``defaultParallelism``. The bsf threading above makes per-task work
    depend on task SIZE, so comparing runs at two core counts is only
    apples-to-apples when both use the same task count — on a real
    cluster that is the normal situation (shuffle partitioning is job
    config; scaling N -> 4N executors does not re-plan the job).
    """
    if target is None:
        target = df.sparkSession.sparkContext.defaultParallelism * 2
    p = exchange_free_partitions(df)
    if p is not None and p >= target:
        return df.coalesce(target)
    return df.repartition(target)


def fan_out(df: DataFrame, n_items: int,
            target: int) -> tuple[DataFrame, int]:
    """Widen ``df`` to about ``target`` tasks for a Python UDF that
    carries ``n_items`` work items in its closure (the closure query
    paths' queries), with no shuffle when ``df``'s plan is exchange-free.

    Returns ``(frame, k)``: ``frame`` is ``df`` plus an int column
    ``_slice`` in ``[0, k)``, and rows of slice ``s`` are to be run
    against items ``s::k`` only. Every row appears once per slice, so
    each (row, item) pair is run exactly once, and each task holds one
    slice (``sliced_rows`` reads it). With ``p`` the count from
    ``exchange_free_partitions``:

    - ``p > target``: a narrow ``coalesce(target)``, ``k = 1``.
    - ``p <= target``: ``df`` is read in place and crossed with ``k =
      min(n_items, target // p)`` one-row range partitions, so ``p × k``
      tasks each scan one partition of ``df`` for one slice of the items.
      With ``k = 1`` there is no join. The ``shuffle_replicate_nl`` hint
      plans a narrow ``CartesianProduct``; without it the planner
      broadcasts the range, and the broadcast costs a job of its own.
      The trade-off: a single item over a narrow input runs ``p`` tasks,
      not ``target`` (cache a corpus at task width to keep series width).
    - a plan with an Exchange (``p`` is None): ``spread``'s repartition
      to ``target``, ``k = 1``.
    """
    df, p = _fit(df, target)
    return _sliced(df, min(n_items, target // max(1, p)))


def sliced_rows(batches: Iterator) -> tuple[dict, int]:
    """A ``fan_out`` task's input, for its ``mapInArrow`` function:
    ``(rows, slice)``, ``rows`` every row of the task in order as a dict
    of column name -> object array of values (``_slice`` left out), and
    ``slice`` the task's one slice."""
    import pyarrow as pa

    batches = [b for b in batches if b.num_rows]
    if not batches:
        return {}, 0
    t = pa.Table.from_batches(batches)
    return ({c: t.column(c).to_numpy() for c in t.column_names
             if c != "_slice"}, t.column("_slice")[0].as_py())


def _fit(df: DataFrame, width: int) -> tuple[DataFrame, int]:
    """``df`` at most ``width`` partitions wide, and its partition count:
    read in place when its plan is exchange-free and no wider, a narrow
    ``coalesce(width)`` when it is wider, and a ``repartition(width)``
    when its plan has an Exchange (``spread``'s rule: AQE would coalesce
    its byte-tiny shuffle onto one task)."""
    p = exchange_free_partitions(df)
    if p is None:
        return df.repartition(width), width
    if p > width:
        return df.coalesce(width), width
    return df, p


def _sliced(df: DataFrame, k: int) -> tuple[DataFrame, int]:
    """``df`` crossed with ``k`` one-row range partitions as ``_slice``
    (``fan_out``'s query slices), or tagged slice 0 when ``k <= 1``."""
    if k <= 1:
        return df.withColumn("_slice", F.lit(0)), 1
    slices = (df.sparkSession.range(0, k, 1, k)
              .select(F.col("id").cast("int").alias("_slice")))
    return df.crossJoin(slices.hint("shuffle_replicate_nl")), k


def block_product(left: DataFrame, right: DataFrame,
                  target: int) -> tuple[DataFrame, int]:
    """Every (left row, right row) pair exactly once, in one narrow stage
    of about ``target`` tasks where the inputs allow it: the plan of the
    corpus searches (left the series corpus, right the queries or ids).
    The left side is one partition, so each right row meets every left
    row in one task, in the left side's order.

    Returns ``(frame, k)``. ``frame`` has one row per (left block, right
    block) pair of a task: ``_left`` and ``_right`` are
    ``array<struct<…>>`` of one Arrow batch of each side's rows,
    ``_left_no`` and ``_right_no`` number those batches, and ``_slice``
    in ``[0, k)`` is the task's one slice. ``product_sides`` reads a task
    back as its two sides; the task runs the rows ``s::k`` of its right
    side only.

    - Each side goes through ``_fit``: the left side at width 1, the
      right side at ``target``, keeping its own ``q`` partitions when its
      plan is exchange-free and no wider.
    - Each side is packed one row per Arrow batch (``mapInArrow``), and
      the packs are crossed by a ``shuffle_replicate_nl``
      ``CartesianProduct``: ``q`` tasks, each computing its two packs in
      place. So the payload is about ``q`` copies of the left side, not
      one per pair. Query slices (``fan_out``'s) widen the product to
      ``k = target // q`` only when it has fewer than ``target`` tasks.
    """
    left, _ = _fit(left, 1)
    right, q = _fit(right, target)
    packed = _pack(left, "_left").crossJoin(
        _pack(right, "_right").hint("shuffle_replicate_nl"))
    return _sliced(packed, target // max(1, q))


def _pack(df: DataFrame, name: str) -> DataFrame:
    """``df`` as one row per Arrow batch: a column ``name`` holding the
    batch's rows as ``array<struct<df's columns>>``, and ``name + "_no"``
    the batch's number within its partition (0, 1, …), by which
    ``product_sides`` drops a block's repeats."""
    import pyarrow as pa

    def pack(batches):
        n = 0
        for b in batches:
            if b.num_rows:
                rows = pa.StructArray.from_arrays(b.columns,
                                                  fields=list(b.schema))
                yield pa.RecordBatch.from_arrays(
                    [pa.ListArray.from_arrays([0, b.num_rows], rows),
                     pa.array([n], pa.int32())], names=[name, name + "_no"])
                n += 1

    return df.mapInArrow(pack, T.StructType(
        [T.StructField(name, T.ArrayType(df.schema, containsNull=False)),
         T.StructField(name + "_no", T.IntegerType())]))


def product_sides(batches: Iterator) -> tuple[dict, dict, int]:
    """A ``block_product`` task's input, for its ``mapInArrow`` function:
    ``(left, right, slice)``. Each side is every distinct block of the
    task once, concatenated in block-number order, as a dict of column
    name -> object array of values (a string, a float64 array per point
    list); ``slice`` is the task's one slice. A block recurs once per
    block of the other side; its number tells the recurrences apart, and
    is unique within the task, which reads one partition of each side."""
    import pyarrow as pa

    sides, s = ({}, {}), 0
    for b in batches:
        cols = [b.column(c).to_pylist()
                for c in ("_slice", "_left_no", "_right_no")]
        for i, (s, *nos) in enumerate(zip(*cols)):
            for side, name, no in zip(sides, ("_left", "_right"), nos):
                if no not in side:
                    side[no] = b.column(name)[i].values
    return (*(_columns(pa.concat_arrays([side[n] for n in sorted(side)]))
              if side else {} for side in sides), s)


def _columns(rows) -> dict:
    return {f.name: rows.field(j).to_numpy(zero_copy_only=False)
            for j, f in enumerate(rows.type)}


def exchange_free_partitions(df: DataFrame) -> Optional[int]:
    """``df``'s partition count when its plan has no Exchange and no
    subquery (``_plan_is_exchange_free``), else None. Never runs a job:
    on such a plan the ``.rdd`` conversion is pure plan compilation, so
    the count comes from Spark itself (file splits, cache layout) rather
    than a model of it."""
    if not _plan_is_exchange_free(df):
        return None
    try:
        return df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — unresolvable plans count as unknown
        return None


def known_max_rows(df: DataFrame) -> Optional[int]:
    """Catalyst's static row-count upper bound for ``df``, or None.

    ``LogicalPlan.maxRows`` is defined for true local relations, ranges,
    limits, and projections over them — reading it costs no Spark job,
    unlike count()/limit().collect() probes (~0.3-0.8 s of fixed
    local-mode overhead each). It is None for ``createDataFrame`` query
    sets built from a list: on PySpark 4.1 ``createDataFrame(list)``
    builds a ``LogicalRDD``, which has no ``maxRows``, so callers that
    know the size pass it as a hint (``createDataFrame`` of a pandas
    frame builds a ``LocalRelation``, which has one). An upper bound is safe for "is this
    small?" checks: bound <= K implies actual <= K."""
    try:
        mr = df._jdf.queryExecution().optimizedPlan().maxRows()
        return None if mr.isEmpty() else int(mr.get())
    except Exception:  # pragma: no cover - e.g. Spark Connect, no _jdf
        return None


def _plan_is_exchange_free(df: DataFrame) -> bool:
    """True iff the physical plan has no Exchange above its leaves — i.e.
    ``.rdd`` conversion would have NO query stages for AQE to materialize,
    so probing the partition count is pure plan compilation. Must inspect
    ``executedPlan`` (unwrapping AdaptiveSparkPlan to its ``initialPlan``,
    an inspection that plans but never executes stages): ``sparkPlan`` is
    pre-EnsureRequirements, so exchanges aren't inserted there yet and
    every plan looks exchange-free. Walks the tree rather than matching
    the plan string, because an ``InMemoryTableScan`` leaf PRINTS the
    cached relation's child plan (including the exchange that originally
    built the cache) in its description — but that child already ran when
    the cache materialized, its partitioning is pinned and costs nothing
    to read, so the walk stops there. ``nodeName`` matches both
    ShuffleExchange and BroadcastExchange (AQE materializes broadcast
    stages too)."""
    try:
        plan = df._jdf.queryExecution().executedPlan()
        if "AdaptiveSparkPlan" in plan.nodeName():
            plan = plan.initialPlan()
        stack = [plan]
        while stack:
            node = stack.pop()
            name = node.nodeName()
            if "Exchange" in name:
                return False
            # a subquery expression's plan runs eagerly on .rdd conversion
            # even when the MAIN tree is exchange-free — classify any
            # subquery-bearing plan as not-free (the repartition path is
            # always correct, just not fused)
            if node.subqueries().nonEmpty():
                return False
            if "InMemoryTableScan" in name:
                continue
            ch = node.children()
            for i in range(ch.length()):
                stack.append(ch.apply(i))
        return True
    except Exception:  # noqa: BLE001 — treat unknown plans as not-free
        return False
