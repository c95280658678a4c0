"""Catalyst plan-statistics probes shared by size-routing operators."""

from __future__ import annotations

from pyspark.sql import DataFrame

# Catalyst reports UNKNOWN-size leaves as spark.sql.defaultSizeInBytes,
# which defaults to Long.MaxValue (so unknown sides never broadcast);
# anything at or above this cutoff is "no estimate", not "huge"
SIZE_UNKNOWN_CUTOFF = 1 << 62


def estimated_bytes(df: DataFrame) -> "int | None":
    """Catalyst's optimized-plan size estimate (file sizes for scans,
    propagated through operators). None when the JVM call fails or the
    estimate is the unknown-size sentinel (local/python-backed or
    lineage-truncated frames) — callers choose their own unknown-size
    default; see asof_join (unknown = small) vs anti_join_scan
    (unknown = the growing side)."""
    try:
        b = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        return None if b >= SIZE_UNKNOWN_CUTOFF else b
    except Exception:  # pragma: no cover
        return None


# spark.sql.adaptive.coalescePartitions.minPartitionSize (default): with
# parallelismFirst, AQE merges a small shuffle's partitions up to this size
_AQE_MIN_PARTITION_BYTES = 1 << 20


def planned_partitions(df: DataFrame) -> "int | None":
    """How many partitions ``df``'s output will have, read off its
    physical plan without running it (``df.rdd.getNumPartitions()``
    executes the plan's shuffle and broadcast stages under AQE).

    The count comes from the node that the output's partitioning descends
    from: a file, RDD or local scan's splits, a loaded cache's blocks, or
    a shuffle. A shuffle that AQE may coalesce counts one partition per
    ``_AQE_MIN_PARTITION_BYTES`` of Catalyst's size estimate, capped by
    its planned count; a cached plan keeps its planned count (AQE leaves
    a cache's output partitioning alone). Broadcast joins follow their
    streamed side and a union adds up its children. None when the plan
    cannot be read."""
    try:
        return _plan_partitions(df._jdf.queryExecution().executedPlan())
    except Exception:  # pragma: no cover
        return None


def _plan_partitions(plan, coalesces: "bool | None" = None) -> int:
    # coalesces: None outside any adaptive plan, False inside a cache
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return _plan_partitions(plan.executedPlan(), coalesces is not False)
    if kind == "InMemoryTableScanExec":
        cache = plan.relation().cacheBuilder()
        if cache.isCachedColumnBuffersLoaded():
            return cache.cachedColumnBuffers().getNumPartitions()
        return _plan_partitions(cache.cachedPlan(), False)
    if kind == "ShuffleExchangeExec":
        n = plan.outputPartitioning().numPartitions()
        shuffled = plan.child().logicalLink()
        if (
            coalesces
            and shuffled.isDefined()
            and plan.shuffleOrigin().toString() != "REPARTITION_BY_NUM"
        ):
            est = int(shuffled.get().stats().sizeInBytes())
            n = min(n, max(1, -(-est // _AQE_MIN_PARTITION_BYTES)))
        return n
    if kind == "CoalesceExec":
        return plan.outputPartitioning().numPartitions()
    children = plan.children()
    if children.isEmpty():
        # building a leaf's RDD lists its splits; nothing runs
        rdd = plan.executeColumnar() if plan.supportsColumnar() else plan.execute()
        return rdd.getNumPartitions()
    if kind == "UnionExec":
        return sum(
            _plan_partitions(children.apply(i), coalesces)
            for i in range(children.size())
        )
    if kind in ("BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"):
        streamed = 0 if plan.buildSide().toString() == "BuildRight" else 1
        return _plan_partitions(children.apply(streamed), coalesces)
    return _plan_partitions(children.apply(0), coalesces)
