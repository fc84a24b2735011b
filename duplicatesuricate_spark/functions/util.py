"""Small plan-shaping utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_partitions(df: DataFrame, target: int | None = None) -> DataFrame:
    """Repartition ONLY when the input has fewer partitions than the
    cluster can use.

    Why: compute-heavy narrow stages (shingling, sketch UDFs) inherit the
    scan's partitioning.  A small parquet file — or an AQE-coalesced
    shuffle — can leave ONE partition, serializing work that costs far
    more per byte than a shuffle would.  Wide scans and filled caches
    (partitions >= cores) pass untouched.  The width is read off the
    physical plan, so the check itself runs no Spark job; since AQE sizes
    shuffles only at runtime, an input whose width comes from an
    AQE-coalescable shuffle is always widened.
    """
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    if _planned_width(df._jdf.queryExecution().executedPlan()) >= target:
        return df
    return df.repartition(target)


def _planned_width(p) -> int:
    """Lower bound on the partitions physical plan ``p`` yields, without
    executing it: file scans count their splits, a filled cache its blocks,
    ``repartition(n)`` n, a broadcast side none, and any other shuffle one
    (AQE may coalesce it that far at runtime)."""
    name = p.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _planned_width(p.executedPlan())
    if name == "BroadcastExchangeExec":
        return 0
    if name == "ShuffleExchangeExec":
        fixed = str(p.shuffleOrigin()) == "REPARTITION_BY_NUM"
        return p.outputPartitioning().numPartitions() if fixed else 1
    if name == "InMemoryTableScanExec":
        cache = p.relation().cacheBuilder()
        if not cache.isCachedColumnBuffersLoaded():
            return _planned_width(p.relation().cachedPlan())
        return cache.cachedColumnBuffers().getNumPartitions()
    kids = p.children()
    widths = [_planned_width(kids.apply(i)) for i in range(kids.size())]
    if not widths:  # listing files or wrapping an RDD runs no job
        rdd = p.inputRDD() if name == "FileSourceScanExec" else p.execute()
        return rdd.getNumPartitions()
    width = sum(widths) if name == "UnionExec" else max(widths)
    stated = p.outputPartitioning().numPartitions()  # coalesce(n), SinglePartition
    return min(width, stated) if stated > 0 else width


def as_plan_leaf(df: DataFrame) -> DataFrame:
    """A persisted, already-materialized ``df`` re-rooted as a plan leaf, so
    later stages stop re-analyzing and re-planning its whole lineage.  This
    is ``Dataset.checkpoint`` minus the checkpoint: a ``LogicalRDD`` over the
    cached scan, keeping ``df``'s statistics and partitioning, whose RDD
    lineage still reaches the cached blocks and the recompute path behind
    them (``localCheckpoint`` would cut it).  Keep ``df`` to unpersist it."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    sql, jdf = df.sparkSession._jvm.org.apache.spark.sql, df._jdf
    plan = getattr(sql.execution, "LogicalRDD$").__getattr__("MODULE$").fromDataset(
        jdf.queryExecution().toRdd(), jdf, False)
    leaf = getattr(sql.classic, "Dataset$").__getattr__("MODULE$").ofRows(
        jdf.sparkSession(), plan)
    return ClassicDataFrame(leaf, df.sparkSession)


def persist_level():
    """Storage level for the pipeline's big intermediate tables (sketches,
    band buckets, chunk hashes, pair sets).

    Default MEMORY_AND_DISK (Spark's own Dataset.persist default): blocks
    are columnar-serialized either way and recompute from lineage on
    executor loss; keeping them in storage memory means reads hit
    already-committed heap pages instead of faulting fresh tmpfs pages,
    and the unified memory manager evicts overflow to disk — so the
    failure mode IS the old DISK_ONLY behavior.  Round-5 2x2 A/B at 2M
    docs / 8 cores (BENCH/BASELINE.md): with the pre-touched heap this is
    the fastest cell (308 s vs 336 s DISK_ONLY); WITHOUT AlwaysPreTouch it
    is the slowest (480 s — the same faults move into mid-query heap
    growth), which is why the session default pins both together.
    ``SPARK_GRAFT_PERSIST_LEVEL`` overrides (any ``pyspark.StorageLevel``
    attribute name).
    """
    from pyspark import StorageLevel

    name = persist_level_name()
    level = getattr(StorageLevel, name, None)
    if not isinstance(level, StorageLevel):
        valid = sorted(
            k for k, v in vars(StorageLevel).items()
            if isinstance(v, StorageLevel)
        )
        raise ValueError(
            f"SPARK_GRAFT_PERSIST_LEVEL={name!r} is not a StorageLevel; "
            f"valid names: {', '.join(valid)}"
        )
    return level


def persist_level_name() -> str:
    """The effective ``persist_level()`` as its StorageLevel attribute name
    (benchmark rows log this so configs stay separable across rounds)."""
    import os

    return os.environ.get("SPARK_GRAFT_PERSIST_LEVEL", "MEMORY_AND_DISK")
