"""Stage outputs as plan leaves, the job-free width check, and the
pipeline's scheduling floor.

``as_plan_leaf`` and ``ensure_min_partitions`` reach Spark-internal
classes (``LogicalRDD$``, ``classic.Dataset$``, physical plan nodes) through
py4j; these tests exercise exactly those calls, so a PySpark upgrade that
moves them fails here rather than inside a pipeline run.
"""

from __future__ import annotations

import uuid

import pyspark
import pytest
from pyspark.sql import functions as F

from duplicatesuricate_spark.functions.util import as_plan_leaf, ensure_min_partitions
from duplicatesuricate_spark.operators.dedup import dedup_pipeline
from duplicatesuricate_spark.sources.corpus import read_corpus, with_doc_identity
from duplicatesuricate_spark.sources.synth import synth_corpus

# jobs one dedup_pipeline call plus materializing its assignments and pairs
# runs on the 60-row fixture: 46-47 measured on Spark 4.1.2 / local[4];
# 52 when the width check still ran the plan and the stage outputs kept
# their lineage, 51 with the old width check alone.  Raise it only with a
# measured reason.
JOB_CEILING = 48


def _jobs_in(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, job count)."""
    sc = spark.sparkContext
    group = f"t-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def small_corpus(spark):
    pdf, _ = synth_corpus(n_rows=60, seed=41)
    return with_doc_identity(spark.createDataFrame(pdf))


def test_pinned_pyspark_version():
    # as_plan_leaf / _planned_width call Spark internals validated on this
    # release; re-run this module before moving the pin
    assert pyspark.__version__ == "4.1.2"


def test_width_check_runs_no_job_on_joined_corpus(spark, small_corpus):
    other = small_corpus.select("doc_id", F.length("content").alias("n"))
    joined = small_corpus.join(other.hint("shuffle_merge"), "doc_id")
    out, jobs = _jobs_in(spark, lambda: ensure_min_partitions(joined))
    assert jobs == 0
    assert out.count() == 60


def test_width_check_widens_single_file_corpus(spark, small_corpus, tmp_path):
    path = str(tmp_path / "one")
    small_corpus.drop("doc_id", "content_sha256").coalesce(1).write.parquet(path)
    corpus = read_corpus(spark, path)
    assert corpus.rdd.getNumPartitions() == 1
    target = spark.sparkContext.defaultParallelism
    out, jobs = _jobs_in(spark, lambda: ensure_min_partitions(corpus))
    assert jobs == 0
    assert out.rdd.getNumPartitions() == target
    # coalesce(1) is widened; an explicit repartition at or above the
    # target is returned untouched
    assert ensure_min_partitions(corpus.coalesce(1)).rdd.getNumPartitions() == target
    wide = corpus.repartition(target + 1)
    assert ensure_min_partitions(wide) is wide
    # a cached input is measured through its plan before it is filled and
    # by its blocks after, without running a job either way
    cached = corpus.persist()
    try:
        for fill in (False, True):
            if fill:
                cached.count()
            out, jobs = _jobs_in(spark, lambda: ensure_min_partitions(cached))
            assert jobs == 0
            assert out.rdd.getNumPartitions() == target
    finally:
        cached.unpersist()


def test_plan_leaf_keeps_rows_stats_and_lineage(spark):
    base = spark.range(0, 500, numPartitions=3).withColumn("k", F.col("id") % 7)
    agg = base.groupBy("k").agg(F.count("*").alias("c")).persist()
    expected = sorted(agg.collect())
    leaf, jobs = _jobs_in(spark, lambda: as_plan_leaf(agg))
    assert jobs == 0
    assert leaf._jdf.queryExecution().analyzed().children().isEmpty()
    assert sorted(leaf.collect()) == expected

    def size(df):
        return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()

    # the planner sizes joins against the leaf as it did against the cache
    assert size(leaf) == size(agg)
    agg.unpersist(blocking=True)
    # lineage is kept: the leaf recomputes once the blocks are gone
    assert sorted(leaf.collect()) == expected


def test_pipeline_stage_outputs_are_leaves(spark, small_corpus):
    res = dedup_pipeline(small_corpus)
    for df in (res.sketches, res.pairs):
        plan = df._jdf.queryExecution().analyzed()
        assert plan.nodeName() == "LogicalRDD" and plan.children().isEmpty()
    sketches = sorted(res.sketches.select("doc_id", "simhash").collect())
    pairs = sorted(res.pairs.collect())
    # the persisted originals are still owned and still cached
    assert len(res.owned_caches) >= 4
    assert all(df.storageLevel.useDisk for df in res.owned_caches)
    res.unpersist(blocking=True)
    assert sorted(res.sketches.select("doc_id", "simhash").collect()) == sketches
    assert sorted(res.pairs.collect()) == pairs


def test_pipeline_scheduling_floor(spark, small_corpus):
    def run():
        res = dedup_pipeline(small_corpus)
        res.assignments.collect()
        res.pairs.collect()
        return res

    res, jobs = _jobs_in(spark, run)
    res.unpersist()
    assert jobs <= JOB_CEILING, f"{jobs} jobs (ceiling {JOB_CEILING})"
