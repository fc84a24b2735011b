"""Code generation is paid once per session.

A warm repeat of the flagship (and of an incremental merge) must reuse the
classes Spark generated for the first run: the session's generated-class
cache holds a whole run's working set, and neither a per-run value (such
as a stage's wall time) nor a per-run codegen stage id lands in the
generated source.

The compile count is Spark's own ``CodegenMetrics`` compilation-time
histogram, read through py4j; like ``test_plan_leaves.py`` this pins
PySpark 4.1.2 internals.
"""

from __future__ import annotations

import shutil

import pytest

from duplicatesuricate_spark.operators.dedup import dedup_pipeline
from duplicatesuricate_spark.sources.corpus import with_doc_identity
from duplicatesuricate_spark.sources.synth import synth_corpus
from duplicatesuricate_spark.streaming.incremental import incremental_dedup


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far (every codegen cache
    miss records one compilation time)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _compiles_per_run(spark, run, times: int = 3) -> list[int]:
    counts = []
    for _ in range(times):
        before = _compiles(spark)
        run()
        counts.append(_compiles(spark) - before)
    return counts


@pytest.fixture(scope="module")
def small_corpus(spark):
    pdf, _ = synth_corpus(n_rows=60, seed=41)
    return with_doc_identity(spark.createDataFrame(pdf))


def test_repeat_pipeline_runs_compile_nothing(spark, small_corpus):
    def run():
        res = dedup_pipeline(small_corpus)
        res.assignments.collect()
        res.pairs.collect()
        res.unpersist()

    counts = _compiles_per_run(spark, run)
    cache = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    # one run's classes must fit the cache with room to spare, so a stage
    # that outgrows it fails here rather than silently recompiling
    assert counts[0] < cache // 4, f"first run compiled {counts[0]} (cache {cache})"
    # 160 per repeat with the default 100-entry cache, 4 with the cache
    # sized but a wall-time literal in the metrics plan
    assert counts[2] == 0, f"compiles per run: {counts}"


def test_repeat_incremental_merges_reuse_classes(spark, tmp_path):
    pdf, _ = synth_corpus(n_rows=80, seed=43)
    corpus = with_doc_identity(spark.createDataFrame(pdf)).select(
        "doc_id", "content_sha256", "content")
    rows = corpus.collect()
    for name, part in (("base", rows[:64]), ("delta", rows[64:])):
        spark.createDataFrame(part, corpus.schema).write.parquet(str(tmp_path / name))
    state = tmp_path / "state"
    incremental_dedup(spark, spark.read.parquet(str(tmp_path / "base")), str(state))
    delta = spark.read.parquet(str(tmp_path / "delta"))

    merges = iter(range(3))

    def merge():
        copy = tmp_path / f"merge{next(merges)}"
        shutil.copytree(state, copy)
        incremental_dedup(spark, delta, str(copy)).collect()

    counts = _compiles_per_run(spark, merge)
    # ~130 per merge with the default 100-entry cache.  A repeat may still
    # compile one join pipeline AQE has not planned before: which side of a
    # join it broadcasts depends on which input stage finishes first, and
    # each variant compiles once per class loader (driver and task
    # threads).  Nothing else may be compiled again.
    assert max(counts[1:]) <= 4, f"compiles per merge: {counts}"
