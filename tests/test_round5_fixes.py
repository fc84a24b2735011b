"""Round-5 regression guards.

Covers the round-4 verdict/advice items:
  1. run_dedup_checkpointed owns its internal caches (no persisted RDD
     survives a run) and the slim sha-window map is staged once — reps and
     exact_edges derive from its parquet instead of re-executing the
     window;
  2. the default dedup_pipeline path carries REAL per-stage wall times on
     the persisted stages (wall_ms > 0, not the old -1 placeholder);
  3. DedupResult.metrics survives unpersist() without re-executing the
     candidate/score DAG (rows are materialized driver-side first);
  4. per-stage config stamps: changing jaccard_threshold recomputes
     near_pairs and downstream but REUSES the expensive sketch stage
     (the old full-config stamp invalidated everything), while changing
     the substring chunk geometry recomputes it;
  5. connected_components(checkpoint=False) releases the size-gate persist
     on the distributed path instead of leaking it;
  6. SparkRFClassifier composes end-to-end through
     SuricateSpark.start_linkage (the last untested classifier x linkage
     composition).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duplicatesuricate_spark.api import SuricateSpark, build_training_table
from duplicatesuricate_spark.config import DEFAULT_CONFIG
from duplicatesuricate_spark.operators.classifiers import SparkRFClassifier
from duplicatesuricate_spark.operators.components import connected_components
from duplicatesuricate_spark.operators.dedup import dedup_pipeline
from duplicatesuricate_spark.plans.resume import run_dedup_checkpointed
from duplicatesuricate_spark.sources.corpus import with_doc_identity
from duplicatesuricate_spark.sources.synth import synth_corpus


@pytest.fixture(scope="module")
def small_corpus(spark):
    pdf, _ = synth_corpus(n_rows=60, seed=41)
    return with_doc_identity(spark.createDataFrame(pdf))


def _persisted_rdd_ids(spark) -> set[int]:
    # compared as id sets, not counts: an earlier test's unreferenced
    # localCheckpoint RDD may be garbage-collected (and so unpersisted)
    # while the code under test runs, which would offset one leaked RDD
    # or fail a count check where nothing leaked
    ids = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet().iterator()
    out = set()
    while ids.hasNext():
        out.add(int(ids.next()))
    return out


# ------------------------------ 1. checkpointed runner cache ownership


def test_checkpointed_run_leaves_no_persisted_rdds(spark, small_corpus, tmp_path):
    mine = small_corpus.select("doc_id").persist()
    mine.count()
    before = _persisted_rdd_ids(spark)
    out = run_dedup_checkpointed(spark, small_corpus, str(tmp_path / "wd"))
    assert out["assignments"].count() == 60
    leaked = _persisted_rdd_ids(spark) - before
    assert not leaked, f"checkpointed run leaked {len(leaked)} persisted RDDs"
    # and it released nothing the caller owns
    assert mine.storageLevel.useDisk or mine.storageLevel.useMemory
    mine.unpersist()


def test_checkpointed_sha_window_runs_once(spark, small_corpus, tmp_path, monkeypatch):
    """reps and exact_edges must derive from the staged dup_map parquet —
    the window-bearing exact_dup_map executes exactly once per work dir."""
    import duplicatesuricate_spark.operators.dedup as dedup_mod

    calls = {"n": 0}
    real = dedup_mod.exact_dup_map

    def counting(corpus, ids=None):
        calls["n"] += 1
        return real(corpus, ids=ids)

    monkeypatch.setattr(dedup_mod, "exact_dup_map", counting)
    out = run_dedup_checkpointed(spark, small_corpus, str(tmp_path / "wd"))
    r = out["_runner"]
    assert "dup_map" in r.executed
    assert calls["n"] == 1, f"sha window built {calls['n']} times, expected 1"
    # and the derived stages agree with the batch path's exact edges
    from duplicatesuricate_spark.operators.dedup import exact_dup_edges

    got = {(x.id_a, x.id_b) for x in
           spark.read.parquet(str(tmp_path / "wd" / "exact_edges")).collect()}
    want = {(x.id_a, x.id_b) for x in exact_dup_edges(small_corpus)[1].collect()}
    assert got == want


def test_threshold_change_reuses_sketch_stage(spark, small_corpus, tmp_path):
    """Per-stage stamps (round-4 advice): a jaccard_threshold change must
    recompute near_pairs and downstream while SKIPPING the config-
    independent prefix (corpus_ids .. sketches, candidates)."""
    wd = str(tmp_path / "wd")
    run_dedup_checkpointed(spark, small_corpus, wd)
    cfg2 = DEFAULT_CONFIG.with_(jaccard_threshold=0.7)
    r2 = run_dedup_checkpointed(spark, small_corpus, wd, cfg=cfg2)["_runner"]
    assert {"corpus_ids", "dup_map", "reps", "exact_edges", "sketches",
            "candidates"} <= set(r2.skipped)
    assert "near_pairs" in r2.executed
    assert {"all_pairs", "assignments"} <= set(r2.executed)
    # substring pass is config-untouched here but sits after near_pairs in
    # the conservative linear chain — either behavior is correctness-safe;
    # what matters (and is pinned above) is that the sketch stage is reused.

    # the sketches checkpoint carries the substring chunks, so a change of
    # the chunk geometry must recompute it (and only what follows it)
    cfg3 = cfg2.with_(substring_window=40)
    r3 = run_dedup_checkpointed(spark, small_corpus, wd, cfg=cfg3)["_runner"]
    assert r3.skipped == ["corpus_ids", "dup_map", "reps", "exact_edges"]
    assert "sketches" in r3.executed


# ------------------------- 2+3. default-path metrics walls + unpersist


def test_default_path_metrics_walls_and_unpersist_no_recompute(spark, small_corpus):
    res = dedup_pipeline(small_corpus)
    res.assignments.count()
    m = {r.stage: r for r in
         res.metrics.groupBy("stage").agg(F.max("wall_ms").alias("wall_ms")).collect()}
    assert m["sketches"].wall_ms > 0, "sketch stage wall_ms is a placeholder"
    assert m["pairs"].wall_ms > 0, "pairs stage wall_ms is a placeholder"
    rows_before = res.metrics.count()

    res.unpersist()
    # metrics must now be a driver-side local relation: no exchange, no
    # Arrow kernel, no join — evaluating it cannot re-execute the DAG
    plan = res.metrics._jdf.queryExecution().optimizedPlan().toString()
    for op in ("Exchange", "Join", "MapInArrow", "InMemoryRelation"):
        assert op not in plan, f"metrics after unpersist still plans a {op}"
    assert res.metrics.count() == rows_before


# --------------------------------- 5. CC size-gate release (no leak)


def test_cc_no_checkpoint_releases_size_gate(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    before = _persisted_rdd_ids(spark)
    # driver_threshold=1 forces the DISTRIBUTED path on 3 edges
    got = connected_components(edges, checkpoint=False, driver_threshold=1)
    labels = {r.doc_id: r.cluster_id for r in got.collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    leaked = _persisted_rdd_ids(spark) - before
    assert not leaked, f"size-gate persist leaked {len(leaked)} RDDs"


# --------------------------- 6. SparkML RF through start_linkage (e2e)


def test_spark_rf_through_start_linkage(spark):
    rows = [
        (1, "acme corp", "berlin", "10115"),
        (2, "acme corporation", "berlin", "10115"),
        (3, "other gmbh", "munich", "80331"),
        (4, "acme corp gmbh", "berlin", "10115"),
        (5, "zeta llc", "hamburg", "20095"),
        (6, "zeta llc", "hamburg", "20095"),
        (7, "unrelated ag", "berlin", "13353"),
    ]
    entities = spark.createDataFrame(
        rows, "ix long, name string, city string, postalcode string"
    )
    scoredict = {"exact": ["postalcode"], "fuzzy": ["name"]}
    score_cols = ["postalcode_exactscore", "name_fuzzyscore"]

    y = spark.createDataFrame(
        [(1, 2, 1.0), (1, 4, 1.0), (2, 4, 1.0), (5, 6, 1.0),
         (1, 3, 0.0), (2, 3, 0.0), (1, 7, 0.0), (2, 7, 0.0), (4, 7, 0.0)],
        "id_a long, id_b long, y_true double",
    )
    train = build_training_table(entities, y, scoredict, "ix")
    clf = SparkRFClassifier(score_cols, n_trees=20).fit(train)

    # rule path and RF path must agree on the separable fixture pair set
    rule = SuricateSpark(
        entities, "ix", scoredict, blocking_any=["city"],
        decision_threshold=0.4,
    )
    rule_pairs = {(r.id_a, r.id_b) for r in rule.start_linkage().collect()}

    ml = SuricateSpark(
        entities, "ix", scoredict, blocking_any=["city"],
        prefilter_threshold=-1.1,       # let the classifier decide alone
        decision_threshold=0.5, classifier=clf,
    )
    got = ml.start_linkage()
    assert "y_proba" in got.columns
    ml_pairs = {(r.id_a, r.id_b) for r in got.collect()}
    assert ml_pairs == rule_pairs
    assert (5, 6) in ml_pairs and all(3 not in p and 7 not in p for p in ml_pairs)
