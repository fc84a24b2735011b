"""Round-4 regression guards.

Covers the round-3 verdict/advice items:
  1. two-table linkage plans equi-joins, never a nested-loop/cartesian;
  2. CheckpointRunner recomputes (not skips) stages when the config or
     kernel identity changed since the work dir was written;
  3. incremental/stream dedup unpersists exactly its own intermediates —
     caller-owned caches survive, and no pipeline cache leaks per merge;
  4. the slim exact pre-pass produces the same reps/edges as the old
     full-row window;
  5. DedupResult carries per-stage partition metrics and an unpersist()
     that drops everything the pipeline persisted;
  6. jar-gated Iceberg path: exercises read/write when a runtime jar is on
     the session, and pins the actionable capability error when absent.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from duplicatesuricate_spark.api import SuricateLinkPairs
from duplicatesuricate_spark.config import DEFAULT_CONFIG
from duplicatesuricate_spark.operators.dedup import (
    dedup_pipeline,
    exact_dup_edges,
)
from duplicatesuricate_spark.sources.corpus import with_doc_identity
from duplicatesuricate_spark.sources.synth import synth_corpus


SCOREDICT = {"exact": ["postalcode"], "fuzzy": ["name"]}


@pytest.fixture(scope="module")
def entities(spark):
    rows = [
        (1, "acme corp", "berlin", "10115"),
        (2, "acme corporation", "berlin", "10115"),
        (3, "other gmbh", "munich", "80331"),
        (4, "acme corp gmbh", "berlin", "10115"),
        (5, "zeta llc", "hamburg", "20095"),
        (6, "zeta llc", "hamburg", "20095"),
    ]
    return spark.createDataFrame(
        rows, "ix long, name string, city string, postalcode string"
    )


@pytest.fixture(scope="module")
def small_corpus(spark):
    pdf, _ = synth_corpus(n_rows=60, seed=41)
    return with_doc_identity(spark.createDataFrame(pdf))


# ------------------------------------------------------- 1. linkage plan


def test_two_table_linkage_plan_has_no_nested_loop(spark, entities):
    """Multi-key two-table blocking must be a union of equi-joins: an
    OR-of-equalities condition forces BroadcastNestedLoopJoin /
    CartesianProduct, O(|Q|.|T|) at scale (round-3 verdict item 1)."""
    lp = SuricateLinkPairs(
        entities.where(F.col("ix") <= 2),
        entities.where(F.col("ix") > 2),
        "ix",
        SCOREDICT,
        blocking_keys=["city", "postalcode"],
        decision_threshold=0.2,
    )
    plan = lp.start_linkage()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_two_table_linkage_multi_key_results(spark, entities):
    """Union-of-equi-joins semantics: a pair matching ANY key appears once
    (deduped), none matching appears at all."""
    lp = SuricateLinkPairs(
        entities.where(F.col("ix") <= 2),
        entities.where(F.col("ix") > 2),
        "ix",
        SCOREDICT,
        blocking_keys=["city", "postalcode"],
        decision_threshold=0.2,
    )
    rows = lp.start_linkage().collect()
    got = {(r.id_a, r.id_b) for r in rows}
    assert (1, 4) in got or (2, 4) in got       # berlin + plz both match
    assert all(b != 5 and b != 6 for _, b in got)  # hamburg never blocks
    assert len(rows) == len(got)                 # multi-key match not duped


# ------------------------------------------- 2. checkpoint config stamp


def test_checkpoint_resume_recomputes_on_config_change(spark, small_corpus, tmp_path):
    from duplicatesuricate_spark.plans.resume import run_dedup_checkpointed

    work = str(tmp_path / "work")
    r1 = run_dedup_checkpointed(spark, small_corpus, work)
    assert r1["assignments"].count() == 60
    runner1 = r1["_runner"]
    assert runner1.skipped == []

    # same config -> every stage skips
    r2 = run_dedup_checkpointed(spark, small_corpus, work)
    assert r2["_runner"].executed == []
    assert set(r2["_runner"].skipped) == set(runner1.executed)

    # changed threshold -> the stale stages RE-RUN instead of silently
    # mixing old outputs with the new config (round-3 verdict item 2)
    cfg2 = DEFAULT_CONFIG.with_(jaccard_threshold=0.7)
    r3 = run_dedup_checkpointed(spark, small_corpus, work, cfg=cfg2)
    assert r3["_runner"].executed != []
    # and a rerun under the changed config now skips again
    r4 = run_dedup_checkpointed(spark, small_corpus, work, cfg=cfg2)
    assert r4["_runner"].executed == []


# ------------------------------------------------- 3. cache ownership


def test_incremental_dedup_preserves_caller_cache(spark, small_corpus, tmp_path):
    """incremental_dedup must unpersist ONLY its own intermediates: a
    caller-persisted DataFrame stays cached across a merge, and the
    session's persisted-RDD census returns to its pre-merge size (no
    DISK_ONLY leak per merge — round-3 advice items 1-2)."""
    from duplicatesuricate_spark.streaming.incremental import incremental_dedup

    caller_df = small_corpus.limit(10).persist()
    caller_df.count()
    jsc = spark.sparkContext._jsc.sc()

    def persisted_ids():
        # id sets, not counts: an earlier test's unreferenced RDD may be
        # garbage-collected (and so unpersisted) during the merge
        it = jsc.getPersistentRDDs().keySet().iterator()
        out = set()
        while it.hasNext():
            out.add(int(it.next()))
        return out

    before = persisted_ids()

    state = str(tmp_path / "state")
    batch = small_corpus.select("doc_id", "content_sha256", "content")
    incremental_dedup(spark, batch.limit(30), state)
    incremental_dedup(spark, batch, state)

    assert caller_df.storageLevel.useMemory or caller_df.storageLevel.useDisk
    assert caller_df.limit(1).count() == 1
    leaked = persisted_ids() - before
    assert not leaked, f"leaked {len(leaked)} persisted RDDs per merge"
    caller_df.unpersist()


# ----------------------------------------------- 4. slim exact pre-pass


def test_exact_dup_edges_matches_full_row_window(spark, small_corpus):
    planted = small_corpus.limit(5).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    corpus = small_corpus.unionByName(planted)

    reps, edges = exact_dup_edges(corpus)

    w = Window.partitionBy("content_sha256")
    tagged = corpus.withColumn("rep_id", F.min("doc_id").over(w))
    reps_ref = tagged.where(F.col("doc_id") == F.col("rep_id")).drop("rep_id")
    edges_ref = tagged.where(F.col("doc_id") != F.col("rep_id")).select(
        F.col("rep_id").alias("id_a"), F.col("doc_id").alias("id_b")
    )

    assert {r.doc_id for r in reps.select("doc_id").collect()} == {
        r.doc_id for r in reps_ref.select("doc_id").collect()
    }
    assert {(r.id_a, r.id_b) for r in edges.collect()} == {
        (r.id_a, r.id_b) for r in edges_ref.collect()
    }
    assert edges.count() == 5
    # the content column must never enter the edges plan at all (slim
    # 40-byte shuffle rows): attribute `content#N` absent everywhere —
    # `content_sha256#N` renders differently and is fine
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "content#" not in plan


# ------------------------------------- 5. default-path metrics + cleanup


def test_dedup_result_metrics_and_unpersist(spark, small_corpus):
    res = dedup_pipeline(small_corpus)
    n_assign = res.assignments.count()
    assert n_assign == 60

    m = res.metrics.toPandas()
    assert set(m["stage"]) == {"sketches", "pairs", "assignments"}
    totals = m.groupby("stage")["rows_out"].sum()
    assert totals["assignments"] == n_assign
    assert totals["sketches"] == res.sketches.count()
    assert totals["pairs"] == res.pairs.count()
    assert (m["partition_id"] >= 0).all()

    assert res.owned_caches, "pipeline should register its persisted stages"
    assert all(df.storageLevel.useDisk for df in res.owned_caches)
    res.unpersist()
    assert all(
        not (df.storageLevel.useDisk or df.storageLevel.useMemory)
        for df in res.owned_caches
    )


# ---------------------------------- 5b. oracle expansion (advice item 3)


def test_minhash_pairs_expansion_with_planted_sha_groups(spark):
    """The minhash_lsh_pairs contract equality was data-dependent: the
    pipeline's exact pre-pass emits star edges per sha group and near-dups
    only representatives, while the brute-force oracle emits ALL pairs.
    With a planted sha group of size 3 AND a size-2 identical group whose
    content near-dups a third doc, the un-expanded output is a strict
    subset.  expand_rep_pairs_to_doc_level must restore exact equality."""
    import os

    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    src = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(src):
        pytest.skip("driver test data not present")
    base = pd.read_parquet(src)[["doc_id", "text"]].head(40).copy()
    longest = base.loc[base["text"].str.len().idxmax()]
    second = base.loc[
        base.drop(longest.name)["text"].str.len().idxmax()
    ]
    extra = pd.DataFrame(
        {
            "doc_id": [1000001, 1000002, 1000003, 1000004],
            "text": [
                longest["text"],          # sha group of size 3 with X
                longest["text"],
                second["text"],           # sha group of size 2 with Y...
                second["text"] + " zzzq", # ...whose content near-dups Y'
            ],
        }
    )
    pdf = pd.concat([base, extra], ignore_index=True)

    con = duckdb.connect()
    con.register("documents", pdf)
    odf = con.execute(entry.oracle_sql()["minhash_lsh_pairs"]).df()
    oracle = {
        (int(r.id_a), int(r.id_b)): round(float(r.jaccard), 6)
        for r in odf.itertuples()
    }

    corpus = spark.createDataFrame(pdf).select(
        "doc_id",
        F.col("text").alias("content"),
        F.sha2("text", 256).alias("content_sha256"),
    )
    res = dedup_pipeline(
        corpus, entry._ORACLE_CFG, include_substring_pass=False
    )
    got_rows = entry.expand_rep_pairs_to_doc_level(corpus, res.pairs).collect()
    got = {
        (int(r.id_a), int(r.id_b)): round(float(r.jaccard), 6)
        for r in got_rows
    }

    # the planted structure is actually present (the test has teeth)
    x = int(longest["doc_id"])
    assert (min(x, 1000001), max(x, 1000001)) in oracle
    assert (1000001, 1000002) in oracle
    assert (1000003, 1000004) in oracle   # copy <-> near-dup cross pair
    assert got == oracle


# ------------------------------------------- 5c. real-codec worked example


def test_make_real_decoder_gating(spark):
    """make_real_decoder is the worked example for wiring real codecs into
    extract_features.  Without any codec library it must fail at BUILD
    time with one actionable message; with Pillow present the image path
    must run end-to-end through the same mapInPandas plumbing as the fake
    codec."""
    from duplicatesuricate_spark.operators.multimodal import (
        FEATURE_DIM,
        MEDIA_SCHEMA,
        extract_features,
        make_real_decoder,
    )

    try:
        import io

        from PIL import Image  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="codec library"):
            make_real_decoder()
        return

    buf = io.BytesIO()
    Image.new("L", (8, 8), color=128).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(1, "image", buf.getvalue(),
          {"width": 8, "height": 8, "sample_rate": None, "n_frames": None})],
        MEDIA_SCHEMA,
    )
    row = extract_features(media, decode_fn=make_real_decoder()).collect()[0]
    assert len(row.feature) == FEATURE_DIM
    assert all(abs(v - 128 / 255) < 1e-5 for v in row.feature)


# --------------------------------------------------- 6. iceberg gating


def _iceberg_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def test_iceberg_error_path_without_jars(spark, small_corpus):
    """Without the runtime jar the capability probe must raise the
    actionable IcebergUnavailableError, not a raw Py4J stack."""
    from duplicatesuricate_spark.sources.corpus import read_corpus
    from duplicatesuricate_spark.sources.sinks import (
        IcebergUnavailableError,
        write_iceberg,
    )

    if _iceberg_available(spark):
        pytest.skip("iceberg runtime present; error path not reachable")
    with pytest.raises(IcebergUnavailableError, match="iceberg-spark-runtime"):
        read_corpus(spark, "cat.db.corpus", fmt="iceberg")
    with pytest.raises(IcebergUnavailableError):
        write_iceberg(small_corpus, "cat.db.corpus_out")


def test_iceberg_round_trip_when_jar_present(spark, tmp_path, small_corpus):
    """Jar-gated integration: snapshot write + snapshot-id read threading
    against a local Hadoop catalog.  Runs only where iceberg-spark-runtime
    is on the classpath (round-3 verdict item 7); sandbox sessions skip.
    Iceberg catalog definitions (``spark.sql.catalog.*``) are
    runtime-settable, so the shared session gets a throwaway Hadoop
    catalog pointed at tmp_path."""
    if not _iceberg_available(spark):
        pytest.skip("iceberg-spark-runtime jar not on the session")

    from duplicatesuricate_spark.sources.corpus import read_corpus
    from duplicatesuricate_spark.sources.sinks import write_iceberg

    spark.conf.set(
        "spark.sql.catalog.dss_it", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.dss_it.type", "hadoop")
    spark.conf.set("spark.sql.catalog.dss_it.warehouse", str(tmp_path / "wh"))

    df = small_corpus.select("repo", "path", "commit", "lang", "content")
    spark.sql("create database if not exists dss_it.db")
    write_iceberg(df, "dss_it.db.corpus", mode="overwrite")
    got = read_corpus(spark, "dss_it.db.corpus", fmt="iceberg")
    assert got.count() == df.count()
    snaps = spark.sql(
        "select snapshot_id from dss_it.db.corpus.snapshots"
    ).collect()
    assert snaps
    got_at = read_corpus(
        spark, "dss_it.db.corpus", fmt="iceberg",
        snapshot_id=int(snaps[0].snapshot_id),
    )
    assert got_at.count() == df.count()
