"""Tier-2/3 tests: checkpoint resume (kill + rerun byte-identical, stages
skipped), incremental merge equivalence, multimodal plumbing."""

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from duplicatesuricate_spark.operators.dedup import dedup_pipeline
from duplicatesuricate_spark.plans.resume import run_dedup_checkpointed
from duplicatesuricate_spark.sources.corpus import with_doc_identity
from duplicatesuricate_spark.sources.synth import synth_corpus
from duplicatesuricate_spark.streaming.incremental import incremental_dedup


@pytest.fixture(scope="module")
def corpus(spark):
    pdf, _ = synth_corpus(n_rows=80, seed=21)
    return with_doc_identity(spark.createDataFrame(pdf)).persist()


def _assign_pdf(df):
    return (
        df.select("doc_id", "content_sha256", "cluster_id")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def _pairs_pdf(df):
    return (
        df.select("id_a", "id_b", "jaccard", "hamming", "kind")
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )


def test_checkpointed_run_matches_in_memory_pipeline(spark, corpus, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("ckpt_a"))
    out = run_dedup_checkpointed(spark, corpus, wd)
    res = dedup_pipeline(corpus)
    assert _assign_pdf(out["assignments"]).equals(_assign_pdf(res.assignments))
    assert _pairs_pdf(out["pairs"]).equals(_pairs_pdf(res.pairs))
    # metrics exist for every executed stage, with per-partition rows
    m = out["metrics"].toPandas()
    assert set(m["stage"]) >= {"sketches", "candidates", "assignments"}
    assert (m["rows_out"] >= 0).all() and m["wall_ms"].notna().all()


def test_checkpointed_matches_in_memory_with_substring_pairs(spark, tmp_path_factory):
    """A corpus whose substring channel pairs several containments: the
    checkpointed run chunks, verifies and scores exactly as the in-memory
    run does."""
    pdf, _ = synth_corpus(n_rows=400, seed=7)
    corpus = with_doc_identity(spark.createDataFrame(pdf))
    out = run_dedup_checkpointed(spark, corpus, str(tmp_path_factory.mktemp("ckpt_s")))
    res = dedup_pipeline(corpus)
    mem = _pairs_pdf(res.pairs)
    assert (mem["kind"] == "exact_substring").sum() >= 5
    assert _pairs_pdf(out["pairs"]).equals(mem)
    assert _assign_pdf(out["assignments"]).equals(_assign_pdf(res.assignments))
    res.unpersist()


def test_kill_and_resume_is_byte_identical_and_skips(spark, corpus, tmp_path_factory):
    wd = Path(str(tmp_path_factory.mktemp("ckpt_b")))
    first = run_dedup_checkpointed(spark, corpus, str(wd))
    stages = first["_runner"].executed
    assert len(stages) == 10
    golden = _assign_pdf(first["assignments"])
    golden_pairs = _pairs_pdf(first["pairs"])

    # simulate a kill at every stage boundary: the stage in flight lost its
    # _SUCCESS marker mid-write, the stages after it never started
    for k, stage in enumerate(stages):
        (wd / stage / "_SUCCESS").unlink()
        for later in stages[k + 1:]:
            shutil.rmtree(wd / later)
        again = run_dedup_checkpointed(spark, corpus, str(wd))
        r = again["_runner"]
        assert r.skipped == stages[:k] and r.executed == stages[k:], stage
        assert _assign_pdf(again["assignments"]).equals(golden), stage
        assert _pairs_pdf(again["pairs"]).equals(golden_pairs), stage

    # full rerun over a complete work dir: everything skipped
    third = run_dedup_checkpointed(spark, corpus, str(wd))
    assert third["_runner"].executed == []
    assert _assign_pdf(third["assignments"]).equals(golden)


def test_incremental_two_batches_equals_one_batch(spark, tmp_path_factory):
    pdf, _ = synth_corpus(n_rows=60, seed=33)
    full = with_doc_identity(spark.createDataFrame(pdf))
    batch1 = with_doc_identity(spark.createDataFrame(pdf.iloc[:35]))
    batch2 = with_doc_identity(spark.createDataFrame(pdf.iloc[35:]))

    sd = str(tmp_path_factory.mktemp("state"))
    incremental_dedup(spark, batch1.select("doc_id", "content_sha256", "content"), sd)
    inc = incremental_dedup(
        spark, batch2.select("doc_id", "content_sha256", "content"), sd
    )
    ref = dedup_pipeline(full, include_substring_pass=False).assignments

    got = _assign_pdf(inc)
    want = _assign_pdf(ref)
    # cluster PARTITIONS must agree (labels are component mins — identical
    # here since both use min(doc_id))
    assert got.equals(want)


def test_incremental_skips_already_processed_docs(spark, tmp_path_factory):
    pdf, _ = synth_corpus(n_rows=30, seed=5)
    b = with_doc_identity(spark.createDataFrame(pdf)).select(
        "doc_id", "content_sha256", "content"
    )
    sd = str(tmp_path_factory.mktemp("state2"))
    a1 = incremental_dedup(spark, b, sd).toPandas()
    a2 = incremental_dedup(spark, b, sd).toPandas()  # same batch again
    assert len(a1) == len(a2) == 30


# ------------------------------------------------------------- multimodal


def test_multimodal_feature_extraction(spark):
    from duplicatesuricate_spark.operators.multimodal import (
        synth_media, extract_features, frame_sample_plan, FEATURE_DIM,
        real_decode,
    )

    media = synth_media(spark, n=12)
    feats = extract_features(media).collect()
    assert len(feats) == 12
    for r in feats:
        assert len(r.feature) == FEATURE_DIM
        assert len(r.payload_sha256) == 64
    # deterministic across runs
    again = extract_features(media).collect()
    assert {r.media_id: r.feature for r in feats} == {
        r.media_id: r.feature for r in again
    }
    plan = frame_sample_plan(media, every_n=50).collect()
    assert all(r.frame_index % 50 == 0 for r in plan)
    import numpy as np
    import pytest as _pt
    with _pt.raises(NotImplementedError):
        real_decode(b"xx", "image")
