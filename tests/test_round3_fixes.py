"""Round-3 fixes: zero-copy Arrow sketch kernel (VERDICT item 1), token
tail-window hash (ADVICE), state-universe fingerprint (ADVICE), id-collision
repair wiring (VERDICT item 4)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from duplicatesuricate_spark.config import DEFAULT_CONFIG
from duplicatesuricate_spark.functions.sketch import (
    _tokenize_hash_arrow,
    _tokenize_hash_np,
    tokenize_hash_py,
    with_full_sketches,
)
from duplicatesuricate_spark.sources.corpus import with_doc_identity


# ------------------------------------------ zero-copy Arrow tokenizer


def test_tokenize_arrow_matches_pandas_twin():
    samples = [
        "def foo(x):\n    return bar_2(x) + 1",
        "",
        "UPPER lower MiXeD_case 123abc",
        "   \n\t  ",
        "a",
        "x" * 200 + " short",
        "y" * 70 + "abc",
        "tok1 tok2\ntok3\ttok4....tok5",
    ]
    flat_np, lens_np = _tokenize_hash_np(pd.Series(samples))
    flat_ar, lens_ar = _tokenize_hash_arrow(pa.array(samples))
    assert (lens_np == lens_ar).all()
    assert (flat_np == flat_ar).all()
    # sliced array (non-zero Arrow offset) reads the right byte range
    f2, l2 = _tokenize_hash_arrow(pa.array(samples).slice(2, 4))
    s, e = int(lens_np[:2].sum()), int(lens_np[:6].sum())
    assert (l2 == lens_np[2:6]).all() and (f2 == flat_np[s:e]).all()
    # nulls count as empty docs
    fn_, ln_ = _tokenize_hash_arrow(pa.array(["abc def", None, "ghi"]))
    assert list(ln_) == [2, 0, 1]
    # oracle parity end-to-end
    pos = 0
    for i, smp in enumerate(samples):
        got = [int(x) for x in flat_ar[pos:pos + lens_ar[i]]]
        pos += lens_ar[i]
        assert got == tokenize_hash_py(smp), f"doc {i}"


def test_long_token_tail_window_breaks_prefix_collisions():
    """Round-2 advice: two long tokens sharing a 64-char prefix, length and
    final char must NOT collide (minified identifiers, base64 blobs)."""
    a = tokenize_hash_py("p" * 64 + "AAAAAAAAAAA" + "z")
    b = tokenize_hash_py("p" * 64 + "BBBBBBBBBBB" + "z")
    assert a != b


def test_map_in_arrow_project_prunes_worker_input(spark):
    """With project, neither the worker input nor the output carries the
    content column (content bytes cross the socket once, not twice)."""
    docs = spark.createDataFrame(
        [(1, "r", "some content words here")],
        "doc_id long, repo string, content string",
    )
    out = with_full_sketches(docs, cfg=DEFAULT_CONFIG, project=["doc_id"])
    assert set(out.columns) == {"doc_id", "shingles", "minhash", "simhash"}
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the MapInArrow node's input expressions are pruned to (doc_id,
    # content) — repo never crosses into the Python worker
    import re

    fn_args = re.search(r"MapInArrow fn\(([^)]*)\)", plan).group(1)
    assert "doc_id" in fn_args and "content" in fn_args
    assert "repo" not in fn_args


# ------------------------------- sketch-universe fingerprint (ADVICE med)


def test_incremental_rejects_mismatched_sketch_universe(spark, tmp_path):
    from duplicatesuricate_spark.streaming.incremental import incremental_dedup

    corpus = with_doc_identity(spark.createDataFrame(
        [("r", "a.py", "c1", "python", "def one(): return 1")],
        "repo string, path string, commit string, lang string, content string",
    ))
    state = str(tmp_path / "state")
    incremental_dedup(spark, corpus, state)
    # same config resumes fine
    incremental_dedup(spark, corpus, state)
    # different seed = different hash universe -> fail fast, not ~0 Jaccard
    with pytest.raises(ValueError, match="universe"):
        incremental_dedup(spark, corpus, state,
                          cfg=DEFAULT_CONFIG.with_(seed=1))
    with pytest.raises(ValueError, match="universe"):
        incremental_dedup(spark, corpus, state,
                          cfg=DEFAULT_CONFIG.with_(kernel_tokenize=False))


# --------------------------- doc_id collision repair wiring (VERDICT 4)


def test_pipeline_repairs_doc_id_collisions_e2e(spark):
    """Two unrelated docs forced onto one doc_id must NOT merge into one
    graph node when the natural key is available (default-on repair)."""
    from duplicatesuricate_spark.operators.dedup import dedup_pipeline

    rows = [
        # forced collision: same doc_id, different natural keys + contents
        (7, "r1", "a.py", "c1", "python",
         "def alpha(x):\n    return x + 1\n" * 5, None),
        (7, "r2", "b.py", "c2", "python",
         "class Beta:\n    def run(self):\n        pass\n" * 5, None),
        (99, "r3", "c.py", "c3", "python",
         "import os\nprint(os.getcwd())\n" * 5, None),
    ]
    df = spark.createDataFrame(
        [(d, r, p, c, l, t) for d, r, p, c, l, t, _ in rows],
        "doc_id long, repo string, path string, commit string, "
        "lang string, content string",
    ).withColumn("content_sha256", F.sha2(F.col("content"), 256))
    res = dedup_pipeline(df, include_substring_pass=False)
    ap = res.assignments.toPandas()
    assert ap["doc_id"].nunique() == 3, "collision not re-minted"
    assert ap["cluster_id"].nunique() == 3, "unrelated docs merged"
    # with repair off, the collision silently merges (documented hazard)
    res2 = dedup_pipeline(
        df, cfg=DEFAULT_CONFIG.with_(repair_id_collisions=False),
        include_substring_pass=False,
    )
    assert res2.assignments.toPandas()["doc_id"].nunique() == 2
