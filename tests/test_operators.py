"""Tier-2 operator tests: each pipeline stage on small inputs, local Spark."""

import random

import pytest
from pyspark.sql import functions as F

from duplicatesuricate_spark.config import DedupConfig, DEFAULT_CONFIG
from duplicatesuricate_spark.functions.text import with_shingles, shingles_py
from duplicatesuricate_spark.functions.sketch import minhash_simhash_py, with_full_sketches
from duplicatesuricate_spark.functions.kernels import (
    exact_score,
    fuzzy_score,
    token_score,
    acronym_expr,
)
from duplicatesuricate_spark.operators.lsh import (
    band_explode,
    candidate_pairs,
    simhash_block_explode,
)
from duplicatesuricate_spark.operators.score import score_and_verify
from duplicatesuricate_spark.operators.components import (
    connected_components,
    assignments_with_singletons,
)
from duplicatesuricate_spark.operators.substring import exact_substring_pairs


# ---------------------------------------------------------------- kernels


def test_exact_score_semantics(spark):
    df = spark.createDataFrame(
        [("a", "a"), ("a", "b"), (None, "a"), ("a", None), (None, None)],
        "x string, y string",
    )
    got = [r[0] for r in df.select(exact_score("x", "y")).collect()]
    assert got == [1.0, -1.0, 0.0, 0.0, 0.0]


def test_fuzzy_and_token_scores_range_and_null(spark):
    df = spark.createDataFrame(
        [("hello world", "hello world"), ("hello world", "goodbye moon"),
         (None, "x"), ("abc corp ltd", "abc corporation ltd")],
        "x string, y string",
    )
    rows = df.select(
        fuzzy_score("x", "y").alias("f"), token_score("x", "y").alias("t")
    ).collect()
    for r in rows:
        assert -1.0 <= r["f"] <= 1.0 and -1.0 <= r["t"] <= 1.0
    assert rows[0]["f"] == 1.0 and rows[0]["t"] == 1.0   # identical
    assert rows[2]["f"] == 0.0 and rows[2]["t"] == 0.0   # null => 0


def test_acronym_expr(spark):
    df = spark.createDataFrame([("international business machines",)], "s string")
    assert df.select(acronym_expr("s")).collect()[0][0] == "ibm"


# ------------------------------------------------------------ shingle/sketch


def test_spark_shingles_match_python_oracle_counts(spark):
    texts = ["def foo(a, b): return a + b", "x", "", "one two three four five six"]
    df = spark.createDataFrame([(t,) for t in texts], "content string")
    got = with_shingles(df).select(F.size("shingles")).collect()
    for t, r in zip(texts, got):
        assert r[0] == len(shingles_py(t))


def test_sketch_udf_matches_python_oracle(spark):
    """Every sketch the Arrow kernel returns through Spark is the bigint
    oracle's sketch of the shingle set it returns beside it."""
    rng = random.Random(3)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    texts = [" ".join(rng.choice(words) for _ in range(rng.randint(0, 30)))
             for _ in range(8)]
    df = spark.createDataFrame([(t,) for t in texts], "content string")
    rows = with_full_sketches(df).select("shingles", "minhash", "simhash").collect()
    assert len(rows) == len(texts)
    for r in rows:
        mh, sh = minhash_simhash_py(list(r["shingles"]))
        assert list(r["minhash"]) == mh
        assert r["simhash"] == sh


# ------------------------------------------------------------------- LSH


def _sketch_df(spark, docs):
    return with_full_sketches(spark.createDataFrame(docs, "doc_id long, content string"))


def test_band_explode_shape(spark):
    sk = _sketch_df(spark, [(1, "a b c d e f g"), (2, "h i j k l m n")])
    b = band_explode(sk)
    assert b.count() == 2 * DEFAULT_CONFIG.bands
    assert b.columns == ["doc_id", "band_hash"]
    # band index is mixed into the hash: each doc's 16 band keys distinct
    assert b.select("band_hash").distinct().count() == 2 * DEFAULT_CONFIG.bands


def test_identical_docs_share_all_bands_and_pair(spark):
    sk = _sketch_df(spark, [(1, "the same exact text here okay then"),
                            (2, "the same exact text here okay then"),
                            (3, "completely different words appear in this one")])
    pairs = candidate_pairs(band_explode(sk)).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_simhash_block_channel_catches_small_hamming(spark):
    """Pairs with hamming <= 2 MUST appear (block-pair pigeonhole: >= 2
    clean blocks -> >= 1 clean block pair)."""
    sk = _sketch_df(spark, [(1, "alpha beta gamma delta epsilon zeta eta theta " * 5),
                            (2, "alpha beta gamma delta epsilon zeta eta theta " * 5)])
    rows = sk.select("simhash").collect()
    assert rows[0][0] == rows[1][0]  # identical -> hamming 0
    pairs = candidate_pairs(simhash_block_explode(sk)).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_hot_bucket_star_preserves_connectivity(spark):
    """A bucket over the hot cap emits O(m) star edges that still connect
    every member into one component."""
    cfg = DedupConfig(hot_band_cap=4)
    n = 20
    docs = [(i, "identical content for everyone in this hot bucket row") for i in range(n)]
    sk = _sketch_df(spark, docs)
    pairs = candidate_pairs(band_explode(sk, cfg), cfg)
    n_pairs = pairs.count()
    assert n_pairs < n * (n - 1) / 2          # not quadratic
    comps = connected_components(pairs).toPandas()
    assert comps["cluster_id"].nunique() == 1  # still one component
    assert len(comps) == n


# ------------------------------------------------------------------ scoring


def test_score_and_verify_exact_match_is_one(spark):
    sk = _sketch_df(spark, [(1, "w x y z a b c d e f"), (2, "w x y z a b c d e f")])
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r = score_and_verify(pairs, sk).collect()[0]
    assert r["jaccard"] == 1.0 and r["hamming"] == 0


def test_score_and_verify_exact_verification(spark):
    """Acceptance decisions are made on EXACT Jaccard, so a pair whose
    estimate is inflated but true Jaccard is low must be rejected."""
    docs = [(1, " ".join(f"tok{i}" for i in range(40))),
            (2, " ".join(f"tok{i}" for i in range(20)) + " " +
                " ".join(f"other{i}" for i in range(20)))]
    sk = _sketch_df(spark, docs)
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = score_and_verify(pairs, sk).collect()
    assert out == []  # true jaccard ~ 0.3 << 0.85 and hamming large


# ---------------------------------------------------------------------- CC


def _union_find_oracle(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n)}


@pytest.mark.parametrize("seed,n,m", [(1, 30, 25), (2, 50, 60), (3, 80, 40)])
@pytest.mark.parametrize("driver_threshold", [2_000_000, 0])
def test_connected_components_matches_union_find(spark, seed, n, m, driver_threshold):
    """driver_threshold=0 forces the distributed large-star/small-star
    loop; the default exercises the driver union-find fast path.  Both
    must emit identical component-min labels."""
    rng = random.Random(seed)
    edges = list({tuple(sorted(rng.sample(range(n), 2))) for _ in range(m)})
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id
           for r in connected_components(pairs, driver_threshold=driver_threshold).collect()}
    oracle = _union_find_oracle(n, edges)
    touched = {x for e in edges for x in e}
    for node in touched:
        assert got[node] == oracle[node], f"node {node}"


def test_assignments_with_singletons(spark):
    corpus = spark.createDataFrame(
        [(1, "s1"), (2, "s2"), (3, "s3")], "doc_id long, content_sha256 string"
    )
    comps = spark.createDataFrame([(2, 1), (1, 1)], "doc_id long, cluster_id long")
    got = {r.doc_id: r.cluster_id
           for r in assignments_with_singletons(corpus, comps).collect()}
    assert got == {1: 1, 2: 1, 3: 3}


# ------------------------------------------------------------ substring pass


def test_substring_pass_finds_planted_containment(spark):
    rng = random.Random(5)
    words = lambda n: " ".join(f"w{rng.randint(0, 5000)}" for _ in range(n))  # noqa: E731
    inner = words(120)
    docs = [
        (1, inner),
        (2, words(80) + " " + inner + " " + words(80)),   # contains doc 1
        (3, words(200)),                                   # unrelated
    ]
    df = spark.createDataFrame(docs, "doc_id long, content string")
    got = {(r.id_a, r.id_b) for r in exact_substring_pairs(df).collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_substring_pass_rejects_near_miss(spark):
    """Shared chunks but NOT contiguous containment -> exact verify kills it."""
    rng = random.Random(6)
    words = lambda n: " ".join(f"q{rng.randint(0, 5000)}" for _ in range(n))  # noqa: E731
    a_part1, a_part2 = words(100), words(100)
    docs = [
        (1, a_part1 + " " + a_part2),
        # same two halves but REVERSED with junk between: chunks match,
        # contiguous containment fails
        (2, a_part2 + " " + words(30) + " " + a_part1),
    ]
    df = spark.createDataFrame(docs, "doc_id long, content string")
    got = {(r.id_a, r.id_b) for r in exact_substring_pairs(df).collect()}
    assert (1, 2) not in got
