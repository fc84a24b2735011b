"""Tier-3 golden-fixture tests (SURVEY.md §5.3, FIXTURES.md §2-3).

The oracle never trusts the engine: exact 5-gram-shingle Jaccard over all
pairs (pure Python) at the pinned threshold + union-find gives golden
pairs/assignments; the engine must recall >= 0.99 of golden pairs (via
cluster co-membership — the reference's pair semantics after its greedy
clustering's deterministic closure) and preserve content sha256 per row.
"""

import hashlib
import itertools

import pytest

from duplicatesuricate_spark.config import DEFAULT_CONFIG as CFG
from duplicatesuricate_spark.functions.text import shingles_py
from duplicatesuricate_spark.operators.dedup import dedup_pipeline
from duplicatesuricate_spark.sources.corpus import with_doc_identity
from duplicatesuricate_spark.sources.synth import synth_corpus


@pytest.fixture(scope="module")
def fixture(spark):
    pdf, truth = synth_corpus(n_rows=160, seed=42)
    corpus = with_doc_identity(spark.createDataFrame(pdf))
    res = dedup_pipeline(corpus)
    assignments = res.assignments.toPandas()
    pairs = res.pairs.toPandas()
    key2id = corpus.selectExpr("repo", "path", "commit", "doc_id").toPandas()
    ids = key2id.set_index(["repo", "path", "commit"]).doc_id
    sh = {
        ids[(r.repo, r.path, r.commit)]: shingles_py(r.content)
        for r in pdf.itertuples()
    }
    return pdf, truth, assignments, pairs, sh, ids


def _golden_pairs(sh):
    out = []
    for x, y in itertools.combinations(sh, 2):
        inter = len(sh[x] & sh[y])
        uni = len(sh[x] | sh[y])
        if uni and inter / uni >= CFG.jaccard_threshold:
            out.append((min(x, y), max(x, y)))
    return out


def test_dup_pair_recall_against_exact_oracle(fixture):
    pdf, truth, assignments, pairs, sh, ids = fixture
    golden = _golden_pairs(sh)
    assert golden, "fixture must plant golden pairs"
    cl = assignments.set_index("doc_id").cluster_id
    recalled = sum(cl[a] == cl[b] for a, b in golden)
    assert recalled / len(golden) >= 0.99, (
        f"recall {recalled}/{len(golden)}"
    )


def test_no_false_merges_below_half_jaccard(fixture):
    """Precision guard: no accepted near-dup pair with exact Jaccard < 0.5
    (the Hamming channel may legitimately accept slightly-below-threshold
    pairs, never wildly dissimilar ones)."""
    pdf, truth, assignments, pairs, sh, ids = fixture
    nd = pairs[pairs["kind"] == "near_dup"]
    for r in nd.itertuples():
        a, b = sh[r.id_a], sh[r.id_b]
        assert len(a & b) / len(a | b) >= 0.5


def test_content_sha256_invariant_end_to_end(fixture):
    pdf, truth, assignments, pairs, sh, ids = fixture
    expected = {
        hashlib.sha256(r.content.encode()).hexdigest() for r in pdf.itertuples()
    }
    assert set(assignments["content_sha256"]) == expected
    assert len(assignments) == len(pdf)


def _anchored_chunks(content: str) -> int:
    """Distinct anchored chunks the fused sketch kernel derives from one
    document: the substring channel pairs only documents sharing at least
    ``substring_min_chunks`` of them."""
    import pyarrow as pa

    from duplicatesuricate_spark.functions import sketch as sk

    a, b = sk._perm_constants(CFG)
    flat, lens = sk._tokenize_hash_arrow(pa.array([content], type=pa.string()))
    return int(sk._sketch_segments(flat, lens, CFG, a, b, True)["ch_lens"][0])


def test_exact_substring_pairs_recalled(fixture):
    """Every planted containment whose smaller (contained) document has at
    least ``substring_min_chunks`` anchored chunks — the scope the substring
    channel states — must land in one cluster with its container."""
    pdf, truth, assignments, pairs, sh, ids = fixture
    cl = assignments.set_index("doc_id").cluster_id
    content = {ids[(r.repo, r.path, r.commit)]: r.content for r in pdf.itertuples()}
    truth = truth.assign(doc_id=[ids[(r.repo, r.path, r.commit)] for r in truth.itertuples()])
    sub_clusters = truth[truth["kind"] == "exact_substring"]["cluster"].unique()
    assert len(sub_clusters) > 0, "fixture must plant containments"
    in_scope, missed = 0, []
    for c in sub_clusters:
        grp = truth[truth["cluster"] == c]
        inner = grp[grp["kind"] == "base"]["doc_id"].item()
        for outer in grp[grp["kind"] == "exact_substring"]["doc_id"]:
            assert content[inner] in content[outer]
            if _anchored_chunks(content[inner]) < CFG.substring_min_chunks:
                continue
            in_scope += 1
            if cl[inner] != cl[outer]:
                missed.append((inner, outer))
    assert in_scope > 0, "fixture must plant in-scope containments"
    assert not missed, f"{len(missed)}/{in_scope} in-scope containments not co-clustered"


def test_deterministic_rerun(spark, fixture):
    pdf, truth, assignments, pairs, sh, ids = fixture
    corpus = with_doc_identity(spark.createDataFrame(pdf))
    again = dedup_pipeline(corpus).assignments.toPandas()
    a = assignments.sort_values("doc_id").reset_index(drop=True)
    b = again.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_cluster_id_is_component_min(fixture):
    pdf, truth, assignments, pairs, sh, ids = fixture
    grp = assignments.groupby("cluster_id")["doc_id"].min()
    assert (grp.index == grp.values).all()
