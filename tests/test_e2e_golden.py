"""Tier-3 golden-fixture tests (SURVEY.md §5.3, FIXTURES.md §2-3).

The oracle never trusts the engine: exact 5-gram-shingle Jaccard over all
pairs (pure Python) at the pinned threshold + union-find gives golden
pairs/assignments; the engine must recall >= 0.99 of golden pairs (via
cluster co-membership — the reference's pair semantics after its greedy
clustering's deterministic closure) and preserve content sha256 per row.

Every check runs against both entry points of the flagship: the in-memory
``dedup_pipeline`` and the checkpointed ``run_dedup_checkpointed``, which
must also agree with each other row for row.
"""

import hashlib
import itertools

import pytest

from duplicatesuricate_spark.config import DEFAULT_CONFIG as CFG
from duplicatesuricate_spark.functions.text import shingles_py
from duplicatesuricate_spark.operators.dedup import dedup_pipeline
from duplicatesuricate_spark.plans.resume import run_dedup_checkpointed
from duplicatesuricate_spark.sources.corpus import with_doc_identity
from duplicatesuricate_spark.sources.synth import synth_corpus

PAIR_COLS = ["id_a", "id_b", "jaccard", "hamming", "kind"]


def _run(spark, entry, corpus, tmp_path_factory):
    """(assignments, pairs) as pandas, sorted, from one entry point."""
    if entry == "dedup_pipeline":
        res = dedup_pipeline(corpus)
        assignments, pairs = res.assignments, res.pairs
    else:
        out = run_dedup_checkpointed(spark, corpus, str(tmp_path_factory.mktemp("ckpt")))
        assignments, pairs = out["assignments"], out["pairs"]
    return (
        assignments.toPandas().sort_values("doc_id").reset_index(drop=True),
        pairs.select(*PAIR_COLS).toPandas()
        .sort_values(["id_a", "id_b"]).reset_index(drop=True),
    )


@pytest.fixture(scope="module")
def fixture(spark, tmp_path_factory):
    pdf, truth = synth_corpus(n_rows=160, seed=42)
    corpus = with_doc_identity(spark.createDataFrame(pdf))
    runs = {
        entry: _run(spark, entry, corpus, tmp_path_factory)
        for entry in ("dedup_pipeline", "run_dedup_checkpointed")
    }
    key2id = corpus.selectExpr("repo", "path", "commit", "doc_id").toPandas()
    ids = key2id.set_index(["repo", "path", "commit"]).doc_id
    sh = {
        ids[(r.repo, r.path, r.commit)]: shingles_py(r.content)
        for r in pdf.itertuples()
    }
    return pdf, truth, runs, sh, ids, corpus


def _golden_pairs(sh):
    out = []
    for x, y in itertools.combinations(sh, 2):
        inter = len(sh[x] & sh[y])
        uni = len(sh[x] | sh[y])
        if uni and inter / uni >= CFG.jaccard_threshold:
            out.append((min(x, y), max(x, y)))
    return out


def test_dup_pair_recall_against_exact_oracle(fixture):
    pdf, truth, runs, sh, ids, _ = fixture
    golden = _golden_pairs(sh)
    assert golden, "fixture must plant golden pairs"
    for entry, (assignments, _) in runs.items():
        cl = assignments.set_index("doc_id").cluster_id
        recalled = sum(cl[a] == cl[b] for a, b in golden)
        assert recalled / len(golden) >= 0.99, (
            f"{entry}: recall {recalled}/{len(golden)}"
        )


def test_no_false_merges_below_half_jaccard(fixture):
    """Precision guard: no accepted near-dup pair with exact Jaccard < 0.5
    (the Hamming channel may legitimately accept slightly-below-threshold
    pairs, never wildly dissimilar ones)."""
    pdf, truth, runs, sh, ids, _ = fixture
    for entry, (_, pairs) in runs.items():
        nd = pairs[pairs["kind"] == "near_dup"]
        assert len(nd), entry
        for r in nd.itertuples():
            a, b = sh[r.id_a], sh[r.id_b]
            assert len(a & b) / len(a | b) >= 0.5, (entry, r.id_a, r.id_b)


def test_content_sha256_invariant_end_to_end(fixture):
    pdf, truth, runs, sh, ids, _ = fixture
    expected = {
        hashlib.sha256(r.content.encode()).hexdigest() for r in pdf.itertuples()
    }
    for entry, (assignments, _) in runs.items():
        assert set(assignments["content_sha256"]) == expected, entry
        assert len(assignments) == len(pdf), entry


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
    pdf, truth, runs, sh, ids, _ = fixture
    content = {ids[(r.repo, r.path, r.commit)]: r.content for r in pdf.itertuples()}
    truth = truth.assign(doc_id=[ids[(r.repo, r.path, r.commit)] for r in truth.itertuples()])
    sub_clusters = truth[truth["kind"] == "exact_substring"]["cluster"].unique()
    assert len(sub_clusters) > 0, "fixture must plant containments"
    in_scope = []
    for c in sub_clusters:
        grp = truth[truth["cluster"] == c]
        inner = grp[grp["kind"] == "base"]["doc_id"].item()
        for outer in grp[grp["kind"] == "exact_substring"]["doc_id"]:
            assert content[inner] in content[outer]
            if _anchored_chunks(content[inner]) >= CFG.substring_min_chunks:
                in_scope.append((inner, outer))
    assert in_scope, "fixture must plant in-scope containments"
    for entry, (assignments, _) in runs.items():
        cl = assignments.set_index("doc_id").cluster_id
        missed = [(i, o) for i, o in in_scope if cl[i] != cl[o]]
        assert not missed, (
            f"{entry}: {len(missed)}/{len(in_scope)} in-scope containments "
            "not co-clustered")


def test_deterministic_rerun(spark, fixture, tmp_path_factory):
    pdf, truth, runs, sh, ids, corpus = fixture
    for entry, (assignments, _) in runs.items():
        again, _ = _run(spark, entry, corpus, tmp_path_factory)
        assert assignments.equals(again), entry


def test_cluster_id_is_component_min(fixture):
    pdf, truth, runs, sh, ids, _ = fixture
    for entry, (assignments, _) in runs.items():
        grp = assignments.groupby("cluster_id")["doc_id"].min()
        assert (grp.index == grp.values).all(), entry


def test_checkpointed_outputs_identical_to_in_memory(fixture):
    """Both entry points run one stage sequence: same assignments, and the
    same pairs with the same channel, Jaccard and Hamming per pair."""
    pdf, truth, runs, sh, ids, _ = fixture
    (a_mem, p_mem), (a_ckpt, p_ckpt) = (
        runs["dedup_pipeline"], runs["run_dedup_checkpointed"])
    assert a_mem.equals(a_ckpt)
    assert set(p_mem["kind"]) >= {"near_dup", "exact_substring"}
    assert p_mem.equals(p_ckpt)
