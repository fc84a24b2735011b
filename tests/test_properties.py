"""Property-based tests (hypothesis) for the pure kernels — no Spark."""

import numpy as np
from hypothesis import given, settings, strategies as st

from duplicatesuricate_spark.config import DEFAULT_CONFIG
from duplicatesuricate_spark.functions.sketch import (
    _gram_hashes,
    _minhash_simhash_segments,
    _perm_constants,
)
from duplicatesuricate_spark.functions.text import shingles_py

_A, _B = _perm_constants(DEFAULT_CONFIG)

int64s = st.integers(min_value=-(2**63), max_value=2**63 - 1)


def _sketch(lists):
    """(minhash (num_perms, n) int32, simhash (n,)) of non-empty int64
    lists through the pipeline's segment kernel."""
    lens = np.array([len(x) for x in lists], dtype=np.int64)
    flat = np.array([v for x in lists for v in x], dtype=np.int64).view(np.uint64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return _minhash_simhash_segments(flat, starts, lens, _A, _B,
                                     DEFAULT_CONFIG.num_perms)


@settings(max_examples=25, deadline=None)
@given(st.lists(int64s, min_size=1, max_size=200))
def test_minhash_identical_input_identical_sketch(xs):
    mins, simhash = _sketch([xs, list(reversed(xs))])
    assert list(mins[:, 0]) == list(mins[:, 1])
    assert simhash[0] == simhash[1]


@settings(max_examples=15, deadline=None)
@given(
    st.lists(int64s, min_size=30, max_size=120, unique=True),
    st.lists(int64s, min_size=30, max_size=120, unique=True),
)
def test_minhash_estimate_within_statistical_bound(a, b):
    """|est - exact| <= 5 sigma for 128 perms (sigma <= 0.0442)."""
    sa, sb = set(a), set(b)
    exact = len(sa & sb) / len(sa | sb)
    mins, _ = _sketch([list(sa), list(sb)])
    est = float(np.mean(mins[:, 0] == mins[:, 1]))
    assert abs(est - exact) <= 5 * 0.0442 + 1e-9


@settings(max_examples=25, deadline=None)
@given(st.lists(st.lists(int64s, min_size=0, max_size=40), min_size=1, max_size=8))
def test_gram_hashes_respect_document_boundaries(docs):
    """Gram count per doc == max(len - k + 1, 0); no gram mixes docs."""
    k = 5
    lens = np.array([len(d) for d in docs], dtype=np.int64)
    flat = np.concatenate([np.array(d, dtype=np.int64) for d in docs]) if lens.sum() else np.array([], dtype=np.int64)
    grams, doc_idx = _gram_hashes(flat.view(np.uint64), lens, k)
    for d, doc in enumerate(docs):
        expect = max(len(doc) - k + 1, 0)
        assert int((doc_idx == d).sum()) == expect
        if expect > 0:
            # recompute doc-locally: must be identical (no cross-doc state)
            local_g, _ = _gram_hashes(
                np.array(doc, dtype=np.int64).view(np.uint64),
                np.array([len(doc)], dtype=np.int64), k,
            )
            assert np.array_equal(np.sort(local_g), np.sort(grams[doc_idx == d]))


@settings(max_examples=30, deadline=None)
@given(st.text(max_size=300))
def test_shingles_py_total_and_deterministic(text):
    s1 = shingles_py(text)
    s2 = shingles_py(text)
    assert s1 == s2 and len(s1) >= 1
