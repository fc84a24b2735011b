"""Tier-1 kernel tests: pure functions, no Spark session.

Pins the sketch arithmetic (the pipeline's numpy segment kernel == bigint
oracle, empty documents included), the
MinHash estimator's statistical contract, and shingle determinism.
"""

import random

import numpy as np
import pytest

from duplicatesuricate_spark.config import DedupConfig, DEFAULT_CONFIG
from duplicatesuricate_spark.functions.sketch import (
    _minhash_simhash_segments,
    _perm_constants,
    _sketch_segments,
    minhash_simhash_py,
)
from duplicatesuricate_spark.functions.text import shingles_py

_A, _B = _perm_constants(DEFAULT_CONFIG)


def _batch(shingle_lists):
    """Sketch non-empty shingle lists with the pipeline's segment kernel;
    -> (minhash row per list, simhash per list)."""
    lens = np.array([len(x) for x in shingle_lists], dtype=np.int64)
    flat = np.array([v for x in shingle_lists for v in x], dtype=np.int64).view(np.uint64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    mins, simhash = _minhash_simhash_segments(
        flat, starts, lens, _A, _B, DEFAULT_CONFIG.num_perms)
    return [list(map(int, m)) for m in mins.T], [int(h) for h in simhash]


def test_numpy_kernel_matches_bigint_oracle():
    rng = random.Random(7)
    lists = [
        [rng.randint(-(2**63), 2**63 - 1) for _ in range(rng.randint(1, 50))]
        for _ in range(20)
    ]
    minhash, simhash = _batch(lists)
    for i, lst in enumerate(lists):
        mh, sh = minhash_simhash_py(lst)
        assert minhash[i] == mh, f"minhash mismatch row {i}"
        assert simhash[i] == sh, f"simhash mismatch row {i}"


def test_empty_document_gets_sentinel_shingle():
    """An empty document between two others gets one sentinel gram (hash
    0): its sketch is the oracle's empty-set sketch and its neighbours'
    segments stay aligned."""
    docs = [list(range(1, 9)), [], [11, 12, 13]]
    lens = np.array([len(d) for d in docs], dtype=np.int64)
    flat = np.array([t for d in docs for t in d], dtype=np.uint64)
    seg = _sketch_segments(flat, lens, DEFAULT_CONFIG, _A, _B, False)
    assert list(seg["sh_lens"]) == [4, 1, 1]
    cuts = np.cumsum(seg["sh_lens"])[:-1]
    shingles = np.split(seg["sh_vals"].view(np.int64), cuts)
    assert list(shingles[1]) == [0]
    for i, sh in enumerate(shingles):
        mh, sim = minhash_simhash_py([int(x) for x in sh])
        assert list(map(int, seg["mins"][:, i])) == mh, i
        assert int(seg["simhash"][i]) == sim, i


def test_minhash_estimates_jaccard():
    """|estimate - exact| small on random overlapping sets (128 perms =>
    std <= 0.045; 4 sigma bound with fixed seed)."""
    rng = random.Random(13)
    for _ in range(10):
        universe = [rng.getrandbits(63) for _ in range(400)]
        a = set(rng.sample(universe, 250))
        b = set(rng.sample(universe, 250))
        exact = len(a & b) / len(a | b)
        (ma, mb), _ = _batch([list(a), list(b)])
        est = float(np.mean(np.array(ma) == np.array(mb)))
        assert abs(est - exact) < 0.18


def test_identical_sets_estimate_one():
    s = [random.Random(1).getrandbits(63) for _ in range(30)]
    (m0, m1), (h0, h1) = _batch([s, list(reversed(s))])
    assert m0 == m1
    assert h0 == h1


def test_simhash_hamming_tracks_overlap():
    """More shared shingles => smaller Hamming distance (on average)."""
    rng = random.Random(99)
    base = [rng.getrandbits(63) for _ in range(200)]

    def ham_for(replace_n: int) -> float:
        vals = []
        for _ in range(5):
            other = base[:-replace_n] + [rng.getrandbits(63) for _ in range(replace_n)]
            _, (h0, h1) = _batch([base, other])
            x = h0 ^ h1
            vals.append(bin(x & (2**64 - 1)).count("1"))
        return sum(vals) / len(vals)

    assert ham_for(5) < ham_for(100)


def test_shingles_py_deterministic_and_windowed():
    text = "def foo(a, b):\n    return a + b\n"
    s1 = shingles_py(text)
    s2 = shingles_py(text)
    assert s1 == s2
    # k=5 over 8 tokens -> 4 shingles
    toks = ["def", "foo", "a", "b", "return", "a", "b"]  # 'a + b' -> a, b
    assert all(len(t) == 5 for t in s1)
    assert shingles_py("one two") == {("one", "two")}  # short doc: one shingle
    assert shingles_py("") == {()}


def test_config_validation():
    with pytest.raises(ValueError):
        DedupConfig(bands=10, rows_per_band=8)  # 80 != 128
    c = DedupConfig()
    assert c.bands * c.rows_per_band == c.num_perms
