"""Tier-1 kernel tests: pure functions, no Spark session.

Pins the sketch arithmetic (numpy segment kernel == bigint oracle), the
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
    """Per-list (minhash, simhash) from the kernel's segment reducer, each
    list one segment of the flat shingle array (lists must be non-empty)."""
    lens = np.array([len(lst) for lst in shingle_lists], dtype=np.int64)
    flat = np.array([x for lst in shingle_lists for x in lst],
                    dtype=np.int64).view(np.uint64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    mins, sim = _minhash_simhash_segments(
        flat, starts, lens, _A, _B, DEFAULT_CONFIG.num_perms
    )
    return [list(m) for m in mins.T], [int(x) for x in sim]


def test_numpy_kernel_matches_bigint_oracle():
    rng = random.Random(7)
    lists = [
        [rng.randint(-(2**63), 2**63 - 1) for _ in range(rng.randint(1, 50))]
        for _ in range(20)
    ]
    mhs, shs = _batch(lists)
    for i, lst in enumerate(lists):
        mh, sh = minhash_simhash_py(lst)
        assert mhs[i] == mh, f"minhash mismatch row {i}"
        assert shs[i] == sh, f"simhash mismatch row {i}"
    # an empty doc still sketches: the short-doc fallback gives it one
    # shingle, and its sketch matches the oracle on that shingle
    seg = _sketch_segments(np.empty(0, dtype=np.uint64), np.zeros(1, dtype=np.int64),
                           DEFAULT_CONFIG, _A, _B, False)
    assert list(seg["sh_lens"]) == [1]
    mh, sh = minhash_simhash_py([int(x) for x in seg["sh_vals"].view(np.int64)])
    assert list(seg["mins"][:, 0]) == mh
    assert int(seg["simhash"][0]) == sh


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
    mhs, shs = _batch([s, list(reversed(s))])
    assert mhs[0] == mhs[1]
    assert shs[0] == shs[1]


def test_simhash_hamming_tracks_overlap():
    """More shared shingles => smaller Hamming distance (on average)."""
    rng = random.Random(99)
    base = [rng.getrandbits(63) for _ in range(200)]

    def ham_for(replace_n: int) -> float:
        vals = []
        for _ in range(5):
            other = base[:-replace_n] + [rng.getrandbits(63) for _ in range(replace_n)]
            _, (s0, s1) = _batch([base, other])
            x = s0 ^ s1
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
