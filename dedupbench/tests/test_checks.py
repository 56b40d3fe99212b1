"""Output checks on a tiny hand-built case."""

import random

import numpy as np
import pandas as pd

from worker import Checker, simhash_ref, size_histogram

KEYS = pd.DataFrame({
    "repo": ["r"] * 4, "path": ["a", "b", "c", "d"], "commit": ["1"] * 4,
    "doc_id": [10, 20, 30, 40], "content_sha256": ["s1", "s2", "s3", "s4"],
})


_rng = random.Random(5)
_WORDS = [f"w{i}" for i in range(500)]
_BODY = " ".join(_rng.choice(_WORDS) for _ in range(200))
# a, b near-duplicates (one token changed), c unrelated, d contains c verbatim
CONTENTS = {
    10: _BODY,
    20: _BODY.replace(_BODY.split()[100], "changed", 1),
    30: " ".join(_rng.choice(_WORDS) for _ in range(120)),
}
CONTENTS[40] = (" ".join(_rng.choice(_WORDS) for _ in range(120)) + "\n"
                + CONTENTS[30])


def _checker(tmp_path, truth_rows, substring=True):
    cols = ["repo_a", "path_a", "commit_a", "repo_b", "path_b", "commit_b", "kind"]
    pd.DataFrame(truth_rows, columns=cols).to_parquet(tmp_path / "truth.parquet")
    return Checker(str(tmp_path), KEYS, CONTENTS, substring)


def _pairs(rows):
    return pd.DataFrame(rows, columns=["id_a", "id_b", "kind"])


def _assign(clusters, shas=("s1", "s2", "s3", "s4")):
    return pd.DataFrame({"doc_id": [10, 20, 30, 40], "content_sha256": list(shas),
                         "cluster_id": clusters})


def test_recall_counts_cluster_co_membership(tmp_path):
    c = _checker(tmp_path, [
        ("r", "a", "1", "r", "b", "1", "near_dup"),
        ("r", "a", "1", "r", "c", "1", "near_dup"),
        ("r", "c", "1", "r", "d", "1", "exact_substring"),
    ])
    # a, b together; c alone; d alone: one of two near-dup pairs recalled
    fails, recall, _ = c.check(_assign([10, 10, 30, 40]))
    assert recall == 0.5
    assert c.last_by_kind == {"near_dup": 0.5, "exact_substring": 0.0}
    assert any("recall" in f for f in fails)


def test_full_recall_passes_and_digests_must_repeat(tmp_path):
    c = _checker(tmp_path, [("r", "a", "1", "r", "b", "1", "near_dup")])
    fails, recall, _ = c.check(_assign([10, 10, 30, 30]))
    assert (fails, recall) == ([], 1.0)
    fails, _, _ = c.check(_assign([10, 10, 30, 40]))
    assert fails == ["partition digest differs from the first operation's"]


def test_lost_row_and_changed_sha_fail(tmp_path):
    c = _checker(tmp_path, [("r", "a", "1", "r", "b", "1", "near_dup")])
    fails, _, _ = c.check(_assign([10, 10, 30, 40], shas=("s1", "s2", "x", "s4")))
    assert "content_sha256 not preserved per row" in fails
    fails, _, _ = c.check(_assign([10, 10, 30, 40]).iloc[:3])
    assert "assignments do not cover every input row exactly once" in fails


def test_size_histogram():
    assert size_histogram([1, 1, 2, 3, 3, 3]) == [(1, 1), (2, 1), (3, 1)]


def test_emitted_pairs_must_pass_their_kind(tmp_path):
    c = _checker(tmp_path, [("r", "a", "1", "r", "b", "1", "near_dup")])
    good = _pairs([(10, 20, "near_dup"), (30, 40, "exact_substring")])
    fails, _, _ = c.check(_assign([10, 10, 30, 30]), good)
    assert fails == []
    c = _checker(tmp_path, [("r", "a", "1", "r", "b", "1", "near_dup")])
    bad = _pairs([(10, 20, "near_dup"), (10, 30, "near_dup"), (20, 40, "exact")])
    fails, _, _ = c.check(_assign([10, 10, 30, 40]), bad)
    assert fails == ["2 emitted pairs fail the exact check of their kind"]


def test_over_merged_cluster_fails(tmp_path):
    c = _checker(tmp_path, [("r", "a", "1", "r", "b", "1", "near_dup")])
    fails, recall, _ = c.check(_assign([10, 10, 10, 10]))
    assert recall == 1.0
    assert fails == ["1 clusters are not connected by verified pairs"]
    # containment links c and d only where the substring channel exists
    c = _checker(tmp_path, [("r", "a", "1", "r", "b", "1", "near_dup")], substring=False)
    fails, _, _ = c.check(_assign([10, 10, 30, 30]))
    assert fails == ["1 clusters are not connected by verified pairs"]


def test_simhash_ref_matches_the_sketch_kernel():
    from duplicatesuricate_spark.config import DEFAULT_CONFIG
    from duplicatesuricate_spark.functions.sketch import (
        _perm_constants, _sketch_segments, _tokenize_hash_np)

    docs = list(CONTENTS.values()) + ["", "one", "a b c d", "x " * 300]
    flat, lens = _tokenize_hash_np(pd.Series(docs))
    a, b = _perm_constants(DEFAULT_CONFIG)
    seg = _sketch_segments(flat, lens, DEFAULT_CONFIG, a, b, False)
    assert [simhash_ref(d) for d in docs] == [int(v) for v in seg["simhash"].astype(np.uint64)]
