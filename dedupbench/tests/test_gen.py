"""Generator determinism: a seed fixes every byte of the inputs."""

import hashlib
import json
import os

import pytest

import gen


def _digest_dir(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_same_seed_same_bytes(tmp_path, workload):
    a = gen.generate(workload, 5, str(tmp_path / "a"))
    b = gen.generate(workload, 5, str(tmp_path / "b"))
    assert a == b
    assert _digest_dir(tmp_path / "a") == _digest_dir(tmp_path / "b")
    c = gen.generate(workload, 6, str(tmp_path / "c"))
    assert c["fingerprint"] != a["fingerprint"]
    # every seed costs the same work: row counts do not depend on the seed
    assert sum(c["rows"].values()) == sum(a["rows"].values())
    with open(tmp_path / "a" / "manifest.json") as f:
        assert json.load(f)["truth_pairs"] == a["truth_pairs"] > 0


def test_incremental_delta_is_about_a_tenth(tmp_path):
    m = gen.generate("incremental_delta", 3, str(tmp_path))
    share = m["rows"]["delta"] / (m["rows"]["delta"] + m["rows"]["base"])
    assert 0.05 < share < 0.15


def test_doc_id_matches_spark_xxhash64():
    # values read back from with_doc_identity on Spark 4.1
    rows = [("org1/repo1", "src/m0/file0.py", "a" * 40), ("é", "", "x" * 100),
            ("", "p", "c"), ("r" * 33, "p" * 65, "c" * 7)]
    assert [gen.doc_id(*r) for r in rows] == [
        1861780025526311004, -2061803406729595617, -7618566503685403474,
        8130410614819109147]
