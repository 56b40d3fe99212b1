"""Seeded input generator, one per workload.

    python3 dedupbench/gen.py --workload batch_skewed --seed 7 --out DIR

Writes the workload's corpus parquet file(s), ``truth.parquet`` (the
planted pairs the run must recall, on the natural key), ``keys.parquet``
(natural key -> the doc_id the engine must mint and the content's sha256,
both computed here without the engine) and ``manifest.json`` (row counts,
a content fingerprint, the truth-pair count).  It runs in its own process, before the system under test starts
and outside every timer.  The same seed gives byte-identical files.

Truth pairs are the planted near-duplicate pairs whose exact 5-gram
shingle Jaccard reaches the pipeline's acceptance threshold (the
reference semantics at the pinned config); ``pair_recall`` is gated on
them.  On ``batch_skewed`` the planted verbatim-containment pairs are
listed too, with kind ``exact_substring``, and reported beside it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import pandas as pd

from duplicatesuricate_spark.config import DEFAULT_CONFIG
from duplicatesuricate_spark.functions.text import shingles_py
from duplicatesuricate_spark.sources.synth import BOILERPLATE, _line, synth_corpus

KEY = ["repo", "path", "commit"]

# Sizes are fixed per workload; only the seed varies, so every seed costs
# the same work.  They are small because each run starts a fresh JVM with
# a pre-touched heap and a full benchmark pass has a fixed time budget
# (see README.md, "Sizes").
SIZES = {
    "batch_skewed": {"n_rows": 1000, "boilerplate_frac": 0.6},
    "incremental_delta": {"n_rows": 1000, "boilerplate_frac": 0.2},
}
DELTA_SHARE = 10  # incremental_delta: one row in DELTA_SHARE is new


def _long_header() -> str:
    """One fixed ~800-token license block, the same for every seed (real
    boilerplate does not change with the corpus).  It replaces the short
    synth header on ``batch_skewed``, so unrelated files share most of
    their shingles and their MinHash bands collide into hot buckets (more
    than ``hot_band_cap`` rows).  Mega buckets (over ``mega_band_cap`` =
    2048 rows) need more rows than this corpus has."""
    import random

    rng = random.Random(20240917)
    return "\n".join(_line(rng, 8) for _ in range(100))


HEADERS = {"batch_skewed": _long_header()}


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def truth_pairs(corpus: pd.DataFrame, truth: pd.DataFrame,
                substring: bool) -> pd.DataFrame:
    """Planted pairs the engine must put in one cluster, on the natural key."""
    labelled = corpus.merge(truth, on=KEY)
    out = []
    for _, grp in labelled.groupby("cluster"):
        if len(grp) < 2:
            continue
        rows = grp.to_dict("records")
        has_sub = any(r["kind"] == "exact_substring" for r in rows)
        sh = [shingles_py(r["content"]) for r in rows]
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                if has_sub:
                    if not substring:
                        continue
                    kind = "exact_substring"
                else:
                    inter = len(sh[i] & sh[j])
                    jac = inter / (len(sh[i]) + len(sh[j]) - inter)
                    if jac < DEFAULT_CONFIG.jaccard_threshold:
                        continue
                    kind = "near_dup"
                a, b = rows[i], rows[j]
                out.append({
                    "repo_a": a["repo"], "path_a": a["path"], "commit_a": a["commit"],
                    "repo_b": b["repo"], "path_b": b["path"], "commit_b": b["commit"],
                    "kind": kind,
                })
    return pd.DataFrame(out, columns=[
        "repo_a", "path_a", "commit_a", "repo_b", "path_b", "commit_b", "kind"])


_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5, _M = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5, (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (unsigned), the hash behind Spark's ``xxhash64``."""
    n, i = len(data), 0
    seed &= _M
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            v = [_round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
                 for j in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= data[i] * _P5 & _M
        h = _rotl(h, 11) * _P1 & _M
        i += 1
    h ^= h >> 33
    h = h * _P2 & _M
    h ^= h >> 29
    h = h * _P3 & _M
    return h ^ (h >> 32)


def doc_id(repo: str, path: str, commit: str) -> int:
    """``with_doc_identity``'s ``xxhash64(repo, path, commit)`` computed
    independently of the engine: Spark chains the columns, each hashed
    with the previous hash as seed, starting from seed 42."""
    h = 42
    for col in (repo, path, commit):
        h = xxh64(col.encode(), h)
    return h - (1 << 64) if h >> 63 else h


def fingerprint(corpus: pd.DataFrame) -> str:
    """Order-independent digest of (natural key, content)."""
    rows = sorted(
        "|".join(r) for r in corpus[KEY + ["content"]].itertuples(index=False)
    )
    return _sha("\n".join(rows))


def generate(workload: str, seed: int, out_dir: str) -> dict:
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}")
    os.makedirs(out_dir, exist_ok=True)
    corpus, truth = synth_corpus(seed=seed, **SIZES[workload])
    if workload in HEADERS:
        corpus["content"] = corpus["content"].str.replace(
            BOILERPLATE, HEADERS[workload], n=1, regex=False)
    corpus["content_sha256"] = corpus["content"].map(_sha)
    corpus["doc_id"] = [doc_id(*k) for k in corpus[KEY].itertuples(index=False)]
    pairs = truth_pairs(corpus, truth, substring=workload == "batch_skewed")
    files = {}
    cols = KEY + ["lang", "content"]
    if workload == "incremental_delta":
        # delta membership by a seeded hash of the natural key: planted
        # clusters straddle base and delta, so the merge has to link new
        # docs to clusters already in the state
        pick = corpus[KEY].apply(
            lambda r: int(_sha(f"{seed}|" + "|".join(r))[:8], 16) % DELTA_SHARE == 0,
            axis=1,
        )
        files["base"] = corpus[~pick]
        files["delta"] = corpus[pick]
    else:
        files["corpus"] = corpus
    for name, df in files.items():
        df[cols].to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    corpus[KEY + ["doc_id", "content_sha256"]].to_parquet(
        os.path.join(out_dir, "keys.parquet"), index=False)
    pairs.to_parquet(os.path.join(out_dir, "truth.parquet"), index=False)
    manifest = {
        "workload": workload,
        "seed": seed,
        "rows": {name: len(df) for name, df in files.items()},
        "fingerprint": fingerprint(corpus),
        "truth_pairs": len(pairs),
        "truth_kinds": pairs["kind"].value_counts().to_dict(),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(generate(args.workload, args.seed, args.out)))


if __name__ == "__main__":
    main()
