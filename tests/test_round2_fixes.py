"""Round-2 fix coverage: Iceberg guard, doc_id collision repair,
incremental/batch sketch parity, embedding near-dup skew + connectivity,
ANN LSH recall vs brute force, SparkML RF accuracy round-trip."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from duplicatesuricate_spark.operators.components import connected_components
from duplicatesuricate_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_topk,
)
from duplicatesuricate_spark.sources.corpus import (
    resolve_id_collisions,
    with_doc_identity,
)
from duplicatesuricate_spark.sources.sinks import (
    IcebergUnavailableError,
    write_iceberg,
)


# ------------------------------------------------------------ iceberg guard


def test_iceberg_read_raises_actionable_error(spark):
    from duplicatesuricate_spark.sources.corpus import read_corpus

    with pytest.raises(IcebergUnavailableError, match="iceberg-spark-runtime"):
        read_corpus(spark, "cat.db.tbl", fmt="iceberg")


def test_iceberg_write_raises_actionable_error(spark):
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(IcebergUnavailableError, match="catalog"):
        write_iceberg(df, "cat.db.tbl")


# ------------------------------------------------------- doc_id collisions


def test_resolve_id_collisions_repairs_deterministically(spark):
    rows = [
        # planted collision: two DIFFERENT natural keys, same doc_id
        ("r1", "a.py", "c1", 42),
        ("r2", "b.py", "c2", 42),
        ("r3", "c.py", "c3", 7),     # untouched
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, doc_id long"
    )
    fixed = resolve_id_collisions(df).toPandas().sort_values("path")
    assert fixed["doc_id"].nunique() == 3
    # natural-key order: (r1, a.py) keeps the original id, (r2, b.py) remints
    assert fixed[fixed.path == "a.py"].doc_id.iloc[0] == 42
    assert fixed[fixed.path == "b.py"].doc_id.iloc[0] != 42
    assert fixed[fixed.path == "c.py"].doc_id.iloc[0] == 7
    # deterministic across runs
    again = resolve_id_collisions(df).toPandas().sort_values("path")
    assert list(again["doc_id"]) == list(fixed["doc_id"])


def test_resolve_id_collisions_noop_when_unique(spark):
    corpus = with_doc_identity(spark.createDataFrame(
        [("r", f"f{i}.py", f"c{i}", "python", f"content {i}") for i in range(10)],
        "repo string, path string, commit string, lang string, content string",
    ))
    before = corpus.toPandas().sort_values("path")
    after = resolve_id_collisions(corpus).toPandas().sort_values("path")
    assert list(before["doc_id"]) == list(after["doc_id"])


# --------------------------------------- incremental == batch sketch parity


def test_incremental_sketches_match_batch_kernel(spark, tmp_path):
    """Round-1 advice: incremental used a different shingle universe than
    batch; state and delta sketches must be byte-identical per content."""
    from duplicatesuricate_spark.functions.sketch import with_full_sketches
    from duplicatesuricate_spark.streaming.incremental import incremental_dedup

    corpus = with_doc_identity(spark.createDataFrame(
        [("r", f"f{i}.py", f"c{i}", "python",
          f"def handler_{i}(x):\n    return parse_token(x) + {i}\n" * 3)
         for i in range(8)],
        "repo string, path string, commit string, lang string, content string",
    ))
    incremental_dedup(spark, corpus, str(tmp_path / "state"))
    state_sk = (
        spark.read.parquet(str(tmp_path / "state" / "sketches"))
        .select("doc_id", "minhash", "simhash")
        .toPandas().set_index("doc_id").sort_index()
    )
    batch_sk = (
        with_full_sketches(corpus)
        .select("doc_id", "minhash", "simhash")
        .toPandas().set_index("doc_id").sort_index()
    )
    assert list(state_sk["simhash"]) == list(batch_sk["simhash"])
    for a, b in zip(state_sk["minhash"], batch_sk["minhash"]):
        assert list(a) == list(b)


# ------------------------------------------- embedding near-dup skew/recall


def _emb_fixture(spark, seed=11, dim=16):
    rng = np.random.RandomState(seed)
    base = rng.normal(size=(40, dim))
    rows = []
    # 60 identical copies of one vector -> one hot bucket in EVERY table
    hot_vec = rng.normal(size=dim)
    for i in range(60):
        rows.append((i, [float(x) for x in hot_vec]))
    # 40 random vectors, the first 10 with a planted near-identical partner
    for i, v in enumerate(base):
        rows.append((100 + i, [float(x) for x in v]))
        if i < 10:
            w = v + 0.001 * rng.normal(size=dim)
            rows.append((1000 + i, [float(x) for x in w]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_hot_mass_stays_connected_under_cap(spark):
    emb = _emb_fixture(spark)
    pairs = embedding_near_dup_pairs(
        emb, threshold=0.98, n_planes=6, dim=16, hot_bucket_cap=8
    ).toPandas()
    hot_ids = set(range(60))
    hp = pairs[pairs.id_a.isin(hot_ids) & pairs.id_b.isin(hot_ids)]
    # far fewer than C(60,2) output rows, but every copy present + connected
    assert 59 <= len(hp) < 60 * 59 / 2 / 2
    assert (set(hp.id_a) | set(hp.id_b)) == hot_ids
    comps = connected_components(
        spark.createDataFrame(hp[["id_a", "id_b"]], "id_a long, id_b long")
    ).toPandas()
    assert comps["cluster_id"].nunique() == 1


def test_embedding_planted_pairs_invariant_under_cap(spark):
    """Pairs living in small buckets are EXACTLY preserved whether or not
    the hot path triggers elsewhere (pair-set invariance under the cap)."""
    emb = _emb_fixture(spark)
    planted = {(100 + i, 1000 + i) for i in range(10)}

    def accepted(cap):
        p = embedding_near_dup_pairs(
            emb, threshold=0.98, n_planes=6, dim=16, hot_bucket_cap=cap
        ).toPandas()
        return {(a, b) for a, b in zip(p.id_a, p.id_b)}

    uncapped = accepted(10**6)
    capped = accepted(8)
    assert planted <= uncapped and planted <= capped
    non_hot = lambda s: {p for p in s if not (p[0] < 60 and p[1] < 60)}
    assert non_hot(uncapped) == non_hot(capped)


# ------------------------------------------------------- ANN recall vs brute


def test_lsh_topk_recall_against_brute_force(spark):
    emb = _emb_fixture(spark).where(F.col("vec_id") >= 100)  # no hot mass
    probes = emb.where(F.col("vec_id").between(100, 107))
    brute = brute_force_topk(emb, probes, k=5).toPandas()
    lsh = lsh_topk(emb, probes, k=5, n_planes=3, dim=16).toPandas()

    # planted near-identical partner must be LSH rank 1 for >= 7/8 probes
    rank1 = lsh[lsh["rank"] == 1].set_index("probe_id").vec_id
    hits = sum(rank1.get(100 + i, -1) == 1000 + i for i in range(8))
    assert hits >= 7

    # overlap@5 with the exact answer stays above the pinned floor, and
    # multiprobe (the recall knob) only improves it
    def mean_overlap(approx):
        vals = []
        for p in range(100, 108):
            b = set(brute[brute.probe_id == p].vec_id)
            l = set(approx[approx.probe_id == p].vec_id)
            vals.append(len(b & l) / 5)
        return sum(vals) / len(vals)

    base = mean_overlap(lsh)
    assert base >= 0.25
    multi = lsh_topk(
        emb, probes, k=5, n_planes=3, dim=16, multiprobe=True
    ).toPandas()
    assert mean_overlap(multi) >= base


# ------------------------------------------- kernel tokenizer (round-2/3)


def test_kernel_tokenizer_matches_python_oracle():
    import pandas as pd

    from duplicatesuricate_spark.functions.sketch import (
        _tokenize_hash_np,
        tokenize_hash_py,
    )

    samples = [
        "def foo(x):\n    return bar_2(x) + 1",
        "",
        "UPPER lower MiXeD_case 123abc",
        "   \n\t  ",
        "a",
        "x" * 200 + " short",            # token longer than the pass cap
        "éàç unicode çhars touché",
        "tok1 tok2\ntok3\ttok4....tok5",
    ]
    flat, lens = _tokenize_hash_np(pd.Series(samples))
    pos = 0
    for i, s in enumerate(samples):
        got = [int(x) for x in flat[pos:pos + lens[i]]]
        pos += lens[i]
        assert got == tokenize_hash_py(s), f"doc {i}: {s[:40]!r}"


# ------------------------------------------------ SparkML RF accuracy (A14)


def test_spark_rf_train_eval_roundtrip(spark):
    """Reference quality signal (classifiers.py:256-261): train on labeled
    similarity vectors, report precision/recall — the SparkML RF must
    separate an easy planted fixture nearly perfectly."""
    import random

    from duplicatesuricate_spark.api import build_training_table
    from duplicatesuricate_spark.operators.classifiers import SparkRFClassifier

    rng = random.Random(5)
    words = ["alpha", "bravo", "carbon", "delta", "echo", "fabric",
             "garnet", "hotel", "indigo", "jupiter"]
    records, labeled = [], []
    rid = 0
    for i in range(30):
        name = " ".join(rng.sample(words, 3)) + f" {i}"
        city = f"city{i % 7}"
        a, b = rid, rid + 1
        rid += 2
        typo = name[: len(name) // 2] + name[len(name) // 2 + 1:]  # drop 1 ch
        records += [(a, name, city), (b, typo, city)]
        labeled.append((a, b, 1.0))                      # positive pair
    for i in range(40):                                   # negative pairs
        x, y = rng.sample(range(rid), 2)
        if abs(x - y) == 1 and min(x, y) % 2 == 0:
            continue
        labeled.append((min(x, y), max(x, y), 0.0))

    df = spark.createDataFrame(records, "id long, name string, city string")
    pairs = spark.createDataFrame(labeled, "id_a long, id_b long, y_true double")
    scoredict = {"fuzzy": ["name"], "exact": ["city"]}
    train = build_training_table(df, pairs, scoredict, id_col="id")

    clf = SparkRFClassifier(
        ["name_fuzzyscore", "city_exactscore"], n_trees=20
    ).fit(train)
    pred = clf.predict_proba(train).toPandas()
    tp = ((pred.y_proba > 0.5) & (pred.y_true == 1.0)).sum()
    fp = ((pred.y_proba > 0.5) & (pred.y_true == 0.0)).sum()
    fn = ((pred.y_proba <= 0.5) & (pred.y_true == 1.0)).sum()
    precision = tp / max(tp + fp, 1)
    recall = tp / max(tp + fn, 1)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
