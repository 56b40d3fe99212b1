"""Tier-2/3 tests: checkpoint resume (kill + rerun byte-identical, stages
skipped), incremental merge equivalence, multimodal plumbing."""

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from duplicatesuricate_spark.operators.dedup import dedup_pipeline
from duplicatesuricate_spark.plans.resume import run_dedup_checkpointed
from duplicatesuricate_spark.sources.corpus import with_doc_identity
from duplicatesuricate_spark.sources.synth import synth_corpus
from duplicatesuricate_spark.streaming.incremental import incremental_dedup


@pytest.fixture(scope="module")
def corpus(spark):
    pdf, _ = synth_corpus(n_rows=80, seed=21)
    return with_doc_identity(spark.createDataFrame(pdf)).persist()


def _assign_pdf(df):
    return (
        df.select("doc_id", "content_sha256", "cluster_id")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def _pairs_pdf(df):
    return (
        df.select("id_a", "id_b", "jaccard", "hamming", "kind")
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )


def test_checkpointed_run_matches_in_memory_pipeline(spark, corpus, tmp_path_factory):
    """Checkpointed and batch runs emit the same pairs — all five columns,
    row for row — and the same assignments, on the 80-row fixture and on
    the 200-row synth corpus (whose substring links need the kernel's
    chunk anchors on both paths)."""
    pdf200, _ = synth_corpus(n_rows=200, seed=42)
    corpus200 = with_doc_identity(spark.createDataFrame(pdf200))
    for c in (corpus, corpus200):
        wd = str(tmp_path_factory.mktemp("ckpt_a"))
        out = run_dedup_checkpointed(spark, c, wd)
        batch = dedup_pipeline(c)
        pa, pb = _pairs_pdf(out["pairs"]), _pairs_pdf(batch.pairs)
        assert len(pa) > 0 and pa.equals(pb)
        assert _assign_pdf(out["assignments"]).equals(_assign_pdf(batch.assignments))
        batch.unpersist()
    # metrics exist for every executed stage, with per-partition rows
    m = out["metrics"].toPandas()
    assert set(m["stage"]) >= {"sketches", "candidates", "assignments"}
    assert (m["rows_out"] >= 0).all() and m["wall_ms"].notna().all()


def test_kill_and_resume_is_byte_identical_and_skips(spark, corpus, tmp_path_factory):
    wd = Path(str(tmp_path_factory.mktemp("ckpt_b")))
    first = run_dedup_checkpointed(spark, corpus, str(wd))
    golden = _assign_pdf(first["assignments"])

    # simulate a kill after the 'candidates' stage: later stages lost
    for stage in ["near_pairs", "substring_pairs", "all_pairs", "assignments"]:
        shutil.rmtree(wd / stage, ignore_errors=True)
    second = run_dedup_checkpointed(spark, corpus, str(wd))
    r = second["_runner"]
    assert "sketches" in r.skipped and "candidates" in r.skipped
    assert "assignments" in r.executed
    assert _assign_pdf(second["assignments"]).equals(golden)

    # full rerun over a complete work dir: everything skipped
    third = run_dedup_checkpointed(spark, corpus, str(wd))
    assert third["_runner"].executed == []
    assert _assign_pdf(third["assignments"]).equals(golden)


def test_incremental_two_batches_equals_one_batch(spark, tmp_path_factory):
    pdf, _ = synth_corpus(n_rows=60, seed=33)
    full = with_doc_identity(spark.createDataFrame(pdf))
    batch1 = with_doc_identity(spark.createDataFrame(pdf.iloc[:35]))
    batch2 = with_doc_identity(spark.createDataFrame(pdf.iloc[35:]))

    sd = str(tmp_path_factory.mktemp("state"))
    incremental_dedup(spark, batch1.select("doc_id", "content_sha256", "content"), sd)
    inc = incremental_dedup(
        spark, batch2.select("doc_id", "content_sha256", "content"), sd
    )
    ref = dedup_pipeline(full, include_substring_pass=False).assignments

    got = _assign_pdf(inc)
    want = _assign_pdf(ref)
    # cluster PARTITIONS must agree (labels are component mins — identical
    # here since both use min(doc_id))
    assert got.equals(want)


def test_incremental_skips_already_processed_docs(spark, tmp_path_factory):
    pdf, _ = synth_corpus(n_rows=30, seed=5)
    b = with_doc_identity(spark.createDataFrame(pdf)).select(
        "doc_id", "content_sha256", "content"
    )
    sd = str(tmp_path_factory.mktemp("state2"))
    a1 = incremental_dedup(spark, b, sd).toPandas()
    a2 = incremental_dedup(spark, b, sd).toPandas()  # same batch again
    assert len(a1) == len(a2) == 30


# ------------------------------------------------------------- multimodal


def test_multimodal_feature_extraction(spark):
    from duplicatesuricate_spark.operators.multimodal import (
        synth_media, extract_features, frame_sample_plan, FEATURE_DIM,
        real_decode,
    )

    media = synth_media(spark, n=12)
    feats = extract_features(media).collect()
    assert len(feats) == 12
    for r in feats:
        assert len(r.feature) == FEATURE_DIM
        assert len(r.payload_sha256) == 64
    # deterministic across runs
    again = extract_features(media).collect()
    assert {r.media_id: r.feature for r in feats} == {
        r.media_id: r.feature for r in again
    }
    plan = frame_sample_plan(media, every_n=50).collect()
    assert all(r.frame_index % 50 == 0 for r in plan)
    import numpy as np
    import pytest as _pt
    with _pt.raises(NotImplementedError):
        real_decode(b"xx", "image")
