"""Per-layer metrics of the traced run.

Event-log and span figures come from ``worker.trace_report``; the funnel
counters below are re-derived once per traced run, after the timed
operations and outside every span, with the package's own operators on
the same input, because the pipeline does not return them.
"""

from __future__ import annotations

import os

from tracing import LAYERS

LAYER_FIELDS = ("wall_s", "self_s", "jobs", "task_s", "gc_s", "shuffle_write_mb",
                "spill_mb", "task_skew")
COUNTERS = {
    "operators.dedup.exact_share": "fraction",
    "operators.lsh.band_rows": "count",
    "operators.lsh.candidates": "count",
    "operators.lsh.hot_row_share": "fraction",
    "operators.lsh.mega_row_share": "fraction",
    "operators.score.verify_yield": "fraction",
    "operators.substring.verify_yield": "fraction",
    "operators.components.edges": "count",
    "functions.util.plan_jobs": "count",
    "operators.dedup.unpersist_jobs": "count",
    "streaming.incremental.state_read_mb": "MB",
    "streaming.incremental.state_write_mb": "MB",
    "functions.sketch.cold_extra_s": "s",
    "run.jobs": "count",
    "run.core_util": "fraction",
    "trace.overhead_s": "s",
}
UNITS = {"wall_s": "s", "self_s": "s", "jobs": "count", "task_s": "core-s",
         "gc_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio"}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    names = [(f"{layer}.{f}", UNITS[f]) for layer in LAYERS for f in LAYER_FIELDS]
    return names + list(COUNTERS.items())


def counters(spark, wl, outs: list) -> dict:
    """Funnel counters of a ``batch_skewed`` run (see module docstring)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from duplicatesuricate_spark.config import DEFAULT_CONFIG as cfg
    from duplicatesuricate_spark.functions.sketch import with_full_sketches
    from duplicatesuricate_spark.operators.dedup import exact_dup_edges
    from duplicatesuricate_spark.operators.lsh import (
        band_explode, candidate_pairs, simhash_block_explode)
    from duplicatesuricate_spark.operators.score import score_and_verify
    from duplicatesuricate_spark.operators.substring import (
        exact_substring_pairs, substring_candidates)
    from duplicatesuricate_spark.sources.corpus import read_corpus

    out = {}
    _, last = outs[-1]
    pairs = pq.read_table(os.path.join(last, "pairs"), columns=["kind"]).to_pandas()
    n_docs = pq.read_metadata(os.path.join(wl.input_dir, "keys.parquet")).num_rows
    out["operators.dedup.exact_share"] = float((pairs["kind"] == "exact").sum()) / n_docs
    out["operators.components.edges"] = len(pairs)

    owned: list = []
    corpus = read_corpus(spark, wl.corpus_path)
    reps, _ = exact_dup_edges(corpus)
    sk = with_full_sketches(reps, cfg=cfg, with_chunks=True,
                            project=["doc_id", "content_sha256"]).persist()
    owned.append(sk)
    bands = band_explode(sk, cfg).unionByName(simhash_block_explode(sk, cfg))
    b = bands.groupBy("band_hash").agg(F.count(F.lit(1)).alias("n")).agg(
        F.sum("n").alias("rows"),
        F.sum(F.when(F.col("n") > cfg.hot_band_cap, F.col("n")).otherwise(0)).alias("hot"),
        F.sum(F.when(F.col("n") > cfg.mega_band_cap, F.col("n")).otherwise(0)).alias("mega"),
    ).first()
    out["operators.lsh.band_rows"] = int(b["rows"])
    out["operators.lsh.hot_row_share"] = b["hot"] / b["rows"]
    out["operators.lsh.mega_row_share"] = b["mega"] / b["rows"]
    cands = candidate_pairs(bands, cfg, cache_registry=owned)
    n_cand = cands.count()
    out["operators.lsh.candidates"] = n_cand
    n_ver = score_and_verify(cands, sk, cfg).count()
    out["operators.score.verify_yield"] = n_ver / n_cand if n_cand else 0.0
    chunks = sk.select("doc_id", "chunks")
    n_sub_cand = substring_candidates(chunks, cfg, cache_registry=owned).count()
    n_sub = exact_substring_pairs(corpus, cfg, chunk_table=chunks,
                                  cache_registry=owned).count()
    out["operators.substring.verify_yield"] = n_sub / n_sub_cand if n_sub_cand else 0.0
    for df in owned:
        df.unpersist()
    return out


def per_layer_metrics(res: dict) -> dict:
    """The ``--trace 1`` metrics object: every per-layer name, 0 where the
    workload does not touch the layer."""
    tr = res["trace"]
    found = dict(res.get("counters", {}))

    def total(field: str) -> float:
        return sum(tr.get(layer, {}).get(field, 0) for layer in list(LAYERS) + ["run"])

    # a merge reads and writes parquet only for the state and its delta;
    # the jobs doing it belong to whichever layer triggered the action
    merge = "streaming.incremental" in tr
    found.update({
        "functions.util.plan_jobs": tr.get("functions.util", {}).get("jobs", 0),
        "operators.dedup.unpersist_jobs": tr["_unpersist_jobs"],
        "streaming.incremental.state_read_mb": total("input_mb") if merge else 0.0,
        "streaming.incremental.state_write_mb": total("output_mb") if merge else 0.0,
        "functions.sketch.cold_extra_s": tr["_sketch_cold_extra_s"],
        "run.jobs": total("jobs"),
        "run.core_util": total("task_s") / (tr["_warm_wall_s"] * res["cores"]),
        "trace.overhead_s": tr["_overhead_s"],
    })
    metrics = {}
    for name, unit in per_layer_names():
        if name in COUNTERS:
            value = found.get(name, 0)
        else:
            layer, field = name.rsplit(".", 1)
            value = tr.get(layer, {}).get(field, 0)
        metrics[name] = {"value": value, "unit": unit}
    return metrics
