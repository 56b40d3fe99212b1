#!/usr/bin/env python
"""spark-submit entry point for the full dedup pipeline (north rule:
"launched via spark-submit --py-files on multi-executor clusters").

    zip -r duplicatesuricate_spark.zip duplicatesuricate_spark
    spark-submit --py-files duplicatesuricate_spark.zip \\
        jobs/dedup_job.py --input <corpus> --output <dir> \\
        [--format parquet|iceberg] [--no-substring]

The session is taken from spark-submit's conf (master/executors come from
the cluster launcher); only engine-specific settings are applied on top.
Emits one JSON line with row counts and wall time.
"""

from __future__ import annotations

import argparse
import json
import time


def engine_conf(builder):
    """Engine-specific session settings, cluster-safe: the same
    ``ENGINE_CONF`` that ``get_spark`` applies (see session.py for the
    rationale of each)."""
    from duplicatesuricate_spark.session import ENGINE_CONF

    return builder.config(map=ENGINE_CONF)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="corpus path or iceberg table")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--snapshot-id", type=int, default=None)
    ap.add_argument("--no-substring", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = engine_conf(
        SparkSession.builder.appName("duplicatesuricate_spark.dedup")
    ).getOrCreate()

    from duplicatesuricate_spark.operators.dedup import dedup_pipeline
    from duplicatesuricate_spark.sources.corpus import read_corpus
    from duplicatesuricate_spark.sources.sinks import write_dedup_outputs

    t0 = time.monotonic()
    corpus = read_corpus(spark, args.input, fmt=args.format,
                         snapshot_id=args.snapshot_id)
    res = dedup_pipeline(corpus, include_substring_pass=not args.no_substring)
    write_dedup_outputs(res, args.output)
    # per-partition lineage metrics land next to the data outputs (north
    # rule: per-partition lineage + metrics on the default path); reading
    # them back costs one pass over the already-persisted stage blocks
    res.metrics.write.mode("overwrite").parquet(f"{args.output}/metrics")
    n_assign = spark.read.parquet(f"{args.output}/assignments").count()
    n_pairs = spark.read.parquet(f"{args.output}/pairs").count()
    res.unpersist()
    print(json.dumps({
        "assignments": n_assign,
        "pairs": n_pairs,
        "wall_sec": round(time.monotonic() - t0, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
