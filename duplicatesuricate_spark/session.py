"""SparkSession factory.

Single place to pin the execution config: Arrow on (the sketch kernel is a
``mapInArrow`` pass), AQE on (skew-join splitting + partition
coalescing), shuffle partitions sized to the sandbox (local[32]) rather
than the 200 default.  The reference had a bare ``SQLContext`` parameter
threaded through its dead Spark path (duplicatesuricate/connectors.py:236,
classifiers.py:77); here the session is an explicit, configured entry point.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Engine settings that are safe on any cluster: ``get_spark`` applies them
# under its local-mode sizing, and the spark-submit job
# (jobs/dedup_job.py) applies them on top of the launcher's conf.
ENGINE_CONF = {
    # AQE: runtime re-planning, skew-join splitting, partition coalescing
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # near-dup rows are tiny in bytes but expensive in compute (sketch
    # kernel, array intersections): AQE's 1MB minimum partition size would
    # coalesce post-shuffle stages down to a handful of tasks and cap
    # parallelism; 64k keeps task counts at cluster width (irrelevant at
    # real scale where shuffles exceed the floor)
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # runtime broadcast conversion: pair/candidate tables are usually tiny
    # after filtering even when their pre-shuffle estimates are not — let
    # AQE switch SMJ -> BHJ on observed sizes
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    # Arrow transfer for every Python kernel; bounded batches so a 128-int
    # minhash column times a wide batch can't blow executor memory
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    # near-dup workloads are compute-heavy per byte (tokenizing, sketching):
    # split scans finer than the 128m default or a 150MB corpus reads as
    # ~3 partitions and serializes the whole first stage
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.sql.files.openCostInBytes": "1m",
    "spark.sql.session.timeZone": "UTC",
    # propagate the malloc tuning (see get_spark) to executor-side Python
    # workers on a real cluster (local mode inherits the driver env)
    "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": "1073741824",
    "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "-1",
}


def get_spark(
    app_name: str = "duplicatesuricate_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores=None`` -> ``local[*]``.  On a real cluster, ship the package with
    ``spark-submit --py-files duplicatesuricate_spark.zip`` and run
    ``jobs/dedup_job.py``, which applies ``ENGINE_CONF`` on top of the
    launcher's conf instead of this local-mode sizing.
    """
    # Large fresh allocations on this class of VM fault pages at ~40MB/s;
    # glibc returns mmap'd blocks (>128KB) to the OS on free, so every
    # Arrow/numpy batch refaults its buffers.  Raising the mmap threshold
    # keeps big blocks on the (reused) heap: one warm-up fault, then full
    # memory bandwidth.  Must be set before the JVM starts so the Python
    # worker daemons inherit it.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")

    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and cores_env:
        cores = int(cores_env)
    master = f"local[{cores}]" if cores else "local[*]"
    # 1x cores, not the former 2x: at local scale every shuffle stage ran
    # two waves of near-empty tasks, and an interleaved A/B at both 5k and
    # 50k docs measured 1x faster on every multi-shuffle query (dedup
    # 7.9 -> 5.6 s, ngram 2.0 -> 1.2 s at sf0.1; dedup 13.8 -> 9.6 s at
    # 10x) with no query slower.  On a real cluster the initial number
    # should be sized to data (set SPARK_GRAFT_SHUFFLE_PARTITIONS or the
    # shuffle_partitions argument; AQE coalesces/splits from there).
    shuffle_env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    n_shuffle = shuffle_partitions or (
        int(shuffle_env) if shuffle_env else (cores if cores else 32)
    )

    # shuffle/spill scratch on tmpfs when it can actually hold the spill:
    # this sandbox's root disk is slow and near-full, and tmpfs pages skip
    # writeback entirely (on a real cluster spark.local.dir is the
    # provisioned local SSDs — same principle).  Gated on free space (many
    # hosts cap /dev/shm at 50% of RAM — a DISK_ONLY persist landing on a
    # nearly-full tmpfs ENOSPCs instead of spilling; round-2 advice): real
    # disk stays the default below 24 GiB free.  SPARK_LOCAL_DIRS overrides.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 24 << 30:
                local_dir = "/dev/shm/spark-local"
        except OSError:
            pass

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(map=ENGINE_CONF)
        # shuffle sizing: 1x cores locally; AQE coalesces the excess
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        # pin initial == max heap AND pre-touch it: this VM services
        # first-touch page faults at ~40MB/s, globally serialized — a
        # shrinking/regrowing heap refaults pages mid-job, and worse with
        # more threads.  AlwaysPreTouch commits every heap page at JVM
        # start (~10 s, once per executor lifetime, amortized across jobs
        # on a real cluster) so no task ever faults a heap page mid-query:
        # measured 417 s -> 336 s on the 2M-doc pipeline at 8 cores
        # (BENCH/BASELINE.md round-5 A/B), and it is what makes
        # MEMORY_AND_DISK persistence profitable (see persist_level()).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_DRIVER_JAVA_OPTS",
                "-Xms12g -XX:+UseParallelGC -XX:+AlwaysPreTouch",
            ),
        )
        # executors get the same GC + pre-touch treatment on a real
        # cluster (ignored in local mode — there is no separate executor
        # JVM).  No -Xms here: executor heap is already pinned by
        # spark.executor.memory, and AlwaysPreTouch commits it at launch.
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get(
                "SPARK_EXECUTOR_JAVA_OPTS",
                "-XX:+UseParallelGC -XX:+AlwaysPreTouch",
            ),
        )
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
