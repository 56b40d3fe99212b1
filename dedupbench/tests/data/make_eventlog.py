"""Re-record ``eventlog_small.zstd``, the fixture of ``test_eventlog.py``.

    SPARK_DRIVER_MEM=1g SPARK_DRIVER_JAVA_OPTS=-XX:+UseParallelGC \
        PYTHONPATH=. python3 dedupbench/tests/data/make_eventlog.py

Three jobs: one under span "0", one running a ``mapInArrow`` stage under
span "1", and one outside every span.
"""

import glob
import os
import shutil
import tempfile

from duplicatesuricate_spark import get_spark

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    tmp = tempfile.mkdtemp()
    spark = get_spark(app_name="eventlog-fixture", cores=2, extra_conf={
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + tmp})
    sc = spark.sparkContext
    sc.setLocalProperty("dedupbench.span", "0")
    spark.range(1000).repartition(2).count()
    sc.setLocalProperty("dedupbench.span", "1")
    spark.range(1000).mapInArrow(lambda it: it, "id long").count()
    sc.setLocalProperty("dedupbench.span", None)
    spark.range(10).count()
    spark.stop()
    (src,) = glob.glob(os.path.join(tmp, "*", "events_*.zstd"))
    shutil.copyfile(src, os.path.join(HERE, "eventlog_small.zstd"))
    shutil.rmtree(tmp)


if __name__ == "__main__":
    main()
