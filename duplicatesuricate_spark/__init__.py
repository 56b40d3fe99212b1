"""duplicatesuricate_spark — a PySpark-native near-duplicate detection engine.

A from-scratch recast of the query semantics of ``fpli-mbr/duplicatesuricate``
(pandas blocking + pairwise fuzzy scoring + greedy clustering; see
/root/reference and SURVEY.md) into scalable, set-at-a-time Spark:

    read_corpus -> normalize+shingle -> MinHash-128 / SimHash-64 ->
    LSH band join (16 x 8) [+ exact-substring pass] ->
    vectorized Jaccard/Hamming scoring -> threshold ->
    large-star/small-star connected components -> assignments/pairs/metrics

Everything is DataFrame/Catalyst-first; Python appears only inside
Arrow-batched kernels (the ``mapInArrow`` sketch pass) and per-partition
kernels (exact-substring verification).
"""

from duplicatesuricate_spark.config import DedupConfig, DEFAULT_CONFIG
from duplicatesuricate_spark.session import get_spark

__version__ = "0.1.0"

__all__ = ["DedupConfig", "DEFAULT_CONFIG", "get_spark", "__version__"]
