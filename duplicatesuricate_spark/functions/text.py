"""Normalization and tokenization (stage B2).

Replaces the reference's deleted ``preprocessing.py`` (ASCII-lowercase +
stopword normalization; see SURVEY.md preamble) and the tokenizer inside its
token-set kernel (duplicatesuricate/utils.py:187-201) with code-aware
rules: lowercase, split on non-identifier characters, 5-gram token
shingles.  The pipeline tokenizes and shingles inside the Arrow sketch
kernel (``functions.sketch``); this module keeps the Catalyst tokenizer
for the raw-content substring path and the pure-Python shingle oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from duplicatesuricate_spark.config import DedupConfig, DEFAULT_CONFIG


def tokens_expr(content: Column | str, cfg: DedupConfig = DEFAULT_CONFIG) -> Column:
    """lowercase -> split on non-[a-z0-9_] -> drop empty tokens."""
    col = F.col(content) if isinstance(content, str) else content
    return F.filter(
        F.split(F.lower(col), cfg.token_pattern),
        lambda t: t != F.lit(""),
    )


def shingles_py(content: str, cfg: DedupConfig = DEFAULT_CONFIG) -> set[tuple[str, ...]]:
    """Pure-Python oracle for tests: the same tokenization, shingles as
    token tuples (unhashed — set semantics are what matter for exact
    Jaccard; hash collisions are negligible at test scale)."""
    import re

    toks = [t for t in re.split(cfg.token_pattern, content.lower()) if t]
    k = cfg.shingle_k
    if len(toks) < k:
        return {tuple(toks)}
    return {tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)}
