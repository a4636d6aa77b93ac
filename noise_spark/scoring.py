"""BM25 math (k1=1.2, b=0.75) — the single definition. The oracle calls
it on scalars, the per-bin kernel (``query/wand.py``) on numpy arrays,
and the Spark engine on Columns in one place (a lone term's full scored
match set, ``IndexReader.scored_matches``), so there is no second copy
of the formula. The exact floating-point expression SHAPE matters:
every caller computes
``w * ((tf*(k1+1)) / (tf + k1*((1-b) + b*(dl/avgdl))))`` with this
associativity (on Columns Spark only swaps the operands of ``*`` and
``+``, which is exact in IEEE) and sums contributions in ascending term
order, so scores are bitwise-reproducible across implementations and
partitionings."""

from __future__ import annotations

import math

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_tf_norm(tf, dl, avg_dl, k1: float = BM25_K1, b: float = BM25_B):
    """Term-frequency normalization for floats, numpy arrays or Spark
    Columns alike."""
    return (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * (dl / avg_dl)))
