"""BM25 math (k1=1.2, b=0.75) — the single definition used by the oracle
and the WAND kernel (scalars or numpy arrays); the exhaustive engine's
Spark column expression (``IndexReader._contrib_expr``) mirrors it. The
exact floating-point expression SHAPE matters: all three compute
``w * ((tf*(k1+1)) / (tf + k1*((1-b) + b*(dl/avgdl))))`` with identical
associativity and sum contributions in ascending term order, so scores
are bitwise-reproducible across implementations and partitionings."""

from __future__ import annotations

import math

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_tf_norm(
    tf: float, dl: float, avg_dl: float, k1: float = BM25_K1, b: float = BM25_B
) -> float:
    return (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * (dl / avg_dl)))
