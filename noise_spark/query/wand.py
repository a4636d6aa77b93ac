"""Block-max WAND top-k over compressed segments.

The distributed shape: the docID space is cut into range bins; every
segment block (a contiguous docID range of one (term, salt)) is routed
to the bins it overlaps; each bin runs single-threaded block-max WAND
across its terms' block lists and emits an exact local top-k; a global
``TakeOrdered(k)`` merges bin candidates. Per-bin exact top-k → global
merge is rank-exact, so WAND is provably rank-identical to the
exhaustive path (asserted in tests).

Inside a bin this is textbook BMW (Broder et al. WAND + Ding/Suel
block-max): pivot selection on term-level upper bounds, block-max
refinement with shallow block seeks (skipped blocks are never decoded),
and full evaluation summing BM25 contributions in ascending term order —
the same bitwise-pinned float path as the exhaustive engine and oracle.
"""

from __future__ import annotations

import heapq

import numpy as np

from ..index import codec
from ..scoring import bm25_tf_norm


def block_contrib(
    tfs: bytes, dls: bytes, weight: float, avg_dl: float, k1: float, b: float
) -> np.ndarray:
    """Per-doc BM25 contributions ``weight · tf_norm`` of one block, in
    block order — the single tfs/dls payload decode shared by the WAND
    cursor and the single-term path. Scoring goes through
    ``scoring.bm25_tf_norm``, so it is bitwise the oracle's expression."""
    tf = codec.varbyte_decode(tfs).astype(np.float64)
    dl = codec.varbyte_decode(dls).astype(np.float64)
    return weight * bm25_tf_norm(tf, dl, avg_dl, k1, b)


class _Cursor:
    """Per-term cursor over that term's blocks within a bin."""

    INF = np.iinfo(np.int64).max

    def __init__(
        self,
        term: str,
        weight: float,
        blocks: list[dict],
        lo: int,
        hi: int,
        avg_dl: float,
        k1: float,
        b: float,
        exclude: np.ndarray | None = None,
        stats: dict | None = None,
    ):
        self.stats = stats
        # blocks sorted by first_doc; ranges are disjoint per term
        self.term = term
        self.weight = weight
        self.blocks = sorted(blocks, key=lambda r: r["first_doc"])
        self.lo, self.hi = lo, hi
        self.avg_dl, self.k1, self.b = avg_dl, k1, b
        self.exclude = exclude
        # tf_norm rises with tf and falls with dl, so (max_tf, min_dl)
        # bounds it. Computed from the CURRENT avg_dl, so block metadata
        # stays valid across appends/deletes that move avg_dl.
        for r in self.blocks:
            r["_ub"] = weight * bm25_tf_norm(r["max_tf"], r["min_dl"], avg_dl, k1, b)
        self.term_ub = max(r["_ub"] for r in self.blocks)
        self.bi = 0
        self._docs: np.ndarray | None = None
        self._contrib: np.ndarray | None = None
        self._pos = 0
        self._enter_block()

    def _enter_block(self):
        """Position at the first in-range doc of the current/next blocks.
        Only the docID stream is decoded here (needed for pivoting); the
        scoring payload (tfs/dls → tf_norm) is deferred until a doc in
        this block is actually EVALUATED — blocks that are only stepped
        over for pivot selection, or whose UB falls below θ, never pay
        the payload decode. ``stats['blocks_decoded']`` counts payload
        decodes (the scoring work BMW skips); ``blocks_positioned``
        counts docID decodes."""
        while self.bi < len(self.blocks):
            blk = self.blocks[self.bi]
            if blk["last_doc"] < self.lo:
                self.bi += 1
                continue
            if blk["first_doc"] >= self.hi:
                break
            if self.stats is not None:
                self.stats["blocks_positioned"] = self.stats.get("blocks_positioned", 0) + 1
            docs = codec.delta_decode(blk["docs"])
            mask = (docs >= self.lo) & (docs < self.hi)
            if self.exclude is not None and self.exclude.size:
                mask &= ~np.isin(docs, self.exclude)
            if not mask.any():
                self.bi += 1
                continue
            self._docs = docs[mask]
            self._blk = blk
            self._mask = mask
            self._contrib = None  # decoded lazily on first evaluation
            self._pos = 0
            return
        self._docs = None

    def _decode_payload(self):
        blk = self._blk
        if self.stats is not None:
            self.stats["blocks_decoded"] = self.stats.get("blocks_decoded", 0) + 1
        self._contrib = block_contrib(
            blk["tfs"], blk["dls"], self.weight, self.avg_dl, self.k1, self.b
        )[self._mask]

    @property
    def doc(self) -> int:
        return int(self._docs[self._pos]) if self._docs is not None else self.INF

    @property
    def contrib(self) -> float:
        if self._contrib is None:
            self._decode_payload()
        return float(self._contrib[self._pos])

    def block_ub(self, d: int) -> float:
        """Shallow block-max at doc d: UB of the block that would contain
        d, without decoding (uses stored block metadata only)."""
        bi = self.bi
        while bi < len(self.blocks) and self.blocks[bi]["last_doc"] < d:
            bi += 1
        if bi >= len(self.blocks) or self.blocks[bi]["first_doc"] >= self.hi:
            return 0.0
        return self.blocks[bi]["_ub"]

    def block_last(self, d: int) -> int:
        """last_doc of the block that would contain d (for BMW skips)."""
        bi = self.bi
        while bi < len(self.blocks) and self.blocks[bi]["last_doc"] < d:
            bi += 1
        if bi >= len(self.blocks):
            return self.INF
        return int(self.blocks[bi]["last_doc"])

    def next_geq(self, d: int):
        if self._docs is None:
            return
        if self._docs[-1] < d:
            # skip whole decoded block; advance over undecoded blocks by bounds
            self.bi += 1
            while self.bi < len(self.blocks) and self.blocks[self.bi]["last_doc"] < d:
                self.bi += 1
            self._enter_block()
            if self._docs is None:
                return
        self._pos += int(np.searchsorted(self._docs[self._pos :], d, side="left"))
        if self._pos >= len(self._docs):
            self.bi += 1
            self._enter_block()


def _single_term_topk(
    weight: float,
    blocks: list[dict],
    lo: int,
    hi: int,
    k: int,
    avg_dl: float,
    k1: float,
    b: float,
    theta0: float,
    exclude: "np.ndarray | None",
    stats: dict | None,
) -> list[tuple[int, float]]:
    """Degenerate WAND (one term): no pivot exists, so the per-doc BMW
    loop is pure overhead. Identical algorithm, vectorized — process
    blocks in UB-DESCENDING order (θ converges fastest), stop at the
    first block whose UB is strictly below θ (every later block's UB is
    ≤ it, and a block's docs score ≤ its UB, so nothing droppable is
    dropped; ties at θ are still evaluated for the doc_id tie-break).
    Scores come from the same ``block_contrib`` as ``_Cursor``, so
    results are bitwise identical."""
    for r in blocks:
        r["_ub"] = weight * bm25_tf_norm(r["max_tf"], r["min_dl"], avg_dl, k1, b)
    order = sorted(blocks, key=lambda r: (-r["_ub"], r["first_doc"]))
    theta = theta0
    cd: list[np.ndarray] = []  # candidate doc ids
    cs: list[np.ndarray] = []  # candidate scores
    n_cand = 0

    def prune() -> None:
        nonlocal cd, cs, n_cand, theta
        docs = np.concatenate(cd)
        scores = np.concatenate(cs)
        if docs.size > k:
            keep = np.lexsort((docs, -scores))[:k]
            docs, scores = docs[keep], scores[keep]
        cd, cs = [docs], [scores]
        n_cand = docs.size
        if n_cand >= k:
            theta = max(theta, float(scores.min()))

    for blk in order:
        if blk["_ub"] < theta:
            break
        if blk["last_doc"] < lo or blk["first_doc"] >= hi:
            continue
        if stats is not None:
            stats["blocks_positioned"] = stats.get("blocks_positioned", 0) + 1
        docs = codec.delta_decode(blk["docs"])
        mask = (docs >= lo) & (docs < hi)
        if exclude is not None and exclude.size:
            mask &= ~np.isin(docs, exclude)
        if not mask.any():
            continue
        if stats is not None:
            stats["blocks_decoded"] = stats.get("blocks_decoded", 0) + 1
        contrib = block_contrib(blk["tfs"], blk["dls"], weight, avg_dl, k1, b)[mask]
        if theta > 0.0:
            above = contrib >= theta
            if not above.any():
                continue
            cd.append(docs[mask][above])
            cs.append(contrib[above])
        else:
            cd.append(docs[mask])
            cs.append(contrib)
        n_cand += cd[-1].size
        if n_cand >= k:
            prune()
    if not cd:
        return []
    prune()
    docs, scores = cd[0], cs[0]
    idx = np.lexsort((docs, -scores))[:k]
    return [(int(docs[i]), float(scores[i])) for i in idx]


def wand_bin(
    term_blocks: dict[str, tuple[float, list[dict]]],
    lo: int,
    hi: int,
    k: int,
    avg_dls: dict[str, float],
    k1: float,
    b: float,
    mode: str = "or",
    theta0: float = 0.0,
    exclude: "np.ndarray | None" = None,
    stats: dict | None = None,
) -> list[tuple[int, float]]:
    """Exact top-k of docs in [lo, hi) for the given terms.

    ``term_blocks``: term → (weight, block rows); ``avg_dls``: term → the
    avg_dl of its field (BM25 is per-field). ``mode='and'`` requires
    all terms present. ``exclude``: tombstoned docIDs (masked at block
    decode). ``theta0``: a global score threshold that is a PROVEN lower
    bound on the kth-best overall score (seeded from a driver-side first
    pass over the highest-UB blocks) — with it, skipping engages from the
    first pivot instead of only after the bin's own heap fills; docs
    below θ₀ may be dropped entirely, which is safe because they cannot
    make the global top-k. ``stats``: optional dict accumulating
    ``blocks_decoded``. Returns [(doc_id, score)] sorted (-score, doc).
    """
    nonempty = [(t, w, blocks) for t, (w, blocks) in term_blocks.items() if blocks]
    if len(nonempty) == 1 and mode == "or":
        t, w, blocks = nonempty[0]
        return _single_term_topk(
            w, blocks, lo, hi, k, avg_dls[t], k1, b, theta0, exclude, stats
        )
    cursors = [
        _Cursor(t, w, blocks, lo, hi, avg_dls[t], k1, b, exclude=exclude, stats=stats)
        for t, (w, blocks) in term_blocks.items()
        if blocks
    ]
    n_terms_required = len(term_blocks) if mode == "and" else 1
    if len(cursors) < n_terms_required:
        return []
    # min-heap of (score, -doc_id); θ = weakest retained candidate
    heap: list[tuple[float, int]] = []
    theta = theta0

    while True:
        cursors.sort(key=lambda c: c.doc)
        if cursors[0].doc == _Cursor.INF:
            break
        if mode == "and":
            pivot_idx = len(cursors) - 1
            if cursors[pivot_idx].doc == _Cursor.INF:
                break
        else:
            # WAND pivot: smallest prefix whose term-UB sum reaches θ.
            # `>=` (not `>`): a doc scoring exactly θ with a smaller docID
            # still wins the tie-break, so it must be evaluated.
            acc = 0.0
            pivot_idx = -1
            for i, c in enumerate(cursors):
                if c.doc == _Cursor.INF:
                    break
                acc += c.term_ub
                # with a seeded θ₀ the threshold binds even before this
                # bin's heap fills (θ₀ is a global kth-best lower bound)
                if (len(heap) < k and theta <= 0.0) or acc >= theta:
                    pivot_idx = i
                    break
            if pivot_idx < 0:
                break
        pivot_doc = cursors[pivot_idx].doc
        if pivot_doc == _Cursor.INF:
            break

        if mode == "and" and cursors[0].doc != pivot_doc:
            # advance laggards to the pivot
            for c in cursors:
                if c.doc < pivot_doc:
                    c.next_geq(pivot_doc)
            continue

        if cursors[0].doc == pivot_doc:
            # extend the prefix over cursors tied at pivot_doc (their UBs
            # and contributions belong to this candidate too)
            prefix_end = pivot_idx
            while prefix_end + 1 < len(cursors) and cursors[prefix_end + 1].doc == pivot_doc:
                prefix_end += 1
            # block-max refinement: Σ block UBs at pivot must reach θ
            # (skip only on strict <, for tie-break safety)
            bub = 0.0
            for c in cursors[: prefix_end + 1]:
                bub += c.block_ub(pivot_doc)
            if bub < theta:  # θ > 0 iff seeded or heap full (skip-safe)
                # BMW skip: jump past the smallest involved block boundary,
                # but never past the next cursor's doc — a new term enters
                # the candidate set there (Ding & Suel's GetNewCandidate)
                d_skip = min(c.block_last(pivot_doc) for c in cursors[: prefix_end + 1]) + 1
                if prefix_end + 1 < len(cursors):
                    d_skip = min(d_skip, cursors[prefix_end + 1].doc)
                d_skip = max(d_skip, pivot_doc + 1)
                for c in cursors[: prefix_end + 1]:
                    if c.doc < d_skip:
                        c.next_geq(d_skip)
                continue
            # full evaluation — ascending term order (bitwise-pinned)
            parts = sorted(
                (c.term, c.contrib) for c in cursors if c.doc == pivot_doc
            )
            if mode == "and" and len(parts) < len(term_blocks):
                for c in cursors:
                    if c.doc == pivot_doc:
                        c.next_geq(pivot_doc + 1)
                continue
            score = 0.0
            for _, x in parts:
                score = score + x
            cand = (score, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, cand)
            elif cand > heap[0]:
                heapq.heapreplace(heap, cand)
            if len(heap) >= k:
                # evaluated docs may score below a seeded θ₀ — never lower θ
                theta = max(theta, heap[0][0])
            for c in cursors:
                if c.doc == pivot_doc:
                    c.next_geq(pivot_doc + 1)
        else:
            # advance one of the leading cursors to the pivot
            for c in cursors:
                if c.doc < pivot_doc:
                    c.next_geq(pivot_doc)
                    break

    out = [(-nd, s) for s, nd in heap]
    out.sort(key=lambda x: (-x[1], x[0]))
    return out
