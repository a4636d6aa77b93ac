"""The one top-k kernel: BM25 over compressed segment blocks, one docID
bin at a time.

The distributed shape (``IndexReader._run_bins``): the docID space is cut
into range bins; every segment block (a contiguous docID range of one
(term, salt)) is routed to each bin it overlaps; ONE grouped Python task
per bin runs :func:`score_bin` for every query of the batch and emits
each query's exact local top-k (every match when ``k`` is None); a
global ``TakeOrdered(k)`` (a per-query top-k for a batch) merges the
bins. Per-bin exact top-k → global merge is rank-exact.

Inside a bin each query is evaluated on sorted docID arrays:

- flat OR with k: block-level MaxScore. A block's bound is its own
  upper bound plus, per other key, the largest upper bound of that
  key's blocks overlapping it. Blocks decode in descending bound order
  while their bound reaches θ, the bin's kth-best partial score so far
  (0.0 until k docs are scored); a skipped block cannot hold a doc
  scoring ≥ θ.
- flat AND: a block is read only when every other key has a block
  overlapping it, and the docID arrays intersect before any tf/dl
  payload is decoded.
- term-only trees: per-key presence bits (bit i = the i-th sorted key)
  and vector bit tests — also the unscored match set of every term-only
  And/Or/Not (``IndexReader._match_set``).
- phrase / proximity: docs holding every term are verified with
  :func:`positions_satisfy`.

Scores are ``w · tf_norm`` through ``scoring.bm25_tf_norm``, summed in
ascending key order — bitwise the oracle's expression and order.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..index import codec
from ..scoring import bm25_tf_norm

_NO_DOCS = np.empty(0, dtype=np.int64)
_NO_SCORES = np.empty(0, dtype=np.float64)


def positions_satisfy(lists, phrase: bool, window: int) -> bool:
    """Does one doc's set of per-term position lists satisfy the
    pattern? ``lists`` holds one sorted numpy int array per query term
    (in query order). The one phrase/proximity matcher: the kernel's
    positional plans and the element-word verify both call it."""
    if phrase:
        # vectorized consecutive-position intersection: position lists
        # are sorted (ascending varbyte deltas), so each step is one
        # searchsorted probe of cand+i into list i
        cand = lists[0]
        for i, pl in enumerate(lists[1:], start=1):
            if cand.size == 0:
                return False
            want = cand + i
            idx = np.searchsorted(pl, want)
            valid = idx < pl.size
            keep = np.zeros(cand.size, dtype=bool)
            keep[valid] = pl[idx[valid]] == want[valid]
            cand = cand[keep]
        return cand.size > 0
    if len(lists) == 2:
        # two-term proximity: ∃ (p, q) with |q-p| <= window — one
        # searchsorted window probe per anchor position, fully
        # vectorized over l0
        l0, l1 = lists
        lo_i = np.searchsorted(l1, l0 - window, side="left")
        hi_i = np.searchsorted(l1, l0 + window, side="right")
        return bool((hi_i > lo_i).any())
    # k>2 terms: minimal-window sweep over the merged event list (the
    # reference's DistanceFilter sliding window, src/filters.rs:588-726)
    events = sorted((p, i) for i, pl in enumerate(lists) for p in pl)
    k = len(lists)
    need: dict[int, int] = {}
    have = 0
    lo = 0
    for hi in range(len(events)):
        ti = events[hi][1]
        need[ti] = need.get(ti, 0) + 1
        if need[ti] == 1:
            have += 1
        while have == k:
            if events[hi][0] - events[lo][0] <= window:
                return True
            tlo = events[lo][1]
            need[tlo] -= 1
            if need[tlo] == 0:
                have -= 1
            lo += 1
    return False


@dataclass(frozen=True)
class BinQuery:
    """One query of a :func:`score_bin` call.

    ``match`` is the plan over index keys: ``("or", keys)``,
    ``("and", keys)``, ``("tree", keys, expr)`` (bit i ↔ ``keys[i]``,
    ``expr`` as built by ``IndexReader._tree_bits``) or ``("pos", keys,
    is_phrase, window)`` (keys in query order). ``weights``: scoring key
    → idf·boost; a key without one is a weightless marker. ``avg_dls``:
    scoring key → the avgdl of its field. ``k`` None emits every match."""

    match: tuple
    weights: dict
    avg_dls: dict
    k: int | None


class _Blocks:
    """One bin's segment block rows. Each block's docIDs, tf norms and
    positions decode at most once, however many queries read them;
    ``stats['blocks_decoded']`` counts tf/dl payload decodes."""

    def __init__(self, pdf, lo: int, hi: int, exclude, stats: dict | None):
        self.pdf = pdf
        self.lo, self.hi = lo, hi
        self.exclude = exclude
        self.stats = stats
        self.first = pdf["first_doc"].to_numpy(dtype=np.int64)
        self.last = pdf["last_doc"].to_numpy(dtype=np.int64)
        self._rows = {
            key: idx[np.argsort(self.first[idx], kind="stable")]
            for key, idx in pdf.groupby("term", sort=False).indices.items()
        }
        self._docs: dict[int, tuple] = {}
        self._tfn: dict[int, np.ndarray] = {}
        self._pos: dict[int, list] = {}

    def rows(self, key: str) -> np.ndarray:
        """Block rows of ``key`` in this bin, by first_doc."""
        return self._rows.get(key, _NO_DOCS)

    def docs(self, row: int) -> tuple[np.ndarray, np.ndarray]:
        """(every docID of the block, mask of those in this bin and live)."""
        hit = self._docs.get(row)
        if hit is None:
            d = codec.delta_decode(bytes(self.pdf["docs"].iat[row]))
            keep = (d >= self.lo) & (d < self.hi)
            if self.exclude is not None:
                keep &= ~np.isin(d, self.exclude)
            hit = self._docs[row] = (d, keep)
        return hit

    def tf_norm(self, row: int, avg_dl: float) -> np.ndarray:
        """BM25 tf norm of every doc of the block, in block order."""
        hit = self._tfn.get(row)
        if hit is None:
            if self.stats is not None:
                self.stats["blocks_decoded"] = self.stats.get("blocks_decoded", 0) + 1
            tf = codec.varbyte_decode(bytes(self.pdf["tfs"].iat[row])).astype(np.float64)
            dl = codec.varbyte_decode(bytes(self.pdf["dls"].iat[row])).astype(np.float64)
            hit = self._tfn[row] = bm25_tf_norm(tf, dl, avg_dl)
        return hit

    def positions(self, row: int, i: int) -> np.ndarray:
        """Sorted positions of the block's i-th doc."""
        hit = self._pos.get(row)
        if hit is None:
            buf = bytes(self.pdf["positions"].iat[row])
            hit = self._pos[row] = codec.split_positions(buf, self.docs(row)[0].size)
        return codec.decode_positions_row(hit[i])


class _List:
    """One key's live in-bin postings over a set of its blocks: sorted
    docIDs, each traceable to its block row and index in the block."""

    def __init__(self, blocks: _Blocks, rows: np.ndarray):
        self.blocks = blocks
        self.rows = rows
        parts = [blocks.docs(int(r)) for r in rows]
        sizes = [int(keep.sum()) for _, keep in parts]
        self.starts = np.concatenate(([0], np.cumsum(sizes, dtype=np.int64)))
        flat = np.concatenate([d[keep] for d, keep in parts]) if parts else _NO_DOCS
        self.in_block = (
            np.concatenate([np.flatnonzero(keep) for _, keep in parts]) if parts else _NO_DOCS
        )
        # blocks of one key cover disjoint docID ranges, so the
        # first_doc-ordered concatenation is sorted; sort only if not
        self.order = None
        if flat.size > 1 and not (np.diff(flat) > 0).all():
            self.order = np.argsort(flat, kind="stable")
            flat = flat[self.order]
        self.docs = flat
        # tf norms in concatenation order, filled one block at a time
        self._tfn = np.empty(flat.size, dtype=np.float64)
        self._filled = np.zeros(rows.size, dtype=bool)

    def find(self, docs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(which of sorted ``docs`` this key holds, their flat indices)."""
        if self.docs.size == 0:
            return np.zeros(docs.size, dtype=bool), np.zeros(docs.size, dtype=np.int64)
        at = np.minimum(np.searchsorted(self.docs, docs), self.docs.size - 1)
        present = self.docs[at] == docs
        return present, (at if self.order is None else self.order[at])

    def _row_of(self, flat: np.ndarray) -> np.ndarray:
        return np.searchsorted(self.starts, flat, side="right") - 1

    def tf_norm(self, flat: np.ndarray, avg_dl: float) -> np.ndarray:
        """tf norm at flat indices; decodes only the blocks they fall in."""
        for j in np.unique(self._row_of(flat)):
            if not self._filled[j]:
                s, e = self.starts[j], self.starts[j + 1]
                tfn = self.blocks.tf_norm(int(self.rows[j]), avg_dl)
                self._tfn[s:e] = tfn[self.in_block[s:e]]
                self._filled[j] = True
        return self._tfn[flat]

    def positions(self, flat: int) -> np.ndarray:
        j = int(self._row_of(np.asarray([flat]))[0])
        return self.blocks.positions(int(self.rows[j]), int(self.in_block[flat]))


def _score(q: BinQuery, lists: dict[str, _List], docs: np.ndarray) -> np.ndarray:
    """Scores of sorted ``docs``: ``w · tf_norm`` of each scoring key that
    holds the doc, summed in ascending key order (an absent key adds
    nothing: x + 0.0 == x)."""
    score = np.zeros(docs.size, dtype=np.float64)
    for key in sorted(q.weights):
        lst = lists.get(key)
        if lst is None:
            continue
        present, flat = lst.find(docs)
        if not present.any():
            continue
        part = np.zeros(docs.size, dtype=np.float64)
        part[present] = q.weights[key] * lst.tf_norm(flat[present], q.avg_dls[key])
        score = score + part
    return score


def _union(lists) -> np.ndarray:
    arrays = [lst.docs for lst in lists]
    return np.unique(np.concatenate(arrays)) if arrays else _NO_DOCS


def _overlap_range(blocks: _Blocks, rows: np.ndarray, other: np.ndarray):
    """Per row of ``rows``: the slice ``[a, b)`` of ``other`` (one key's
    rows, by first_doc) holding every block whose in-bin docID range
    overlaps the row's. Blocks whose first_doc is ≤ the row's last doc
    form a prefix; those whose last_doc reaches the row's first doc form
    a suffix (a key's blocks are disjoint, so last_doc ascends too; the
    running max keeps the slice a superset if they were not)."""
    lo, hi = blocks.lo, blocks.hi - 1
    f, l_ = np.maximum(blocks.first[rows], lo), np.minimum(blocks.last[rows], hi)
    of = np.maximum(blocks.first[other], lo)
    ol = np.maximum.accumulate(np.minimum(blocks.last[other], hi)) if other.size else _NO_DOCS
    return np.searchsorted(ol, f, side="left"), np.searchsorted(of, l_, side="right")


def _overlap_max(blocks: _Blocks, rows: np.ndarray, other: np.ndarray, other_ub: np.ndarray):
    """Per row of ``rows``: the largest upper bound among ``other`` blocks
    whose in-bin docID range overlaps the row's (-inf when none does)."""
    a, b = _overlap_range(blocks, rows, other)
    out = np.full(rows.size, -np.inf)
    hit = a < b
    if hit.any():
        # reduceat over interleaved (start, end) pairs: the even
        # entries are each slice's max (the -inf sentinel keeps every
        # end index in range)
        bounds = np.stack((a[hit], b[hit]), axis=1).ravel()
        out[hit] = np.maximum.reduceat(np.append(other_ub, -np.inf), bounds)[::2]
    return out


def _bounds(blocks: _Blocks, q: BinQuery, rows: dict[str, np.ndarray]):
    """Every block row of ``rows`` with its bound: its own upper bound
    plus, per other key in ascending key order, the best overlapping
    block's upper bound (0.0 when none overlaps). Upper bounds come from
    the stored (max_tf, min_dl) at the current avgdl; the sum runs in
    the scores' key order, so no doc of a block can score above its
    bound."""
    pdf = blocks.pdf
    ub = {
        t: q.weights[t]
        * bm25_tf_norm(
            pdf["max_tf"].to_numpy(dtype=np.float64)[r],
            pdf["min_dl"].to_numpy(dtype=np.float64)[r],
            q.avg_dls[t],
        )
        for t, r in rows.items()
    }
    keys = sorted(rows)
    out_rows, out_keys, out_bound = [], [], []
    for t in keys:
        bound = np.zeros(rows[t].size)
        for t2 in keys:
            if t2 == t:
                part = ub[t]
            else:
                part = np.maximum(_overlap_max(blocks, rows[t], rows[t2], ub[t2]), 0.0)
            bound = bound + part
        out_rows.append(rows[t])
        out_keys += [t] * rows[t].size
        out_bound.append(bound)
    return np.concatenate(out_rows), np.asarray(out_keys, dtype=object), np.concatenate(out_bound)


def _lists(blocks: _Blocks, picked: dict[str, list]) -> dict[str, _List]:
    return {t: _List(blocks, np.sort(np.asarray(r, dtype=np.int64))) for t, r in picked.items()}


def _flat_or(blocks: _Blocks, q: BinQuery):
    rows = {t: blocks.rows(t) for t in q.match[1]}
    rows = {t: r for t, r in rows.items() if r.size}
    if not rows:
        return _NO_DOCS, _NO_SCORES
    if q.k is None or min(q.weights[t] for t in rows) <= 0.0:
        lists = _lists(blocks, rows)
        docs = _union(lists.values())
        return docs, _score(q, lists, docs)
    row_ids, row_keys, bound = _bounds(blocks, q, rows)
    # descending bound; ties by key then docID range (deterministic)
    order = np.lexsort((blocks.first[row_ids], row_keys.astype(str), -bound))
    theta = 0.0
    picked: dict[str, list] = {}
    docs, scores = _NO_DOCS, _NO_SCORES
    i, step = 0, 1
    while i < order.size and bound[order[i]] >= theta:
        for j in order[i : i + step]:
            picked.setdefault(row_keys[j], []).append(int(row_ids[j]))
        i += step
        step *= 2
        lists = _lists(blocks, picked)
        docs = _union(lists.values())
        scores = _score(q, lists, docs)
        # partial sums never exceed final scores, so the kth best of
        # them bounds the bin's kth-best score from below
        if scores.size >= q.k:
            theta = max(theta, float(np.partition(scores, scores.size - q.k)[scores.size - q.k]))
    if theta > 0.0:
        # a doc scoring ≥ θ has every block's bound ≥ θ, so it was
        # scored in full; the rest may be partial and cannot rank
        keep = scores >= theta
        docs, scores = docs[keep], scores[keep]
    return docs, scores


def _flat_and(blocks: _Blocks, q: BinQuery):
    keys = q.match[1]
    rows = {t: blocks.rows(t) for t in keys}
    if any(r.size == 0 for r in rows.values()):
        return _NO_DOCS, _NO_SCORES
    # a block is read only when every other key has a block overlapping it
    live = {t: np.ones(r.size, dtype=bool) for t, r in rows.items()}
    for t in keys:
        for t2 in keys:
            if t2 != t:
                a, b = _overlap_range(blocks, rows[t], rows[t2])
                live[t] &= a < b
    rows = {t: r[live[t]] for t, r in rows.items()}
    lists = _lists(blocks, rows)
    docs = lists[keys[0]].docs
    for t in keys[1:]:
        docs = np.intersect1d(docs, lists[t].docs, assume_unique=True)
    return docs, _score(q, lists, docs)


def _eval_tree(expr, mask: np.ndarray) -> np.ndarray:
    op = expr[0]
    if op == "any":
        return (mask & expr[1]) != 0
    if op == "all":
        return (mask & expr[1]) == expr[1]
    if op == "not":
        return _eval_tree(expr[1], mask) & ~_eval_tree(expr[2], mask)
    out = _eval_tree(expr[1][0], mask)
    for e in expr[1][1:]:
        out = (out | _eval_tree(e, mask)) if op == "or" else (out & _eval_tree(e, mask))
    return out


def _tree(blocks: _Blocks, q: BinQuery):
    _, keys, expr = q.match
    lists = {t: _List(blocks, blocks.rows(t)) for t in keys if blocks.rows(t).size}
    docs = _union(lists.values())
    mask = np.zeros(docs.size, dtype=np.int64)
    for i, t in enumerate(keys):
        if t in lists:
            mask |= lists[t].find(docs)[0].astype(np.int64) << i
    docs = docs[_eval_tree(expr, mask)]
    return docs, _score(q, lists, docs)


def _positional(blocks: _Blocks, q: BinQuery):
    _, keys, is_phrase, window = q.match
    distinct = sorted(set(keys))
    if any(blocks.rows(t).size == 0 for t in distinct):
        return _NO_DOCS, _NO_SCORES
    lists = {t: _List(blocks, blocks.rows(t)) for t in distinct}
    docs = lists[distinct[0]].docs
    for t in distinct[1:]:
        docs = np.intersect1d(docs, lists[t].docs, assume_unique=True)
    flat = {t: lists[t].find(docs)[1] for t in distinct}
    hit = np.fromiter(
        (
            positions_satisfy([lists[t].positions(int(flat[t][j])) for t in keys], is_phrase, window)
            for j in range(docs.size)
        ),
        dtype=bool,
        count=docs.size,
    )
    docs = docs[hit]
    return docs, _score(q, lists, docs)


_PLANS = {"or": _flat_or, "and": _flat_and, "tree": _tree, "pos": _positional}


def score_bin(
    pdf,
    lo: int,
    hi: int,
    queries: dict[str, BinQuery],
    exclude: "np.ndarray | None" = None,
    stats: dict | None = None,
) -> list[tuple[str, np.ndarray, np.ndarray]]:
    """Each query's matches among docs in [lo, hi): its exact top-k
    sorted by (-score, doc_id), or every match when its ``k`` is None.

    ``pdf``: the bin's segment block rows (``term, first_doc, last_doc,
    docs, tfs, dls, max_tf, min_dl`` and ``positions`` when a positional
    query reads them). ``exclude``: tombstoned docIDs. ``stats``:
    optional dict accumulating ``blocks_decoded``. Returns
    ``[(query_id, doc_ids, scores)]``."""
    blocks = _Blocks(pdf, lo, hi, exclude, stats)
    out = []
    for qid, q in queries.items():
        docs, scores = _PLANS[q.match[0]](blocks, q)
        if q.k is not None:
            top = np.lexsort((docs, -scores))[: q.k]
            docs, scores = docs[top], scores[top]
        out.append((qid, docs, scores))
    return out
