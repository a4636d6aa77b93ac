"""The benchmark's own BM25 reference and top-k checker.

Independent of noise_spark (in particular of ``noise_spark.oracle``):
scores are computed from the generated tokens with BM25 (k1=1.2,
b=0.75), contributions summed in ascending term order, ties ranked by
ascending url (urls sort like the dense docIDs the engine assigns).
The generated words and pinned phrase words are distinct after
stemming, so raw tokens stand in for the analyzer's terms.
"""

from __future__ import annotations

import math

K1 = 1.2
B = 0.75
SCORE_RTOL = 1e-9
# two reference scores this close are one tie group: a different float
# summation order may rank their docs either way
TIE_RTOL = 1e-12


def _close(a: float, b: float, rtol: float) -> bool:
    return abs(a - b) <= rtol * max(1.0, abs(a), abs(b))


class Reference:
    """Live document set with positional postings; supports add/delete
    so a write probe can track appends, deletes and upserts."""

    def __init__(self, urls, tokens):
        self.postings: dict[str, dict[str, list[int]]] = {}
        self.dl: dict[str, int] = {}
        self.add(urls, tokens)

    def add(self, urls, tokens) -> None:
        for url, toks in zip(urls, tokens):
            if url in self.dl:
                self.delete([url])
            self.dl[url] = len(toks)
            for pos, term in enumerate(toks):
                self.postings.setdefault(term, {}).setdefault(url, []).append(pos)

    def delete(self, urls) -> None:
        for url in urls:
            if self.dl.pop(url, None) is None:
                continue
            for term in list(self.postings):
                pl = self.postings[term]
                if pl.pop(url, None) is not None and not pl:
                    del self.postings[term]

    @property
    def urls(self) -> list[str]:
        return sorted(self.dl)

    def df(self, term: str) -> int:
        return len(self.postings.get(term, ()))

    @property
    def avg_dl(self) -> float:
        return float(sum(self.dl.values())) / max(len(self.dl), 1)

    # -- matching -----------------------------------------------------------------
    def match(self, q: tuple) -> set[str]:
        kind = q[0]
        if kind == "term":
            return set(self.postings.get(q[1], ()))
        if kind == "or":
            return set().union(*(self.match(c) for c in q[1]))
        if kind == "and":
            return set.intersection(*(self.match(c) for c in q[1]))
        if kind == "not":
            return self.match(q[1]) - self.match(q[2])
        if kind == "phrase":
            return {u for u in self._with_all(q[1]) if self._phrase_at(q[1], u)}
        if kind == "prox":
            return {u for u in self._with_all(q[1]) if self._within(q[1], u, q[2])}
        raise ValueError(f"unknown query kind {kind!r}")

    def _with_all(self, terms) -> set[str]:
        return set.intersection(*(set(self.postings.get(t, ())) for t in terms))

    def _phrase_at(self, terms, url: str) -> bool:
        later = [set(self.postings[t][url]) for t in terms[1:]]
        return any(
            all(p + i in s for i, s in enumerate(later, start=1))
            for p in self.postings[terms[0]][url]
        )

    def _within(self, terms, url: str, window: int) -> bool:
        """Some occurrence of every term inside a span of ``window``."""
        events = sorted((p, i) for i, t in enumerate(terms) for p in self.postings[t][url])
        need = len(terms)
        count: dict[int, int] = {}
        lo = 0
        for hi, (p_hi, i_hi) in enumerate(events):
            count[i_hi] = count.get(i_hi, 0) + 1
            while len(count) == need:
                if p_hi - events[lo][0] <= window:
                    return True
                i_lo = events[lo][1]
                count[i_lo] -= 1
                if not count[i_lo]:
                    del count[i_lo]
                lo += 1
        return False

    # -- scoring ------------------------------------------------------------------
    def scoring_terms(self, q: tuple) -> set[str]:
        kind = q[0]
        if kind == "term":
            return {q[1]}
        if kind in ("or", "and"):
            return set().union(*(self.scoring_terms(c) for c in q[1]))
        if kind == "not":
            return self.scoring_terms(q[1])
        return set(q[1])  # phrase / prox: every listed term scores

    def ranked(self, q: tuple) -> list[tuple[str, float]]:
        """Every matching doc as (url, score), best first."""
        n = len(self.dl)
        avg_dl = self.avg_dl
        weights = []
        for t in sorted(self.scoring_terms(q)):
            df = self.df(t)
            if df:
                weights.append((t, math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * 1.0))
        out = []
        for url in self.match(q):
            dl = float(self.dl[url])
            acc = 0.0
            for t, w in weights:
                pos = self.postings[t].get(url)
                if pos:
                    tf = float(len(pos))
                    acc = acc + w * ((tf * (K1 + 1.0)) / (tf + K1 * ((1.0 - B) + B * (dl / avg_dl))))
            out.append((url, acc))
        out.sort(key=lambda r: (-r[1], r[0]))
        return out


def check_topk(got: list[tuple[str, float]], ranked: list[tuple[str, float]], k: int) -> str | None:
    """None when ``got`` is the reference top-k, else what differs.

    Urls must match rank by rank and scores to ``SCORE_RTOL``; a doc may
    stand in for another only when their reference scores tie."""
    want = ranked[:k]
    if len(got) != len(want):
        return f"{len(got)} results, expected {len(want)}"
    if len({u for u, _ in got}) != len(got):
        return "duplicate url in results"
    for i, ((gu, gs), (wu, ws)) in enumerate(zip(got, want)):
        if not _close(gs, ws, SCORE_RTOL):
            return f"rank {i}: score {gs!r}, expected {ws!r}"
        if gu != wu and gu not in {u for u, s in ranked if _close(s, ws, TIE_RTOL)}:
            return f"rank {i}: {gu}, expected {wu}"
    return None
