"""Seeded benchmark inputs: the corpus, the query stream and write batches.

Everything here is derived from ``--seed`` alone, so the same seed gives
byte-identical inputs. The rules follow FIXTURES.md §1 (Zipf(1.1) words
``wNNNNN``, LogNormal(5, 0.6) lengths clipped to [10, 2000], 1% of docs
carry a pinned phrase, ``html`` wraps ``text``) at a smaller scale:
``N_DOCS`` pages over the first ``VOCAB`` words. The build cost of
noise_spark grows with the number of distinct terms (one grouped-map
call per term) on top of a fixed per-stage overhead: on a shared 4-core
box the full 10k vocabulary puts one cold build near 40 s, this scale
near 20 s, which keeps every run of the benchmark under about a minute.

Queries are plain tuples so that this module imports nothing from
noise_spark; ``workloads.to_plan`` turns them into plan nodes:

- ``("term", t)``
- ``("or", (child, ...))`` / ``("and", (child, ...))``
- ``("not", positive, negative)``
- ``("phrase", (t, ...))``
- ``("prox", (t, ...), window)``
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np

VOCAB = 400
ZIPF_S = 1.1
N_DOCS = 500
PHRASES = ("quick brown fox", "multi word sentence")
WORDS = tuple(f"w{i:05d}" for i in range(VOCAB))
# Zipf rank bands the query terms are drawn from
HEAD = (0, 10)
MID = (10, 200)
TAIL = (200, VOCAB)

_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
_PMF = np.arange(1, VOCAB + 1, dtype=np.float64) ** -ZIPF_S
_CDF = np.cumsum(_PMF / _PMF.sum())

# independent RNG streams per input kind, all keyed by the run seed
_CORPUS, _QUERIES, _APPENDS = 0, 1, 2


def _rng(seed: int, stream: int, *extra: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, *extra])


@dataclass(frozen=True)
class Corpus:
    """Documents in id order; ``tokens[i]`` are the words of ``texts[i]``."""

    urls: tuple
    texts: tuple

    @property
    def tokens(self) -> list[list[str]]:
        return [t.split(" ") for t in self.texts]

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.texts)

    def pages(self):
        """The engine's input table (FIXTURES.md §1 schema) as pandas."""
        import pandas as pd

        ids = [_doc_id(u) for u in self.urls]
        return pd.DataFrame(
            {
                "url": list(self.urls),
                "warc_ts": [_EPOCH + dt.timedelta(seconds=i) for i in ids],
                "html": [b"<html><body>" + t.encode("utf-8") + b"</body></html>" for t in self.texts],
                "text": list(self.texts),
                "lang": ["en" if i % 50 < 49 else ("de" if i % 2 == 0 else "fr") for i in ids],
            }
        )

    def write(self, path: str, n_files: int) -> None:
        """The pages as ``n_files`` parquet files under ``path``, written
        without Spark, so that set-up runs no job of the engine."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema(
            [
                ("url", pa.string()),
                ("warc_ts", pa.timestamp("us", tz="UTC")),
                ("html", pa.binary()),
                ("text", pa.string()),
                ("lang", pa.string()),
            ]
        )
        table = pa.Table.from_pandas(self.pages(), schema=schema, preserve_index=False)
        os.makedirs(path)
        step = -(-table.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def _url(i: int) -> str:
    return f"https://site{i % 1000:04d}.example/{i:06d}"


def _doc_id(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


def make_corpus(seed: int, first_id: int = 0, n_docs: int = N_DOCS, stream: int = _CORPUS) -> Corpus:
    """``n_docs`` pages with ids ``first_id..``."""
    rng = _rng(seed, stream, first_id)
    lengths = np.clip(np.exp(rng.normal(5.0, 0.6, n_docs)), 10, 2000).astype(np.int64)
    words = np.asarray(WORDS)[np.searchsorted(_CDF, rng.random(int(lengths.sum())))]
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    urls, texts = [], []
    for j in range(n_docs):
        i = first_id + j
        text = " ".join(words[bounds[j] : bounds[j + 1]].tolist())
        if i % 100 == 0:
            text += " " + PHRASES[(i // 100) % len(PHRASES)]
        urls.append(_url(i))
        texts.append(text)
    return Corpus(tuple(urls), tuple(texts))


# -- query stream ----------------------------------------------------------------


def _draw(rng: np.random.Generator, band: tuple, n: int = 1) -> list[str]:
    idx = rng.choice(np.arange(*band), size=n, replace=False)
    return [WORDS[i] for i in sorted(idx.tolist())]


def text_query(q: tuple) -> str:
    """Noise query-language text equivalent to a phrase tuple; the parser
    stems its words ("sentence" matches the indexed "sentenc")."""
    if q[0] != "phrase":
        raise ValueError(f"no text form for {q[0]}")
    words = " ".join(q[1])
    return f'find {{text: ~= "{words}"}} order score() desc return {{id: ._id, s: score()}} limit 10'


def pattern(seed: int, index: int) -> list[tuple[str, tuple]]:
    """The ``index``-th block of the query stream: one query per shape.

    Every block holds the same shapes so a run's mix does not depend on
    where it stops. Flat or/and shapes take IndexReader.query's WAND
    path; not/phrase/prox/nested take the exhaustive path; ``text_phrase``
    (a pinned phrase) goes through the query-language parser."""
    rng = _rng(seed, _QUERIES, index)
    h = _draw(rng, HEAD, 3)
    m = _draw(rng, MID, 3)
    t = _draw(rng, TAIL, 2)
    term = lambda w: ("term", w)  # noqa: E731
    return [
        ("or_head", ("or", (term(h[0]), term(h[1])))),
        ("or_mixed", ("or", (term(h[2]), term(m[0]), term(t[0])))),
        ("and", ("and", (term(h[0]), term(m[1])))),
        ("term_tail", ("or", (term(t[1]),))),
        ("not", ("not", term(m[0]), term(h[1]))),
        ("phrase", ("phrase", (h[0], h[1]))),
        ("prox", ("prox", (h[2], m[2]), 5)),
        ("nested", ("and", (("or", (term(m[1]), term(m[2]))), term(h[2])))),
        ("text_phrase", ("phrase", tuple(PHRASES[index % len(PHRASES)].split()))),
    ]


# -- write batches ----------------------------------------------------------------


def append_batch(seed: int, first_id: int, n_docs: int) -> Corpus:
    """New pages for an append, with ids from ``first_id`` (above the base)."""
    return make_corpus(seed, first_id=first_id, n_docs=n_docs, stream=_APPENDS)

