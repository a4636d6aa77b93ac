"""Differential test of the per-bin top-k kernel against the pure-Python
oracle: random nested And/Or/Not trees with boosts, phrases and
proximity windows, over 4-doc blocks that straddle docID bins, with and
without tombstones. Scores must be bitwise equal.

Two levels: the kernel alone (``wand.score_bin`` over the collected
segment rows, binned here exactly as the Spark plan bins them — fast, so
many examples), and the whole Spark plan (``search`` / the unlimited
kernel scan) on the live, tombstone-row and tombstone-mask paths. Trees
with phrase and proximity leaves check the match-set joins and the
kernel-scored match set around them (``search``, ``scored_matches``,
``_match_set``) on the same three paths."""

import random

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from noise_spark.index.build import BuildConfig, build_index
from noise_spark.index.incremental import delete_docs
from noise_spark.oracle import OracleIndex
from noise_spark.query import IndexReader
from noise_spark.query import plan as P
from noise_spark.query.wand import score_bin

VOCAB = ["a", "b", "c", "d", "e", "f", "g"]
N_DOCS = 60
ALL = N_DOCS + 1  # a k that keeps every match


def _corpus() -> list[tuple[int, str]]:
    rng = random.Random(11)
    weights = [2.0 ** -i for i in range(len(VOCAB))]
    return [
        (d, " ".join(rng.choices(VOCAB, weights, k=rng.randint(1, 12))))
        for d in range(N_DOCS)
    ]


def _build(spark, path: str) -> None:
    pdf = pd.DataFrame(
        [(d, f"u{d}", t) for d, t in _corpus()], columns=["doc_id", "url", "text"]
    )
    build_index(
        spark,
        spark.createDataFrame(pdf),
        path,
        BuildConfig(analyzer="whitespace", doc_id_col="doc_id", block_size=4),
    )


class _Case:
    """A reader, the oracle over its live docs, and the Spark-free
    inputs of the kernel: every segment row and the tombstoned docIDs."""

    def __init__(self, reader: IndexReader, deleted: set[int]):
        self.reader = reader
        self.oracle = OracleIndex([(d, t) for d, t in _corpus() if d not in deleted])
        self.segments = reader.segments.select(
            "term", "first_doc", "last_doc", "docs", "tfs", "dls", "max_tf", "min_dl", "positions"
        ).toPandas()
        self.exclude = np.array(sorted(deleted), dtype=np.int64)
        self.dfs = reader.term_dfs(VOCAB + ["zzz"])


@pytest.fixture(scope="module")
def cases(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("kernel_fuzz")
    live, deleted = str(base / "live"), str(base / "deleted")
    _build(spark, live)
    _build(spark, deleted)
    victims = {d for d in range(N_DOCS) if d % 3 == 0 or d in (4, 5, 6, 7)}
    delete_docs(spark, deleted, [f"u{d}" for d in sorted(victims)])
    masks = IndexReader(spark, deleted)
    masks.BROADCAST_TOMBSTONES_MAX = 0  # the bitmap-mask cogroup
    return {
        "live": _Case(IndexReader(spark, live), set()),
        "rows": _Case(IndexReader(spark, deleted), victims),
        "masks": _Case(masks, victims),
    }


terms = st.sampled_from(VOCAB + ["zzz"])  # zzz: absent from the corpus
boosts = st.sampled_from([1.0, 0.5, 2.0, 3.0])
leaves = st.builds(lambda t, b: P.Term(t, boost=b), terms, boosts)
phrases = st.builds(
    lambda ts, b: P.Phrase(tuple(ts), boost=b), st.lists(terms, min_size=2, max_size=3), boosts
)
proximities = st.builds(
    lambda ts, w, b: P.Proximity(tuple(ts), window=w, boost=b),
    st.lists(terms, min_size=2, max_size=3),
    st.integers(1, 6),
    boosts,
)


def _boolean(kids):
    return st.one_of(
        st.builds(lambda cs, b: P.Or(tuple(cs), boost=b), st.lists(kids, min_size=1, max_size=3), boosts),
        st.builds(lambda cs, b: P.And(tuple(cs), boost=b), st.lists(kids, min_size=1, max_size=3), boosts),
        st.builds(P.Not, kids, kids),
    )


trees = st.recursive(leaves, _boolean, max_leaves=6)
nodes = st.one_of(trees, phrases, proximities)
# boolean trees whose leaves may be phrases and proximities too: the
# match-set joins around the kernel's positional and term-tree plans
mixed_trees = st.recursive(st.one_of(leaves, phrases, proximities), _boolean, max_leaves=5)
KS = st.sampled_from([1, 3, None])
BINS = st.sampled_from([1, 3, 7])
PATHS = st.sampled_from(["live", "rows", "masks"])


def _kernel_alone(case: _Case, node, k, n_bins) -> list[tuple[int, float]]:
    """The Spark plan's binning and merge around ``score_bin``, on the
    driver: a block goes to every bin its docID range overlaps."""
    q = case.reader._bin_query(node, case.dfs, k)
    if q is None:
        return []
    bw = max(1, -(-case.reader.n_docs // n_bins))
    segs = case.segments[case.segments["term"].isin(set(q.match[1]))]
    got = []
    for b in range(N_DOCS // bw + 1):
        lo, hi = b * bw, (b + 1) * bw
        pdf = segs[(segs["first_doc"] < hi) & (segs["last_doc"] >= lo)].reset_index(drop=True)
        if not len(pdf):
            continue
        excl = case.exclude[(case.exclude >= lo) & (case.exclude < hi)]
        ((_, docs, scores),) = score_bin(pdf, lo, hi, {"q": q}, excl if excl.size else None)
        assert q.k is None or docs.size <= q.k
        got += zip(docs.tolist(), scores.tolist())
    return sorted(got, key=lambda x: (-x[1], x[0]))[: k or ALL]


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(node=nodes, k=KS, n_bins=BINS, path=st.sampled_from(["live", "rows"]))
def test_kernel_matches_oracle(cases, node, k, n_bins, path):
    case = cases[path]
    assert _kernel_alone(case, node, k, n_bins) == case.oracle.search(node, k=k or ALL)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(node=nodes, k=KS, n_bins=BINS, path=PATHS)
def test_spark_kernel_matches_oracle(cases, node, k, n_bins, path):
    case = cases[path]
    r = case.reader
    if k is None:
        df = r._kernel({"q": node}, None, n_bins)
        got = sorted(((x["doc_id"], x["score"]) for x in df.collect()), key=lambda x: (-x[1], x[0]))
    else:
        got = [(x["doc_id"], x["score"]) for x in r.search(node, k=k, n_bins=n_bins).collect()]
    assert got == case.oracle.search(node, k=k or ALL)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(batch=st.lists(nodes, min_size=1, max_size=4), k=st.sampled_from([1, 3]), path=PATHS)
def test_search_many_kernel_matches_oracle(cases, batch, k, path):
    case = cases[path]
    got: dict[str, list] = {}
    for x in case.reader.search_many({str(i): n for i, n in enumerate(batch)}, k=k).collect():
        got.setdefault(x["query_id"], []).append((x["doc_id"], x["score"]))
    for i, node in enumerate(batch):
        mine = sorted(got.get(str(i), []), key=lambda x: (-x[1], x[0]))
        assert mine == case.oracle.search(node, k=k), i


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(node=mixed_trees, path=PATHS)
def test_mixed_trees_match_oracle(cases, node, path):
    """Trees with phrase and proximity leaves: the top-k of ``search``,
    the full ``scored_matches`` set (bitwise scores, score-0 docs
    included) and the unscored ``_match_set`` all equal the oracle's."""
    case = cases[path]
    r = case.reader
    want = case.oracle.search(node, k=ALL)
    for k in (1, 3):
        got = [(x["doc_id"], x["score"]) for x in r.search(node, k=k).collect()]
        assert got == want[:k], k
    scored = [(x["doc_id"], x["score"]) for x in r.scored_matches(node).collect()]
    assert sorted(scored, key=lambda x: (-x[1], x[0])) == want
    matched = sorted(x["doc_id"] for x in r._match_set(node).collect())
    assert matched == sorted(case.oracle._match(node))
