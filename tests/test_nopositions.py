"""store_positions=False: identical BM25/boolean results, smaller
segments, clear error on phrase/proximity (the omit-positions scale
lever — positions are the largest per-posting payload)."""

import os

import pytest

from noise_spark.corpus import generate_pages
from noise_spark.index.build import BuildConfig, build_index
from noise_spark.query import IndexReader
from noise_spark.query import plan as P


def _dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


@pytest.fixture(scope="module")
def two_indexes(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("nopos")
    pages = generate_pages(spark, 400, seed=42, partitions=4)
    with_pos = str(base / "with_pos")
    no_pos = str(base / "no_pos")
    build_index(spark, pages, with_pos, BuildConfig(block_size=64))
    build_index(
        spark, pages, no_pos, BuildConfig(block_size=64, store_positions=False)
    )
    return with_pos, no_pos


def test_scored_and_boolean_results_identical(spark, two_indexes):
    with_pos, no_pos = two_indexes
    a, b = IndexReader(spark, with_pos), IndexReader(spark, no_pos)
    assert b.has_positions is False and a.has_positions is True
    for node in (
        P.Or((P.Term("w00000"),)),
        P.Or((P.Term("w00050"), P.Term("w01500"))),
        P.And((P.Term("w00050"), P.Term("w00007"))),
        P.Not(P.Term("w00050"), P.Term("w00002")),
    ):
        ra = [(r["doc_id"], r["score"]) for r in a.search(node, k=10).collect()]
        rb = [(r["doc_id"], r["score"]) for r in b.search(node, k=10).collect()]
        assert ra == rb, node
    wa = [(r["doc_id"], r["score"]) for r in a.search(P.Or((P.Term("w00050"), P.Term("w01500"))), k=10).collect()]
    wb = [(r["doc_id"], r["score"]) for r in b.search(P.Or((P.Term("w00050"), P.Term("w01500"))), k=10).collect()]
    assert wa == wb


def test_segments_smaller_without_positions(two_indexes):
    with_pos, no_pos = two_indexes
    sa = _dir_bytes(os.path.join(with_pos, "segments"))
    sb = _dir_bytes(os.path.join(no_pos, "segments"))
    assert sb < sa * 0.9, (sa, sb)


def test_phrase_raises_without_positions(spark, two_indexes):
    _, no_pos = two_indexes
    r = IndexReader(spark, no_pos)
    with pytest.raises(ValueError, match="store_positions"):
        r._match_set(P.Phrase(("w00000", "w00001"))).collect()
    with pytest.raises(ValueError, match="store_positions"):
        r._match_set(P.Proximity(("w00000", "w00001"), window=3)).collect()


def test_exact_match_without_positions(spark, two_indexes):
    """Without positions, ExactMatch prefilters with the AND of its
    tokens instead of a phrase; the verified match set is the same."""
    with_pos, no_pos = two_indexes
    a, b = IndexReader(spark, with_pos), IndexReader(spark, no_pos)
    txt = a.docs.filter("doc_id = 5").select("text").collect()[0]["text"]
    for lit in ("w00050 w00007", txt):
        node = P.ExactMatch(lit)
        ra = sorted(r["doc_id"] for r in a._match_set(node).collect())
        rb = sorted(r["doc_id"] for r in b._match_set(node).collect())
        assert ra == rb, lit
    assert 5 in rb
