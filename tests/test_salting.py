"""Heavy-hitter salting: Zipf-head terms split into (term, salt) doc-range
sub-lists must still produce rank-identical results on both query paths
(the range-salt keeps per-term blocks globally sorted — SURVEY.md §7
step 7's correctness claim)."""

import pytest
from pyspark.sql import functions as F

from noise_spark.corpus import generate_pages
from noise_spark.index.build import BuildConfig, build_index
from noise_spark.oracle import OracleIndex
from noise_spark.query import IndexReader
from noise_spark.query import plan as P


@pytest.fixture(scope="module")
def salted_index(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("salted") / "idx")
    pages = generate_pages(spark, 600, seed=42, partitions=4)
    # absurdly low threshold so every head term splits into many salts
    build_index(
        spark, pages, idx, BuildConfig(block_size=32, postings_per_salt=60)
    )
    return idx


def test_head_terms_are_salted(spark, salted_index):
    reader = IndexReader(spark, salted_index)
    salts = (
        reader.segments.filter(F.col("term") == "w00000")
        .select("salt")
        .distinct()
        .count()
    )
    assert salts > 1, "head term should split into multiple salts"
    # salts are doc-id ranges: per-salt block ranges must not interleave
    rows = (
        reader.segments.filter(F.col("term") == "w00000")
        .select("salt", "first_doc", "last_doc")
        .collect()
    )
    by_salt = {}
    for r in rows:
        by_salt.setdefault(r["salt"], []).append((r["first_doc"], r["last_doc"]))
    bounds = sorted(
        (min(f for f, _ in v), max(l for _, l in v)) for v in by_salt.values()
    )
    for (f1, l1), (f2, l2) in zip(bounds, bounds[1:]):
        assert l1 < f2, "salt doc-ranges must be disjoint and ordered"


def test_salted_rank_identity(spark, salted_index):
    reader = IndexReader(spark, salted_index)
    docs = reader.docs.select("doc_id", "text").collect()
    oracle = OracleIndex([(r["doc_id"], r["text"]) for r in docs])
    for node in (
        P.Or((P.Term("w00000"),)),
        P.Or((P.Term("w00000"), P.Term("w00050"), P.Term("w01500"))),
        P.And((P.Term("w00000"), P.Term("w00002"))),
    ):
        want = oracle.search(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in reader.search(node, k=10).collect()]
        assert got == want
        for bins in (1, 5):
            gw = [
                (r["doc_id"], r["score"])
                for r in reader.search(node, k=10, n_bins=bins).collect()
            ]
            assert gw == want, f"wand bins={bins}"
