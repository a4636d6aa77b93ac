"""Multi-field (keypath-scoped) indexing: field-scoped terms, per-field
BM25 stats, phrase-in-field — the reference's ``{field: ~= "w"}``
semantics (src/json_shred.rs:485-576, src/key_builder.rs:64-82)."""

import math

import pytest

from noise_spark.index.build import BuildConfig, build_index
from noise_spark.query import IndexReader
from noise_spark.query import plan as P

K1, B = 1.2, 0.75


@pytest.fixture(scope="module")
def mf_reader(spark, tmp_path_factory):
    rows = [
        # (doc_id, title, body)
        (0, "spark shuffle guide", "the shuffle moves data between executors"),
        (1, "join strategies", "broadcast joins avoid the shuffle entirely"),
        (2, "bm25 scoring", "term frequency and document length drive bm25"),
        (3, "shuffle internals", "sort based shuffle writes spill files"),
        (4, "tuning guide", "partition counts matter for shuffle heavy jobs"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, title string, body string")
    idx = str(tmp_path_factory.mktemp("mf") / "idx")
    build_index(
        spark,
        df,
        idx,
        BuildConfig(
            analyzer="whitespace",
            doc_id_col="doc_id",
            fields=("body", "title"),
            block_size=4,
        ),
    )
    return IndexReader(spark, idx)


def test_field_stats_per_field(mf_reader):
    r = mf_reader
    assert r.fields == ["body", "title"]
    assert r.default_field == "body"
    assert r.scoped
    assert r.n_docs == 5
    # body: 6+6+7+6+7=32 tokens; title: 3+2+2+2+2=11
    assert r.field_avg_dl["body"] == pytest.approx(32 / 5)
    assert r.field_avg_dl["title"] == pytest.approx(11 / 5)


def test_field_scoped_match_sets(mf_reader):
    r = mf_reader
    # "shuffle" in title: docs 0, 3; in body (default): 0, 1, 3, 4
    title_docs = {x["doc_id"] for x in r._match_set(P.Term("shuffle", field="title")).collect()}
    body_docs = {x["doc_id"] for x in r._match_set(P.Term("shuffle")).collect()}
    assert title_docs == {0, 3}
    assert body_docs == {0, 1, 3, 4}


def test_field_scoped_bm25_hand_computed(mf_reader):
    r = mf_reader
    # single term "guide" in title: docs 0, 4 (tf=1, dl=3 / dl=2)
    rows = r.search(P.Term("guide", field="title"), k=10).collect()
    idf = math.log(1.0 + (5 - 2 + 0.5) / (2 + 0.5))
    avg = 11 / 5

    def s(dl):
        return idf * (1 * (K1 + 1.0)) / (1 + K1 * ((1 - B) + B * (dl / avg)))

    got = {x["doc_id"]: x["score"] for x in rows}
    assert got[0] == pytest.approx(s(3), rel=1e-12)
    assert got[4] == pytest.approx(s(2), rel=1e-12)
    assert rows[0]["doc_id"] == 4  # shorter title ranks first


def test_cross_field_or_and_wand_identity(mf_reader):
    r = mf_reader
    node = P.Or((P.Term("shuffle"), P.Term("guide", field="title"), P.Term("bm25", field="title")))
    a = [(x["doc_id"], x["score"]) for x in r.search(node, k=5).collect()]
    b = [(x["doc_id"], x["score"]) for x in r.search(node, k=5, n_bins=3).collect()]
    assert a == b
    assert len(a) == 5


def test_phrase_in_field(mf_reader):
    r = mf_reader
    hits = {x["doc_id"] for x in r._match_set(P.Phrase(("shuffle", "guide"), field="title")).collect()}
    assert hits == {0}
    # same words not adjacent in body anywhere
    hits_body = {x["doc_id"] for x in r._match_set(P.Phrase(("shuffle", "guide"))).collect()}
    assert hits_body == set()


def test_unknown_field_rejected(mf_reader):
    with pytest.raises(ValueError, match="not indexed"):
        mf_reader.search(P.Term("x", field="nope"), k=5).collect()


def test_single_field_index_rejects_scoping(spark, small_index):
    idx_dir, _ = small_index
    r = IndexReader(spark, idx_dir)
    assert not r.scoped
    with pytest.raises(ValueError, match="single field"):
        r.search(P.Term("w00000", field="title"), k=5).collect()


# -- array-valued (multi-valued) fields: the arraypath re-expression ----------

@pytest.fixture(scope="module")
def arr_reader(spark, tmp_path_factory):
    rows = [
        (0, ["big data tools", "fast shuffle engine"], "x"),
        (1, ["fast big data", "slow join"], "x"),
        (2, ["nothing here"], "x"),
        (3, [], "x"),
        (4, None, "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, tags array<string>, body string")
    idx = str(tmp_path_factory.mktemp("arr") / "idx")
    build_index(
        spark,
        df,
        idx,
        BuildConfig(
            analyzer="whitespace",
            doc_id_col="doc_id",
            fields=("body", "tags"),
            block_size=4,
        ),
    )
    return IndexReader(spark, idx)


def test_array_field_terms_match(arr_reader):
    got = [r["doc_id"] for r in arr_reader._match_set(P.Term("fast", field="tags")).orderBy("doc_id").collect()]
    assert got == [0, 1]
    # dl of an array field = total tokens across elements; an absent
    # (null) field falls back to the null-string path, whose whitespace
    # analysis yields one empty token (same as the DuckDB oracle's
    # string_split('', ' ') — established single-field behavior)
    assert arr_reader.field_avg_dl["tags"] == pytest.approx((6 + 5 + 2 + 0 + 1) / 5)


def test_array_field_phrase_stays_within_element(arr_reader):
    # "big data" occurs inside single elements of docs 0 and 1
    got = [r["doc_id"] for r in arr_reader._match_set(P.Phrase(("big", "data"), field="tags")).orderBy("doc_id").collect()]
    assert got == [0, 1]
    # "tools fast" spans the element boundary in doc 0 — the reference's
    # (seq, arraypath) match identity forbids it (src/query.rs:21-26);
    # the POSITION_GAP makes cross-element adjacency impossible
    got = arr_reader._match_set(P.Phrase(("tools", "fast"), field="tags")).collect()
    assert got == []


def test_array_field_proximity_stays_within_element(arr_reader):
    # within one element: "fast ... engine" (distance 2) matches doc 0
    got = [r["doc_id"] for r in arr_reader._match_set(P.Proximity(("fast", "engine"), window=2, field="tags")).collect()]
    assert got == [0]
    # across elements: "tools" (el 0) vs "engine" (el 1) never within any
    # realistic window
    got = arr_reader._match_set(P.Proximity(("tools", "engine"), window=50, field="tags")).collect()
    assert got == []


def test_fields_auto_derives_from_schema(spark, tmp_path):
    """fields='auto' indexes every string / array<string> column except
    identity surfaces (url, doc_id, html), with text as the default
    field — the typed-column stand-in for the reference's shred-time
    keypath discovery (src/json_shred.rs:485-576)."""
    import pandas as pd

    from noise_spark.query import IndexReader
    from noise_spark.query import plan as P

    rows = [
        (0, "u0", "spark shuffles data", "en", ["fast", "query"], 11),
        (1, "u1", "duckdb scans parquet", "de", ["fast", "scan"], 22),
        (2, "u2", "postings compress well", "en", ["codec"], 33),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["doc_id", "url", "text", "lang", "tags", "n_chars"]
        )
    )
    idx = str(tmp_path / "auto")
    build_index(
        spark,
        df,
        idx,
        BuildConfig(analyzer="whitespace", doc_id_col="doc_id", fields="auto"),
    )
    r = IndexReader(spark, idx)
    assert tuple(r.fields) == ("text", "lang", "tags")
    assert r.default_field == "text"
    got = sorted(
        x["doc_id"] for x in r._match_set(P.Term("fast", field="tags")).collect()
    )
    assert got == [0, 1]
    assert [
        x["doc_id"] for x in r._match_set(P.Term("de", field="lang")).collect()
    ] == [1]


@pytest.fixture(scope="module")
def typed_array_reader(spark, tmp_path_factory):
    """Typed multi-field index with an array<string> column and NO
    schemaless depth shadows (the ADVICE r5 repro: element word
    conditions must verify against the stored column, not dead-key to
    an empty prefilter)."""
    rows = [
        (0, "alpha doc", ["quick fox", "lazy dog"]),
        (1, "beta doc", ["slow fox"]),
        (2, "gamma doc", ["quick brown"]),
        (3, "delta doc", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tags array<string>")
    idx = str(tmp_path_factory.mktemp("typedarr") / "idx")
    build_index(
        spark,
        df,
        idx,
        BuildConfig(
            analyzer="whitespace",
            doc_id_col="doc_id",
            fields=("text", "tags"),
            block_size=4,
        ),
    )
    return IndexReader(spark, idx)


def test_elem_word_on_typed_array_column(typed_array_reader):
    """{tags: [~= "fox"]} on a typed corpus (no depth shadows) must
    match docs whose stored array has a satisfying ELEMENT — the
    prefilter falls back to field-present + verify instead of probing a
    dead shadow key (which silently returned [])."""
    r = typed_array_reader
    got = {x["doc_id"] for x in r._match_set(
        P.ElemWord("tags", ("word", ("fox",), None), depth=1)
    ).collect()}
    assert got == {0, 1}
    # negated arm inside the tree: element with fox but NOT quick
    got2 = {x["doc_id"] for x in r._match_set(
        P.ElemWord(
            "tags",
            ("wand", ("word", ("fox",), None), ("wnot", ("word", ("quick",), None))),
            depth=1,
        )
    ).collect()}
    assert got2 == {1}


def test_elem_phrase_and_proximity_on_typed_array_column(typed_array_reader):
    """An element phrase needs consecutive words, an element proximity
    every word within the window in any order — both inside ONE stored
    element."""
    r = typed_array_reader

    def hits(terms, window):
        node = P.ElemWord("tags", ("word", terms, window), depth=1)
        return {x["doc_id"] for x in r._match_set(node).collect()}

    assert hits(("quick", "brown"), None) == {2}
    assert hits(("quick", "fox"), None) == {0}
    assert hits(("brown", "quick"), None) == set()
    assert hits(("quick", "fox"), 2) == {0}
    assert hits(("fox", "quick"), 2) == {0}
    # "fox lazy" is adjacent in doc 0 only across its element boundary
    assert hits(("fox", "lazy"), None) == set()
    assert hits(("fox", "lazy"), 5) == set()
