"""Schemaless ingestion surface (noise_spark/ingest.py) — field typing
and the whole-document return over an ingested index."""

import json

from noise_spark.index.build import BuildConfig, build_index
from noise_spark.ingest import FULLDOC_COL, VARIANT_TEXT_SUFFIX, ingest_json
from noise_spark.query.engine import IndexReader
from noise_spark.query.parser import run_query

DOCS = [
    {"_id": "1", "t": "quick brown fox", "n": 3, "tag": "a"},
    {"_id": "2", "t": "lazy dog", "n": 7, "tag": ["a", "b"]},
    {"_id": "3", "t": "quick dog", "n": 1, "tag": "c"},
]


def _build(spark, tmp_path):
    df = ingest_json(spark, [json.dumps(d) for d in DOCS])
    idx = str(tmp_path / "idx")
    build_index(
        spark,
        df,
        idx,
        BuildConfig(
            analyzer="whitespace",
            fields="auto",
            doc_id_col="doc_id",
            extra_doc_cols=("n", "tag", FULLDOC_COL),
            block_size=8,
        ),
    )
    return IndexReader(spark, idx)


def test_ingest_types(spark):
    df = ingest_json(spark, [json.dumps(d) for d in DOCS])
    dt = dict(df.dtypes)
    assert dt["t"] == "string"  # concrete merged schema → typed
    assert dt["n"] == "bigint"
    assert dt["tag"] == "variant"  # string-vs-array conflict → variant
    # one full-text shadow per array depth
    for d in ("", "1", "2"):
        assert dt[f"tag{VARIANT_TEXT_SUFFIX}{d}"] == "array<string>"
    assert dt[FULLDOC_COL] == "variant"
    assert {r["url"] for r in df.select("url").collect()} == {"1", "2", "3"}


def test_schemas_override_skips_inference(spark):
    """The 100 TB single-pass path: a pre-supplied schema map makes
    ingest_json skip the inference aggregation and produce the same
    frame; a doc conflicting with a supplied concrete schema casts to
    null for that column while its true value stays in _doc."""
    from noise_spark.ingest import infer_field_schemas

    docs = [json.dumps(d) for d in DOCS]
    inferred = ingest_json(spark, docs)
    from pyspark.sql import functions as F

    parsed = spark.createDataFrame([(d,) for d in docs], "_js string").select(
        F.parse_json("_js").alias(FULLDOC_COL)
    )
    schemas = infer_field_schemas(parsed)
    assert schemas["t"] == "STRING" and "VARIANT" in schemas["tag"]
    reused = ingest_json(spark, docs, schemas=schemas)
    assert reused.columns == inferred.columns
    assert dict(reused.dtypes) == dict(inferred.dtypes)
    a = {r["url"]: r["t"] for r in inferred.collect()}
    b = {r["url"]: r["t"] for r in reused.collect()}
    assert a == b
    # conflicting doc under a CONCRETE supplied schema: STRING targets
    # render the JSON text (lossless), non-string targets null; the
    # true value always remains in _doc
    forced = ingest_json(
        spark,
        docs + [json.dumps({"_id": "4", "t": "x", "n": "not-a-number", "tag": "d"})],
        schemas={"t": "STRING", "n": "BIGINT", "tag": "STRING"},
    )
    rows = {r["url"]: r for r in forced.collect()}
    assert rows["1"]["tag"] == "a" and rows["2"]["tag"] == '["a","b"]'
    assert rows["4"]["n"] is None  # string under BIGINT → null
    assert '"tag":["a","b"]' in rows["2"][FULLDOC_COL].toJson().replace(" ", "")


def test_wholedoc_return_hides_index_shadows(spark, tmp_path):
    """`return .` on a schemaless index renders the DOCUMENT — the
    `<f>__text*` shadow columns are index inputs derived from the
    variant field (ingest.py) and must not leak into the output."""
    reader = _build(spark, tmp_path)
    out = run_query(reader, 'find {t: ~= "quick"} return .', default_k=None)
    assert not [c for c in out.columns if VARIANT_TEXT_SUFFIX in c], out.columns
    for want in ("doc_id", "url", "t", "n", "tag", FULLDOC_COL):
        assert want in out.columns, out.columns
    rows = {r["url"]: r for r in out.collect()}
    assert set(rows) == {"1", "3"}
    assert rows["1"]["n"] == 3 and rows["1"]["t"] == "quick brown fox"
    # nested whole-doc (`return {d: .}`) — same exclusion inside a struct
    out2 = run_query(reader, 'find {t: ~= "quick"} return {d: .}', default_k=None)
    inner = [f.name for f in out2.schema["d"].dataType.fields]
    assert not [c for c in inner if VARIANT_TEXT_SUFFIX in c], inner


def test_array_element_match_excludes_scalar(spark, tmp_path):
    """{tag: [== "a"]} matches only docs whose tag IS an array with an
    "a" element — the scalar "a" on doc 1 must not satisfy the array
    condition (reference arraypath keyspaces, not.noise:33-47)."""
    reader = _build(spark, tmp_path)
    got = {
        r["result"]
        for r in run_query(
            reader, 'find {tag: [== "a"]} return ._id', default_k=None
        ).collect()
    }
    assert got == {"2"}
    # and the scalar equality addresses only scalars
    got2 = {
        r["result"]
        for r in run_query(
            reader, 'find {tag: == "a"} return ._id', default_k=None
        ).collect()
    }
    assert got2 == {"1"}


def test_dotted_key_ingests_as_literal_column(spark):
    """A JSON key literally containing '.' (the reference's escaped
    keypath chars) must ingest as its own column with the VALUES intact
    — the variant path interpolation bracket-quotes non-identifier keys
    instead of walking a→b (ADVICE r5)."""
    docs = [
        json.dumps({"_id": "1", "a.b": "hello world", "n": 1}),
        json.dumps({"_id": "2", "a.b": "bye", "n": 2}),
    ]
    df = ingest_json(spark, docs)
    assert "a.b" in df.columns
    vals = {r["url"]: r["a.b"] for r in df.select("url", "`a.b`").collect()}
    assert vals == {"1": "hello world", "2": "bye"}


def test_bbox_ignores_non_coordinate_numbers(spark):
    """bbox_overlap_json must derive extents from the coordinates
    member only — digits in sibling string values or extra numeric
    members must not corrupt the extents / x-y parity (ADVICE r5)."""
    from pyspark.sql import functions as F

    from noise_spark.query.variant import bbox_overlap_json

    rows = [
        # route66 digits + a z member would previously pollute extents
        ('{"type":"Point","coordinates":[10,20],"name":"Route 66","z":999}', True),
        ('{"type":"Point","coordinates":[10,20],"name":"Route 66"}', True),
        ('{"type":"Point","coordinates":[200,200],"name":"5 5"}', False),
        ("[[10,20],[11,21]]", True),  # bare coordinate array
        ('{"type":"Point"}', False),  # no coordinates at all
    ]
    df = spark.createDataFrame([(js,) for js, _ in rows], "js string").select(
        F.parse_json("js").alias("v"), "js"
    )
    got = [
        r["hit"]
        for r in df.select(
            "js", bbox_overlap_json(F.col("v"), 5, 15, 15, 25).alias("hit")
        ).collect()
    ]
    assert got == [want for _, want in rows]


def test_phrase_on_unknown_schemaless_field_matches_nothing(spark, tmp_path):
    """An element word clause on a field the index never saw resolves
    to a dead shadow key (no postings, no field avgdl). As a phrase, a
    proximity, an Or arm or a negative arm, scored or not, it matches
    nothing and subtracts nothing (not.noise:105 — an unknown keypath
    contributes zero matches)."""
    reader = _build(spark, tmp_path)

    def ids(q):
        return {r["result"] for r in run_query(reader, q, default_k=None).collect()}

    assert ids('find {missing: [~="quick brown"]} return ._id') == set()
    assert ids('find {missing: [~5="quick dog"]} return ._id') == set()
    assert ids('find {missing: [~="quick brown"]} || {t: ~="dog"} return ._id') == {"2", "3"}
    assert ids(
        'find {missing: [~="quick brown"]} || {t: ~="dog"} '
        "order score() desc return ._id"
    ) == {"2", "3"}
    # a dead key inside a scored term-only tree: a weightless Or arm,
    # and a negative arm that subtracts nothing
    assert ids(
        'find {missing: [~="quick"]} || {t: ~="dog"} order score() desc return ._id'
    ) == {"2", "3"}
    assert ids(
        'find {t: ~="dog"} && !{missing: [~="quick"]} order score() desc return ._id'
    ) == {"2", "3"}
