"""Incremental maintenance: append / delete / upsert / compact must keep
BM25 rank-identity vs a fresh oracle over the logical corpus (the
reference's exact counter-maintenance semantics, src/index.rs:301-322)."""

import pytest

from noise_spark.corpus import generate_pages
from noise_spark.index.build import BuildConfig, build_index
from noise_spark.index.incremental import append_docs, compact, delete_docs, upsert_docs
from noise_spark.oracle import OracleIndex
from noise_spark.query import IndexReader
from noise_spark.query import plan as P

QUERIES = [
    P.Or((P.Term("w00000"),)),
    P.Or((P.Term("w00050"), P.Term("w01500"))),
    P.And((P.Term("w00050"), P.Term("w00007"))),
    P.Not(P.Term("w00050"), P.Term("w00002")),
]


def _oracle_for(spark, reader):
    rows = reader.docs.select("doc_id", "text").collect()
    return OracleIndex([(r["doc_id"], r["text"]) for r in rows])


def _assert_identical(reader, oracle, wand_too=True):
    for node in QUERIES:
        want = oracle.search(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in reader.search(node, k=10).collect()]
        assert got == want, f"exhaustive mismatch for {node}"
        if wand_too and isinstance(node, (P.Or, P.And)):
            gw = [(r["doc_id"], r["score"]) for r in reader.search_wand(node, k=10).collect()]
            assert gw == want, f"wand mismatch for {node}"


@pytest.fixture(scope="module")
def inc_index(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("inc") / "idx")
    pages = generate_pages(spark, 400, seed=42, partitions=4)
    build_index(spark, pages, idx, BuildConfig(block_size=64))
    return idx


def test_append_generation(spark, inc_index):
    from pyspark.sql import functions as F

    # distinct urls — the generator keys urls by doc_id, which would
    # collide with the base corpus (url is the upsert key)
    new_pages = generate_pages(spark, 80, seed=777, partitions=2).withColumn(
        "url", F.concat(F.lit("https://delta."), F.col("url"))
    )
    info = append_docs(spark, inc_index, new_pages, BuildConfig(block_size=64))
    assert info["generation"] == "gen1"
    assert info["watermark"] == 400
    reader = IndexReader(spark, inc_index)
    assert reader.n_docs == 480
    assert reader.docs.count() == 480
    _assert_identical(reader, _oracle_for(spark, reader))


def test_delete_tombstones_and_stats(spark, inc_index):
    reader = IndexReader(spark, inc_index)
    victims = [r["url"] for r in reader.docs.limit(25).collect()]
    info = delete_docs(spark, inc_index, victims)
    assert info["deleted"] == 25
    reader = IndexReader(spark, inc_index)
    assert reader.n_docs == 480 - 25
    assert reader.docs.count() == 480 - 25
    # tombstones must stay a DataFrame: never collected into the reader
    # (round-2 VERDICT item 3 — the old driver-side id array rode inside
    # every WAND task closure)
    assert not hasattr(reader, "_tombstone_ids")
    assert reader._tombstones is not None
    _assert_identical(reader, _oracle_for(spark, reader))


def test_upsert_replaces(spark, inc_index):
    import datetime

    reader = IndexReader(spark, inc_index)
    some = [r["url"] for r in reader.docs.orderBy("doc_id").limit(10).collect()]
    ts = datetime.datetime(2026, 2, 1)
    rows = [
        (u, ts, f"w00000 w00007 replacement content number w{i:05d}", "en")
        for i, u in enumerate(some)
    ]
    repl = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string"
    )
    n_before = reader.n_docs
    upsert_docs(spark, inc_index, repl, BuildConfig(block_size=64))
    reader = IndexReader(spark, inc_index)
    assert reader.n_docs == n_before  # replaced, not added
    from pyspark.sql import functions as F

    texts = {r["url"]: r["text"] for r in reader.docs.filter(
        F.col("url").isin(some)).collect()}
    assert all("replacement content" in t for t in texts.values())
    _assert_identical(reader, _oracle_for(spark, reader))


def test_torn_append_invisible_then_resumed(spark, tmp_path):
    """A crash mid-append leaves a torn generation: readers must NOT see
    its docs (no phantoms with missing stats/segments), and a retried
    append must RESUME the same generation with the same watermark
    instead of allocating a new one (ADVICE round 1)."""
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx")
    build_index(spark, generate_pages(spark, 200, seed=42, partitions=2), idx, BuildConfig(block_size=64))
    new_pages = generate_pages(spark, 50, seed=9, partitions=2).withColumn(
        "url", F.concat(F.lit("https://delta."), F.col("url"))
    )
    # crash after the generation's docs stage committed
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(
            spark, new_pages, idx, BuildConfig(block_size=64),
            stage_prefix="gen1/", doc_id_offset=200, fail_after_stage="gen1/docs",
        )
    reader = IndexReader(spark, idx)
    assert reader.n_docs == 200  # torn generation invisible
    assert reader.docs.count() == 200
    assert reader._gens == [""]

    # retry with the same batch resumes gen1 at the same watermark
    info = append_docs(spark, idx, new_pages, BuildConfig(block_size=64))
    assert info["generation"] == "gen1"
    assert info["watermark"] == 200
    assert info["stages"]["gen1/docs"].get("skipped") is True
    reader = IndexReader(spark, idx)
    assert reader.n_docs == 250
    _assert_identical(reader, _oracle_for(spark, reader))


def test_delete_single_snapshot_and_gc(spark, tmp_path):
    """All mutable stages of a delete publish under ONE snapshot id
    (atomic multi-stage commit) and superseded versioned dirs are GC'd."""
    import os

    from noise_spark.index.catalog import IndexCatalog

    idx = str(tmp_path / "idx")
    build_index(spark, generate_pages(spark, 150, seed=42, partitions=2), idx, BuildConfig(block_size=64))
    reader = IndexReader(spark, idx)
    urls1 = [r["url"] for r in reader.docs.limit(5).collect()]
    delete_docs(spark, idx, urls1)
    cat = IndexCatalog(idx)
    man = cat.current_manifest()
    from noise_spark.index.incremental import MUTABLE_STAGES

    stamps = {
        s: man["stages"][s]["path"].rsplit("__", 1)[1] for s in MUTABLE_STAGES
    }
    assert len(set(stamps.values())) == 1, stamps  # one snapshot for all stages

    # second delete supersedes the first version dirs; old ones GC'd
    reader = IndexReader(spark, idx)
    urls2 = [r["url"] for r in reader.docs.limit(5).collect()]
    delete_docs(spark, idx, urls2)
    versioned = [d for d in os.listdir(idx) if "__" in d]
    # exactly the current version of each mutable stage remains
    assert len(versioned) == len(MUTABLE_STAGES), versioned
    reader = IndexReader(spark, idx)
    assert reader.n_docs == 140
    _assert_identical(reader, _oracle_for(spark, reader))


def test_bulk_delete_100k_stays_distributed(spark, tmp_path):
    """10⁵-doc delete with the victim set as a DataFrame — no collect()
    of victims anywhere in the delete path (VERDICT round-1 item 8);
    stats stay exact and WAND == exhaustive on the survivors."""
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx")
    build_index(
        spark,
        generate_pages(spark, 100_000, seed=1, partitions=32),
        idx,
        BuildConfig(analyzer="whitespace", block_size=128),
    )
    reader = IndexReader(spark, idx)
    victims_df = reader.docs.filter(F.col("doc_id") % 2 == 0).select("url")
    # the tombstone/delta WRITE must stay distributed (r4 verdict: no
    # coalesce(1) funnel) — with a small AQE advisory size, 50k
    # tombstones land in MULTIPLE parquet files; readers union them
    confs = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "4k",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        info = delete_docs(spark, idx, victims_df)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v) if v else spark.conf.unset(k)
    assert info["deleted"] == 50_000
    from noise_spark.index.catalog import IndexCatalog

    man = IndexCatalog(idx).current_manifest()
    tomb = man["stages"]["tombstones"]
    assert tomb["rows"] == 50_000
    assert tomb["files"] > 1, tomb  # not funnelled through one task
    reader = IndexReader(spark, idx)
    assert reader.n_docs == 50_000
    node = P.Or((P.Term("w00000"), P.Term("w00050")))
    a = [(r["doc_id"], r["score"]) for r in reader.search(node, k=10).collect()]
    b = [(r["doc_id"], r["score"]) for r in reader.search_wand(node, k=10).collect()]
    assert a == b
    assert a and all(d % 2 == 1 for d, _ in a)  # only survivors rank


def test_compact_folds_generations(spark, inc_index, tmp_path):
    out = str(tmp_path / "compacted")
    reader_before = IndexReader(spark, inc_index)
    oracle = _oracle_for(spark, reader_before)
    n = reader_before.n_docs
    compact(spark, inc_index, out, BuildConfig(block_size=64))
    reader = IndexReader(spark, out)
    assert reader.n_docs == n
    assert reader._tombstones is None and len(reader._gens) == 1
    # docIDs are preserved through compaction (reference GC keeps seqs);
    # scores must match a fresh oracle over the compacted docs
    _assert_identical(reader, _oracle_for(spark, reader))
    # and the logical corpus (url → text) is unchanged
    before = {r["url"]: r["text"] for r in reader_before.docs.collect()}
    after = {r["url"]: r["text"] for r in reader.docs.collect()}
    assert before == after


def test_compact_preserves_ids_and_extra_cols(spark, tmp_path):
    # compaction must not renumber surviving docIDs (the reference's GC
    # keeps seqs, src/index.rs:271-282) nor drop non-indexed doc-store
    # columns carried via extra_doc_cols
    import datetime

    rows = [
        (i, f"https://x.test/{i}", datetime.datetime(2024, 1, 1), f"alpha beta doc{i}", "en", i * 1.5)
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts timestamp, text string, lang string, extra double"
    )
    idx = str(tmp_path / "idx")
    build_index(
        spark, df, idx,
        BuildConfig(
            block_size=8, doc_id_col="doc_id", extra_doc_cols=("extra",),
            analyzer="whitespace",
        ),
    )
    delete_docs(spark, idx, [f"https://x.test/{i}" for i in (0, 7)])
    out = str(tmp_path / "compacted")
    compact(spark, idx, out)  # no config: shape inferred from the index
    reader = IndexReader(spark, out)
    assert reader.analyzer == "whitespace"  # inferred, not the default
    got = {r["doc_id"]: r["extra"] for r in reader.docs.collect()}
    assert got == {i: i * 1.5 for i in range(20) if i not in (0, 7)}
    # whitespace terms survived (a porter rebuild would have stemmed)
    assert reader.search(P.Or((P.Term("alpha"),)), k=25).count() == 18


def test_compaction_policy(spark, inc_index, tmp_path):
    from noise_spark.index.incremental import compaction_due, maybe_compact

    # by now the fixture has >=1 delta generation and tombstones from
    # the delete/upsert tests; the policy reads ONLY manifest metrics
    st = compaction_due(spark, inc_index)
    assert st["generations"] >= 1 and st["n_tombstones"] > 0
    assert 0 < st["tombstone_frac"] < 1
    # lax thresholds -> not due; maybe_compact is a no-op
    lax = maybe_compact(
        spark, inc_index, str(tmp_path / "no"),
        max_generations=99, max_tombstone_frac=0.99,
    )
    assert lax["compacted"] is False
    # strict thresholds -> due; compaction folds to a single generation
    out = str(tmp_path / "yes")
    strict = maybe_compact(
        spark, inc_index, out, BuildConfig(block_size=64),
        max_generations=1, max_tombstone_frac=0.0001,
    )
    assert strict["compacted"] is True
    reader = IndexReader(spark, out)
    assert reader._tombstones is None and len(reader._gens) == 1
    assert reader.n_docs == IndexReader(spark, inc_index).n_docs
    _assert_identical(reader, _oracle_for(spark, reader))


def test_high_doc_id_is_manifest_only(spark, tmp_path):
    """The watermark must resolve from commit metrics + lineage with
    ZERO Spark jobs (constant-time driver read at 100 TB) — it takes no
    Spark session at all. Covers dense numbering (offset+rows-1),
    appended generations, and a compacted index with caller-provided
    preserved ids (max_doc_id metric)."""
    from noise_spark.index.incremental import high_doc_id

    idx = str(tmp_path / "idx")
    pages = generate_pages(spark, 120, seed=7, partitions=4)
    build_index(spark, pages, idx, BuildConfig(block_size=64))
    assert high_doc_id(idx) == 119

    from pyspark.sql import functions as F

    more = (
        generate_pages(spark, 280, seed=8, partitions=4)
        .withColumn("url", F.concat_ws("-", F.lit("g2"), F.col("url")))
        .limit(30)
    )
    append_docs(spark, idx, more, BuildConfig(block_size=64))
    assert high_doc_id(idx) == 149

    # compaction preserves ids (gaps possible) → explicit max_doc_id
    out = str(tmp_path / "compacted")
    delete_docs(spark, idx, pages.limit(5).select("url"))
    compact(spark, idx, out)
    assert high_doc_id(out) == 149


def test_manifest_without_format_is_refused(spark, tmp_path):
    """The catalog supports ONE manifest format: a committed manifest
    without it (written before the format existed) is refused with a
    rebuild message by every reader of the manifest — the query reader,
    the append watermark and a resumed build — instead of each one
    branching on the old layout."""
    import json
    import os

    from noise_spark.index.catalog import MANIFEST_FORMAT, IndexCatalog
    from noise_spark.index.incremental import high_doc_id

    pages = generate_pages(spark, 60, seed=5, partitions=2)
    idx = str(tmp_path / "old")
    cfg = BuildConfig(analyzer="whitespace", block_size=64)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, pages, idx, cfg, fail_after_stage="segments")
    cat = IndexCatalog(idx)
    manifest = cat.current_manifest()
    assert manifest["format"] == MANIFEST_FORMAT

    with open(os.path.join(idx, cat.CURRENT)) as f:
        mpath = os.path.join(cat.manifest_dir, f.read().strip())
    del manifest["format"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)

    with pytest.raises(ValueError, match="rebuild the index"):
        IndexReader(spark, idx)
    with pytest.raises(ValueError, match="rebuild the index"):
        high_doc_id(idx)
    with pytest.raises(ValueError, match="rebuild the index"):
        build_index(spark, pages, idx, cfg)  # resume of the torn build
    # nothing was committed on top of the refused manifest
    with open(os.path.join(idx, cat.CURRENT)) as f:
        assert os.path.join(cat.manifest_dir, f.read().strip()) == mpath


def test_append_auto_fields_uses_index_fields(spark, tmp_path):
    """append_docs with fields='auto' must resolve against the BASE
    index's committed field list, not the batch schema — a batch missing
    one string column must not flip the term key-space to bare keys."""
    import pandas as pd

    from noise_spark.query import plan as P

    base = spark.createDataFrame(
        pd.DataFrame(
            [(0, "u0", "alpha beta", "en"), (1, "u1", "gamma delta", "de")],
            columns=["doc_id", "url", "text", "lang"],
        )
    )
    idx = str(tmp_path / "auto_inc")
    build_index(
        spark,
        base,
        idx,
        BuildConfig(analyzer="whitespace", doc_id_col="doc_id", fields="auto"),
    )
    batch = spark.createDataFrame(
        pd.DataFrame([("u2", "epsilon zeta")], columns=["url", "text"])
    )
    append_docs(
        spark, idx, batch, BuildConfig(analyzer="whitespace", fields="auto")
    )
    r = IndexReader(spark, idx)
    assert tuple(r.fields) == ("text", "lang")
    got = [x["doc_id"] for x in r._match_set(P.Term("epsilon")).collect()]
    assert got == [2]


def test_duplicate_and_null_urls_fail_fast(spark, tmp_path):
    """urls are the document identity; the slim-numbering join fans out
    on duplicates — the build must REFUSE both duplicate and null urls
    instead of silently corrupting docIDs (r5 review finding)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from noise_spark.corpus import generate_pages

    pages = generate_pages(spark, 50, seed=3, partitions=4)
    dup = pages.union(pages.limit(1))  # one duplicated url
    with _pytest.raises(Exception, match="duplicate.*url|url.*duplicate"):
        build_index(
            spark, dup, str(tmp_path / "dup"),
            BuildConfig(analyzer="whitespace", block_size=64),
        )
    # null urls also fail LOUDLY (not silently dropped): either the
    # non-nullable extractor schema rejects them up front, or the
    # numbering's require_unique null check does
    nulled = pages.withColumn(
        "url", F.when(F.rand(7) < 0.1, None).otherwise(F.col("url"))
    )
    with _pytest.raises(Exception):
        build_index(
            spark, nulled, str(tmp_path / "nul"),
            BuildConfig(analyzer="whitespace", block_size=64),
        )


def test_open_reader_keeps_its_snapshot_across_append(spark, tmp_path):
    """A reader resolves its snapshot's tables once and reuses them, so
    an append committed after it has answered a query must not leak
    into it: the same n_docs, top-k and dfs as before. A reader opened
    after the commit sees the appended docs."""
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx")
    build_index(
        spark, generate_pages(spark, 150, seed=42, partitions=2), idx, BuildConfig(block_size=64)
    )
    old = IndexReader(spark, idx)
    flat = P.Or((P.Term("w00050"), P.Term("w00007")))

    def answers(reader):
        return (
            reader.n_docs,
            reader.docs.count(),
            [tuple(r) for r in reader.query(flat, k=10).collect()],
            [tuple(r) for r in reader.search(QUERIES[3], k=10).collect()],
            reader.term_dfs(["w00000", "w00050", "w00007"]),
        )

    before = answers(old)
    new_pages = generate_pages(spark, 40, seed=777, partitions=2).withColumn(
        "url", F.concat(F.lit("https://delta."), F.col("url"))
    )
    append_docs(spark, idx, new_pages, BuildConfig(block_size=64))
    old._df_cache.clear()  # re-query dfs through the pinned stats relation
    assert answers(old) == before
    fresh = IndexReader(spark, idx)
    assert fresh.n_docs == 190
    assert fresh.docs.count() == 190
    grown = fresh.term_dfs(list(before[4]))
    assert sum(grown.values()) > sum(before[4].values())
    _assert_identical(fresh, _oracle_for(spark, fresh))
