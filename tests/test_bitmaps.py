"""Word-level tombstone bitmaps (index/bitmaps.py): correctness vs the
row anti-join, bit packing through the real delete commit, and the
no-shuffle plan guarantee above the row-broadcast ceiling."""

import random

import pytest
from pyspark.sql import functions as F

from noise_spark.corpus import generate_pages
from noise_spark.index.bitmaps import build_tombstone_bitmaps, not_deleted
from noise_spark.index.build import BuildConfig, build_index
from noise_spark.index.incremental import delete_docs
from noise_spark.query import plan as P
from noise_spark.query.engine import IndexReader


def test_bitmaps_equal_anti_join(spark):
    """Randomized + adversarial doc_id sets: the word-level mask removes
    exactly the anti-join's rows. Covers word boundaries (offsets
    63/64), the sign bit (doc_id % 64 == 63 -> long bit 63), full words
    (64 consecutive deletes), and universe rows whose word carries no
    deletes at all."""
    rng = random.Random(7)
    tombs = set()
    tombs |= set(range(640, 704))  # one full word + spill into the next
    tombs |= {0, 1, 62, 63, 64, 65, 127, 128, 100_000, 100_063}
    tombs |= {rng.randrange(500_000) for _ in range(3000)}
    universe = set(rng.randrange(500_000) for _ in range(5000)) | set(
        rng.sample(sorted(tombs), 500)
    )
    tombs_df = spark.createDataFrame([(d,) for d in sorted(tombs)], "doc_id long")
    uni_df = spark.createDataFrame(
        [(d, d % 97) for d in sorted(universe)], "doc_id long, payload long"
    )
    bm = build_tombstone_bitmaps(tombs_df)
    rows = {r["wbin"]: r["word"] for r in bm.collect()}
    assert rows[10] == -1  # docs 640..703: the full word is all ones
    got = {
        (r["doc_id"], r["payload"]) for r in not_deleted(uni_df, bm).collect()
    }
    want = {
        (r["doc_id"], r["payload"])
        for r in uni_df.join(tombs_df, "doc_id", "left_anti").collect()
    }
    assert got == want
    assert got == {(d, d % 97) for d in universe - tombs}


@pytest.fixture(scope="module")
def deleted_index(spark, tmp_path_factory):
    """2k docs, 1.6k deleted through the real delete commit."""
    idx = str(tmp_path_factory.mktemp("bm") / "idx")
    build_index(
        spark,
        generate_pages(spark, 2000, seed=3, partitions=8),
        idx,
        BuildConfig(analyzer="whitespace", block_size=64),
    )
    reader = IndexReader(spark, idx)
    victims = reader.docs.filter(F.col("doc_id") % 5 != 0).select("url")
    info = delete_docs(spark, idx, victims)
    assert info["deleted"] == 1600
    return idx


def test_delete_commit_writes_bitmaps_stage(spark, deleted_index):
    from noise_spark.index.catalog import IndexCatalog

    man = IndexCatalog(deleted_index).current_manifest()
    assert "tombstone_bitmaps" in man["stages"]
    bm = spark.read.parquet(man["stages"]["tombstone_bitmaps"]["path"])
    rows = {r["wbin"]: r["word"] for r in bm.collect()}
    # 2000 docs -> 32 word rows (64 docs each), every word carries the
    # doc_id % 5 != 0 pattern
    assert set(rows) == set(range(32))
    want = 0
    for off in range(64):
        if off % 5 != 0:  # wbin 0: doc_id == off
            want |= 1 << off
    got = rows[0] & ((1 << 64) - 1)
    assert got == want


def test_bitmap_path_matches_row_path_and_never_shuffles(spark, deleted_index, monkeypatch):
    """Force the above-ceiling regime: results identical to the
    broadcast-row path, and the docs-view plan applies the mask as a
    BroadcastHashJoin — no SortMergeJoin / no exchange introduced by
    delete application."""
    node = P.Or((P.Term("w00000"), P.Term("w00010")))
    base_reader = IndexReader(spark, deleted_index)
    want_docs = {r["doc_id"] for r in base_reader.docs.select("doc_id").collect()}
    want_top = [
        (r["doc_id"], round(r["score"], 9))
        for r in base_reader.search(node, k=10).collect()
    ]
    monkeypatch.setattr(IndexReader, "BROADCAST_TOMBSTONES_MAX", 0)
    reader = IndexReader(spark, deleted_index)
    assert reader._tombstone_bitmaps is not None
    got_docs = {r["doc_id"] for r in reader.docs.select("doc_id").collect()}
    assert got_docs == want_docs and all(d % 5 == 0 for d in got_docs)
    got_top = [
        (r["doc_id"], round(r["score"], 9))
        for r in reader.search(node, k=10).collect()
    ]
    assert got_top == want_top
    plan = reader.docs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_wand_mask_cogroup_matches_row_path(spark, deleted_index, monkeypatch):
    """Above the ceiling, WAND cogroups the per-bin BITMAP masks (not
    raw tombstone rows): results must be identical to the row-cogroup
    path, dense and sparse masks both expanded correctly."""
    node = P.Or((P.Term("w00000"), P.Term("w00010")))
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in IndexReader(spark, deleted_index).search(node, k=10).collect()
    ]
    monkeypatch.setattr(IndexReader, "BROADCAST_TOMBSTONES_MAX", 0)
    reader = IndexReader(spark, deleted_index)
    assert reader._tombstone_bitmaps is not None
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in reader.search(node, k=10).collect()
    ]
    assert got == want
    assert got and all(d % 5 == 0 for d, _ in got)


def test_wand_mask_cogroup_sparse_bin(spark, tmp_path, monkeypatch):
    """Few-delete masks (boundary + sign-bit offsets) through the WAND
    cogroup expansion."""
    idx = str(tmp_path / "idx")
    build_index(
        spark,
        generate_pages(spark, 500, seed=5, partitions=4),
        idx,
        BuildConfig(analyzer="whitespace", block_size=32),
    )
    reader = IndexReader(spark, idx)
    victims = reader.docs.filter(F.col("doc_id").isin([0, 63, 64, 199])).select("url")
    assert delete_docs(spark, idx, victims)["deleted"] == 4
    node = P.Or((P.Term("w00000"), P.Term("w00010")))
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in IndexReader(spark, idx).search(node, k=10).collect()
    ]
    monkeypatch.setattr(IndexReader, "BROADCAST_TOMBSTONES_MAX", 0)
    reader = IndexReader(spark, idx)
    bm = {r["wbin"]: r["word"] for r in reader._tombstone_bitmaps.collect()}
    # 0 and 63 share word 0 (incl. the sign bit → negative long),
    # 64 opens word 1
    assert bm[0] == 1 - (1 << 63)
    assert bm[1] == 1 and bm[3] == 1 << (199 - 192)
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in reader.search(node, k=10).collect()
    ]
    assert got == want
    assert all(d not in (0, 63, 64, 199) for d, _ in got)


def test_pre_bitmap_manifest_is_refused(spark, deleted_index, tmp_path):
    """A manifest from before the bitmap stage (tombstones without
    ``tombstone_bitmaps``, no ``format``) is refused with a rebuild
    message; the reader keeps no row-only branch for that layout. The
    anti-join above the mask ceiling stays covered by
    test_bitmap_broadcast_guard_falls_back_to_join."""
    import json
    import os
    import shutil

    from noise_spark.index.catalog import IndexCatalog

    legacy = str(tmp_path / "legacy")
    shutil.copytree(deleted_index, legacy)
    cat = IndexCatalog(legacy)
    man = cat.current_manifest()
    assert "tombstones" in man["stages"]
    del man["stages"]["tombstone_bitmaps"]
    del man["format"]
    # rewrite the current manifest in place (test-only surgery)
    with open(os.path.join(legacy, cat.CURRENT)) as f:
        name = f.read().strip()
    with open(os.path.join(cat.manifest_dir, name), "w") as f:
        json.dump(man, f)
    with pytest.raises(ValueError, match="rebuild the index"):
        IndexReader(spark, legacy)
    # the source index is untouched and still opens
    assert IndexReader(spark, deleted_index)._tombstone_bitmaps is not None


def test_bitmap_broadcast_guard_falls_back_to_join(spark, deleted_index, monkeypatch):
    """Above BROADCAST_BITMAP_MAX_WORDS the mask table is too big to
    broadcast safely (ADVICE r5): delete application must fall back to
    the row anti-join (correct, shuffling) instead of forcing a
    multi-GB broadcast."""
    node = P.Or((P.Term("w00000"), P.Term("w00010")))
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in IndexReader(spark, deleted_index).search(node, k=10).collect()
    ]
    monkeypatch.setattr(IndexReader, "BROADCAST_TOMBSTONES_MAX", 0)
    monkeypatch.setattr(IndexReader, "BROADCAST_BITMAP_MAX_WORDS", 0)
    reader = IndexReader(spark, deleted_index)
    assert reader._n_bitmap_words > 0
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in reader.search(node, k=10).collect()
    ]
    assert got == want
    # the docs view must NOT carry the mask broadcast (guard tripped)
    plan = reader.docs._jdf.queryExecution().executedPlan().toString()
    assert "__tword" not in plan
