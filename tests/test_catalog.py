"""Catalog commit protocol: atomic multi-stage publish, optimistic
concurrency (commit lock + parent CAS), GC of unreferenced versions.

No Spark needed — the catalog is pure manifest/pointer bookkeeping
(the reference's WriteBatch+header-bump commit, src/index.rs:218-227,
re-expressed as Iceberg-style snapshots)."""

import os
import threading

import pytest

from noise_spark.index.catalog import CommitConflict, IndexCatalog


def _write_stage(root, name):
    # a one-row parquet file: commits read row counts from the footers
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(root, name)
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table({"x": [1]}), os.path.join(d, "part-0.parquet"))
    return d


def test_cas_conflict_raises_and_publishes_nothing(tmp_path):
    root = str(tmp_path)
    cat = IndexCatalog(root)
    p1 = _write_stage(root, "a__v1")
    cat.commit_stages({"a": (p1, {})})
    base = cat.current_manifest()["snapshot_id"]

    # writer B lands first
    p2 = _write_stage(root, "b__v1")
    cat.commit_stages({"b": (p2, {})})
    moved = cat.current_manifest()["snapshot_id"]
    assert moved != base

    # writer A derived from `base` → must conflict, not clobber
    p3 = _write_stage(root, "a__v2")
    with pytest.raises(CommitConflict):
        cat.commit_stages({"a": (p3, {})}, expected_parent=base)
    m = cat.current_manifest()
    assert m["snapshot_id"] == moved  # nothing published
    assert m["stages"]["a"]["path"] == p1
    # retry from the fresh snapshot succeeds
    cat.commit_stages({"a": (p3, {})}, expected_parent=moved)
    assert cat.current_manifest()["stages"]["a"]["path"] == p3


def test_concurrent_disjoint_commits_both_land(tmp_path):
    root = str(tmp_path)
    cat = IndexCatalog(root)
    paths = {s: _write_stage(root, f"{s}__v1") for s in ("s0", "s1", "s2", "s3")}
    errs = []

    def commit(stage):
        try:
            IndexCatalog(root).commit_stages({stage: (paths[stage], {})})
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=commit, args=(s,)) for s in paths]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    stages = IndexCatalog(root).current_manifest()["stages"]
    # the commit lock serializes read-merge-swap: no lost updates
    assert set(stages) == set(paths)


def test_stale_lock_is_broken(tmp_path):
    root = str(tmp_path)
    cat = IndexCatalog(root)
    lock = os.path.join(root, cat.LOCK)
    with open(lock, "w") as f:
        f.write("99999")
    old = 10_000.0
    os.utime(lock, (os.path.getmtime(lock) - old, os.path.getmtime(lock) - old))
    p = _write_stage(root, "a__v1")
    cat.commit_stages({"a": (p, {})})  # breaks the stale lock, no timeout
    assert cat.current_manifest()["stages"]["a"]["path"] == p
    assert not os.path.exists(lock)
