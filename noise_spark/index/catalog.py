"""Iceberg-style snapshot catalog for index state.

The reference commits every build atomically as one RocksDB WriteBatch
plus a header bump (``/root/reference/src/index.rs:218-227``); readers
pin a snapshot (``src/index.rs:122-124``). This module re-expresses that
as table-format commits: every completed build stage appends an
immutable manifest JSON (stage → data path, row counts, per-file
lineage, metrics, checksum) and atomically swings a ``_CURRENT``
pointer. An interrupted build resumes by reading ``_CURRENT`` and
skipping stages whose manifests are already committed — the
per-partition lineage + resumability requirement of the north rule.

On a real cluster the same protocol maps 1:1 onto Iceberg snapshot
commits (one commit per stage, lineage in the snapshot summary); the
sandbox has no Iceberg runtime jar, so the manifest/pointer protocol is
implemented directly over the filesystem with the identical semantics
(atomic pointer swap = atomic snapshot publish).
"""

from __future__ import annotations

import json
import os
import time
import uuid
import zlib


# The one supported manifest layout. Every manifest this module commits
# records it; ``current_manifest`` refuses any other (including the
# pre-format manifests, which carry no ``format`` key) instead of every
# reader and writer branching on old variants — Delta Lake's protocol
# version re-expressed.
MANIFEST_FORMAT = 1

# The stages a build (base or appended generation) commits; a
# generation is visible to readers only once all four are committed.
GENERATION_STAGES = ("docs", "term_stats", "corpus_stats", "segments")


def stage_name(gen: str, kind: str) -> str:
    """The manifest name of stage ``kind`` in generation ``gen``: bare
    for the base build (``gen == ""``), ``genN/<kind>`` for appends."""
    return f"{gen}/{kind}" if gen else kind


def appended_generations(manifest: dict) -> list[str]:
    """Every appended generation prefix (``gen1``, ``gen2``, ...) that has
    at least one committed stage, in append order — torn ones included."""
    return sorted(
        {n.split("/")[0] for n in manifest["stages"] if n.startswith("gen") and "/" in n},
        key=lambda g: int(g[3:]),
    )


def generation_complete(manifest: dict, gen: str) -> bool:
    return all(stage_name(gen, k) in manifest["stages"] for k in GENERATION_STAGES)


def visible_generations(manifest: dict) -> list[str]:
    """The base (``""``) and appended generations with their FULL stage
    set committed: a reader opened between a torn append's commits must
    never see phantom docs with missing stats/segments."""
    return [
        g
        for g in [""] + appended_generations(manifest)
        if generation_complete(manifest, g)
    ]


class CommitConflict(RuntimeError):
    """Raised when a compare-and-swap commit finds the catalog moved on
    from the snapshot the writer based its update on (Iceberg's
    CommitFailedException — retry by re-reading and re-deriving)."""


_UNSET = object()


class IndexCatalog:
    CURRENT = "_CURRENT"
    LOCK = "_COMMIT_LOCK"

    def __init__(self, root: str):
        self.root = root
        self.manifest_dir = os.path.join(root, "_manifests")
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- snapshot read side -------------------------------------------------
    def current_manifest(self) -> dict:
        ptr = os.path.join(self.root, self.CURRENT)
        if not os.path.exists(ptr):
            return {"snapshot_id": None, "stages": {}}
        with open(ptr) as f:
            name = f.read().strip()
        with open(os.path.join(self.manifest_dir, name)) as f:
            manifest = json.load(f)
        if manifest.get("format") != MANIFEST_FORMAT:
            raise ValueError(
                f"index {self.root} has manifest format "
                f"{manifest.get('format')!r}; only format {MANIFEST_FORMAT} "
                "is supported — rebuild the index"
            )
        return manifest

    def stage_info(self, stage: str) -> dict | None:
        return self.current_manifest()["stages"].get(stage)

    def stage_complete(self, stage: str) -> bool:
        info = self.stage_info(stage)
        if info is None:
            return False
        # data files must still exist (a torn write never commits, but be safe)
        return os.path.exists(info["path"])

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    # -- commit side ----------------------------------------------------------
    def _file_lineage(self, path: str) -> list[dict]:
        """Per-file lineage rows from parquet footers (metadata-only read).
        Raises when the stage's files cannot be read: readers trust the
        committed row counts, so a commit never records a guess."""
        import pyarrow.dataset as ds

        out = []
        dataset = ds.dataset(path, format="parquet", partitioning="hive")
        for frag in dataset.get_fragments():
            rows = frag.count_rows()
            size = os.path.getsize(frag.path)
            out.append(
                {
                    "file": os.path.relpath(frag.path, self.root),
                    "rows": int(rows),
                    "bytes": int(size),
                    "checksum": f"{zlib.crc32(f'{frag.path}:{rows}:{size}'.encode()):08x}",
                }
            )
        return out

    def commit_stage(self, stage: str, metrics: dict | None = None) -> dict:
        """Publish ``stage`` (data already written to ``stage_path``) as a
        new snapshot: append-only manifest + atomic pointer swap."""
        return self.commit_stages({stage: (self.stage_path(stage), metrics or {})})[stage]

    def _acquire_lock(self, timeout: float = 60.0, stale: float = 300.0) -> tuple:
        """Create-if-absent lock file serializing read-merge-swap commits
        on this filesystem (on a real cluster the Iceberg catalog's CAS
        plays this role). Returns ``(path, token)``; release verifies the
        token so a writer can never unlink a lock it no longer owns.
        A lock older than ``stale`` seconds (crashed writer) is broken by
        atomically RENAMING it aside first — rename has a single winner,
        so two waiters can't both break it and both enter the critical
        section."""
        lock = os.path.join(self.root, self.LOCK)
        token = uuid.uuid4().hex
        deadline = time.time() + timeout
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, token.encode())
                os.close(fd)
                return lock, token
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(lock) > stale:
                        broken = f"{lock}.broken-{token}"
                        os.rename(lock, broken)  # atomic: one winner
                        os.unlink(broken)
                        continue
                except FileNotFoundError:
                    continue
                except OSError:
                    pass  # lost the break race — re-probe
                if time.time() > deadline:
                    raise TimeoutError(f"commit lock {lock} held too long")
                time.sleep(0.05)

    def _release_lock(self, lock: str, token: str) -> None:
        try:
            with open(lock) as f:
                if f.read().strip() != token:
                    return  # broken as stale and re-acquired — not ours
            os.unlink(lock)
        except FileNotFoundError:
            pass

    def commit_stages(self, updates: dict, expected_parent=_UNSET) -> dict:
        """Publish SEVERAL stages in one manifest + one pointer swap —
        the atomic multi-table commit mutable maintenance needs (e.g.
        tombstones + term-stat deltas + corpus-stat deltas must become
        visible together or not at all; a crash between separate commits
        would permanently desync stats from match sets).

        ``updates``: stage → (data_path, metrics). Paths may be
        versioned (snapshot-suffixed) directories; readers always
        resolve data through the manifest's recorded path, so old
        versions stay intact for readers pinned to earlier snapshots
        until they are garbage-collected.

        Concurrency: the read-merge-swap runs under a commit lock, so
        concurrent writers touching DISJOINT stages serialize and both
        land. Pass ``expected_parent`` (the snapshot_id the update was
        derived from) for compare-and-swap semantics: if another writer
        committed in between, :class:`CommitConflict` is raised and
        NOTHING is published — the caller re-reads and re-derives
        (required for read-modify-write updates like tombstone merges,
        where last-writer-wins would silently drop a concurrent delete).
        """
        lock, token = self._acquire_lock()
        try:
            return self._commit_stages_locked(updates, expected_parent)
        finally:
            self._release_lock(lock, token)

    def _commit_stages_locked(self, updates: dict, expected_parent) -> dict:
        prev = self.current_manifest()
        if expected_parent is not _UNSET and prev.get("snapshot_id") != expected_parent:
            raise CommitConflict(
                f"catalog moved: expected parent {expected_parent}, "
                f"found {prev.get('snapshot_id')}"
            )
        snapshot_id = uuid.uuid4().hex[:16]
        manifest = {
            "format": MANIFEST_FORMAT,
            "snapshot_id": snapshot_id,
            "parent": prev.get("snapshot_id"),
            "committed_ts": time.time(),
            "stages": dict(prev["stages"]),
        }
        out = {}
        for stage, (path, metrics) in updates.items():
            lineage = self._file_lineage(path)
            info = {
                "path": path,
                "rows": sum(r["rows"] for r in lineage),
                "files": len(lineage),
                "bytes": sum(r["bytes"] for r in lineage),
                "lineage": lineage,
                "metrics": metrics or {},
                "committed_ts": time.time(),
            }
            manifest["stages"][stage] = info
            out[stage] = info
        name = f"manifest-{snapshot_id}.json"
        mpath = os.path.join(self.manifest_dir, name)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, mpath)
        # atomic pointer swap = snapshot publish
        ptr_tmp = os.path.join(self.root, self.CURRENT + ".tmp")
        with open(ptr_tmp, "w") as f:
            f.write(name)
        os.replace(ptr_tmp, os.path.join(self.root, self.CURRENT))
        return out

    def gc_unreferenced(self, prefixes: tuple, grace_sec: float = 0.0) -> list[str]:
        """Remove versioned stage directories (``<stage>__<snap>``) no
        longer referenced by the CURRENT manifest — called only after a
        successful commit, so readers of the new snapshot never lose
        data; long-pinned readers of old snapshots are out of scope in
        the sandbox (Iceberg snapshot-expiry semantics).

        ``grace_sec``: skip directories younger than this — an in-flight
        CONCURRENT writer's staged-but-uncommitted data looks exactly
        like an unreferenced version, so multi-writer deployments must
        pass a grace window longer than their longest staging write
        (Iceberg's orphan-file-removal retention). Single-writer flows
        (tests, the sandbox) keep 0 for immediate cleanup."""
        import shutil

        current = {info["path"] for info in self.current_manifest()["stages"].values()}
        removed = []
        now = time.time()
        for d in os.listdir(self.root):
            full = os.path.join(self.root, d)
            if (
                os.path.isdir(full)
                and any(d.startswith(f"{p}__") for p in prefixes)
                and full not in current
            ):
                try:
                    if grace_sec and now - os.path.getmtime(full) < grace_sec:
                        continue
                except OSError:  # pragma: no cover - racing remover
                    continue
                shutil.rmtree(full, ignore_errors=True)
                removed.append(d)
        return removed
