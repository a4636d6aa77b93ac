"""Incremental index maintenance: append / delete / upsert / compact.

Re-expresses the reference's write-path lifecycle
(``/root/reference/src/index.rs:131-179`` — upsert via shred-diff,
delete via derived-key tombstones, merge-operator counter decrements
``src/index.rs:301-322``) in table-format terms:

- **append**: new docs get fresh docIDs above the ``high_doc_id``
  watermark (the ``HDB`` high-seq header, ``src/index.rs:91-94``,
  re-expressed as a manifest property); a new *generation* of
  docs/postings/stats/segments is built by the exact same five-stage
  pipeline (``build_index(stage_prefix="genN/", doc_id_offset=wm)``)
  and committed. Nothing existing is rewritten — an append at 100 TB
  touches only the delta.
- **delete**: docIDs land in a ``tombstones`` stage; term/corpus stats
  are maintained *exactly* by committing negative (term, df, cf)
  deltas mined from the deleted docs' postings — so BM25 scores after
  a delete are rank-identical to a fresh build over the remaining
  corpus (Noise's merge-op decrement semantics; stricter than Lucene's
  stale-stats-until-merge).
- **upsert**: delete-by-url then append (Noise's shred-diff,
  ``src/json_shred.rs:452-475``, exists because it rewrites per-field
  KVs; in columnar land the delta generation IS the diff).
- **compact**: fold all generations minus tombstones into a fresh
  base build (the compaction-filter GC, ``src/index.rs:271-282``).

Readers (``IndexReader``) resolve the manifest into: postings/segments
= union of generations, tombstone exclusion, stats = Σ generations +
delete deltas. Segment block maxima are stats-independent
(max_tf/min_dl), so moving avg_dl never invalidates committed blocks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import BuildConfig, build_index
from .catalog import IndexCatalog, appended_generations, generation_complete, stage_name


def high_doc_id(index_dir: str) -> int:
    """High-water docID from MANIFEST METADATA ONLY (the ``HDB``
    high-seq header, src/index.rs:91-94): caller-provided-id builds
    commit an explicit ``max_doc_id`` metric; dense-numbered ones derive
    ``doc_id_offset + rows - 1`` from commit metrics + lineage. Zero
    Spark jobs — at 100 TB the watermark must be a constant-time driver
    read, not a per-generation max() scan."""
    manifest = IndexCatalog(index_dir).current_manifest()
    hi = -1
    for g in [""] + appended_generations(manifest):
        info = manifest["stages"].get(stage_name(g, "docs"))
        if not info:
            continue
        metrics = info["metrics"]
        if "max_doc_id" in metrics:
            hi = max(hi, metrics["max_doc_id"])
        else:
            hi = max(hi, metrics["doc_id_offset"] + info["rows"] - 1)
    return hi


def append_docs(
    spark: SparkSession,
    index_dir: str,
    new_pages: DataFrame,
    config: BuildConfig | None = None,
) -> dict:
    """Commit a new generation for ``new_pages`` (docIDs above the
    watermark) using the standard staged pipeline.

    Crash-safe: if the LATEST generation is torn (some stages committed,
    segments missing — a previous append died mid-build), this call
    RESUMES that generation — same prefix, same watermark — instead of
    allocating a fresh one; retries therefore converge instead of
    leaving phantom half-generations behind. (Readers additionally
    ignore incomplete generations — ``IndexReader`` visibility requires
    the full stage set — so even an un-resumed torn append is harmless.)
    A retry MUST carry the same batch of pages, which is the natural
    crash-retry contract (streaming ingest replays the same
    deterministic batch)."""
    if config is not None and config.fields == "auto":
        # an appended generation MUST share the base index's term
        # key-space (scoped vs bare keys): re-deriving "auto" from the
        # batch schema could silently disagree (a batch missing one
        # string column would flip a multi-field index to bare keys and
        # make its docs unfindable) — resolve against the committed
        # field list instead
        import dataclasses

        from ..query.engine import IndexReader

        config = dataclasses.replace(
            config, fields=tuple(IndexReader(spark, index_dir).fields)
        )
    cat = IndexCatalog(index_dir)
    manifest = cat.current_manifest()
    gens = appended_generations(manifest)
    if gens and not generation_complete(manifest, gens[-1]):
        gen = gens[-1]  # resume the torn generation
        docs_info = manifest["stages"].get(stage_name(gen, "docs"))
    else:
        gen, docs_info = f"gen{len(gens) + 1}", None
    # a torn attempt that committed its docs stage fixes the watermark it
    # numbered them with; otherwise number above the high-water mark
    watermark = (
        docs_info["metrics"]["doc_id_offset"] if docs_info else high_doc_id(index_dir) + 1
    )
    metrics = build_index(
        spark,
        new_pages,
        index_dir,
        config,
        stage_prefix=f"{gen}/",
        doc_id_offset=watermark,
    )
    return {"generation": gen, "watermark": watermark, **metrics}


MUTABLE_STAGES = (
    "tombstones",
    "term_stats_delta",
    "corpus_stats_delta",
    "tombstone_bitmaps",
)


def _stage_df(spark, cat: IndexCatalog, stage: str, empty_schema: str) -> DataFrame:
    info = cat.stage_info(stage)
    if info is None:
        return spark.createDataFrame([], empty_schema)
    return spark.read.parquet(info["path"])


def delete_docs(
    spark: SparkSession, index_dir: str, urls, gc_grace_sec: float = 0.0
) -> dict:
    """Tombstone docs by url; commit exact negative stat deltas.

    ``urls``: a Python list for small ad-hoc deletes, or a
    DataFrame[url] for bulk deletes — the victim set then never
    materializes on the driver (a 10⁵-doc delete stays distributed:
    victims come from a join, deltas are aggregated and written as
    DataFrames).

    All three mutable stages (tombstones, term_stats_delta,
    corpus_stats_delta) are written to fresh snapshot-suffixed
    directories and published in ONE manifest swap — a crash at any
    point leaves the previous snapshot fully intact (never tombstones
    without the matching stat deltas), and readers pinned to the prior
    snapshot keep their data files until GC after the commit."""
    import uuid

    from ..query.engine import IndexReader

    cat = IndexCatalog(index_dir)
    # the commit CASes on this snapshot: a concurrent writer between
    # here and the publish raises CommitConflict instead of silently
    # losing its tombstones/stat deltas in our read-modify-write merge.
    # Read BEFORE the reader pins its manifest — if the catalog moves
    # in between, the CAS fails conservatively (retry), never passes
    # with a merge derived from an older snapshot.
    base_snapshot = cat.current_manifest().get("snapshot_id")
    reader = IndexReader(spark, index_dir)  # excludes prior tombstones
    if isinstance(urls, DataFrame):
        victims = reader.docs.join(
            urls.select("url").distinct(), "url", "left_semi"
        ).select("doc_id")
    else:
        victims = reader.docs.filter(F.col("url").isin(list(urls))).select("doc_id")
    n_removed = victims.count()
    vic_posts = reader.postings.join(victims, "doc_id", "left_semi")

    # per-field token removal (corpus_stats rows are per field)
    from .build import FIELD_SEP

    if reader.scoped:
        field_col = F.substring_index("term", FIELD_SEP, 1)
    else:
        field_col = F.lit(reader.default_field)
    tok_by_field = {
        r["f"]: int(r["tt"] or 0)
        for r in vic_posts.groupBy(field_col.alias("f"))
        .agg(F.sum("tf").alias("tt"))
        .collect()
    }

    neg = vic_posts.groupBy("term").agg(
        (-F.count("*")).cast("long").alias("df"), (-F.sum("tf")).cast("long").alias("cf")
    )
    prior_delta = _stage_df(spark, cat, "term_stats_delta", "term string, df long, cf long")
    new_delta = (
        prior_delta.unionByName(neg)
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )
    prior_tombs = _stage_df(spark, cat, "tombstones", "doc_id long")
    all_tombs = prior_tombs.unionByName(victims).distinct()
    prior_cd = {
        r["field"]: (int(r["n_docs"]), int(r["total_tokens"]))
        for r in _stage_df(
            spark, cat, "corpus_stats_delta", "field string, n_docs long, total_tokens long"
        ).collect()
    }
    cd_rows = [
        (
            f,
            prior_cd.get(f, (0, 0))[0] - n_removed,
            prior_cd.get(f, (0, 0))[1] - tok_by_field.get(f, 0),
        )
        for f in reader.fields
    ]
    import pandas as pd

    cd = spark.createDataFrame(
        pd.DataFrame(cd_rows, columns=["field", "n_docs", "total_tokens"]),
        "field string, n_docs long, total_tokens long",
    )

    # write each stage to a fresh versioned dir (prior versions untouched)
    snap = uuid.uuid4().hex[:8]
    paths = {s: os.path.join(cat.root, f"{s}__{snap}") for s in MUTABLE_STAGES}
    # Distributed writes: both frames end in a key shuffle (distinct /
    # groupBy), so AQE sizes the output partitions by bytes — a 5-row
    # delete coalesces to one file, a 2*10^9-row tombstone set (the 20%
    # compaction cap at 10^10 docs) fans out across the cluster instead
    # of funnelling through a single coalesce(1) task. Readers union
    # whatever files each stage dir holds; lineage row counts come from
    # parquet footers, so multi-file stages cost no extra jobs.
    all_tombs.write.mode("overwrite").parquet(paths["tombstones"])
    # the SAME tombstone set re-shaped as per-bin bitmaps (bitmaps.py):
    # readers above the row-broadcast ceiling apply deletes as a
    # broadcast mask join instead of a shuffling anti-join. Rebuilt from
    # the full merged set each commit (same cost class as the
    # term_stats_delta merge above), published in the same atomic swap.
    # (read back the file just written rather than recomputing the
    # merge's victim semi-join a second time)
    from .bitmaps import build_tombstone_bitmaps

    build_tombstone_bitmaps(
        spark.read.parquet(paths["tombstones"])
    ).write.mode("overwrite").parquet(paths["tombstone_bitmaps"])
    new_delta.write.mode("overwrite").parquet(paths["term_stats_delta"])
    # len(fields) rows from one pandas partition — single file by shape
    cd.write.mode("overwrite").parquet(paths["corpus_stats_delta"])
    # ONE atomic publish for all three, then GC superseded versions.
    # The tombstone COUNT the compaction policy needs is the stage's
    # lineage row count — recorded by the commit itself, no extra job.
    # gc_grace_sec: multi-writer deployments set this longer than their
    # slowest staging write so one writer's GC can never delete another
    # writer's staged-but-uncommitted version dirs.
    cat.commit_stages(
        {s: (p, {}) for s, p in paths.items()}, expected_parent=base_snapshot
    )
    cat.gc_unreferenced(MUTABLE_STAGES, grace_sec=gc_grace_sec)
    return {"deleted": n_removed}


def upsert_docs(
    spark: SparkSession,
    index_dir: str,
    new_pages: DataFrame,
    config: BuildConfig | None = None,
) -> dict:
    """MERGE-by-url: replace existing docs, add new ones. The url set
    stays a DataFrame end-to-end — no driver-side collect of keys."""
    d = delete_docs(spark, index_dir, new_pages.select("url"))
    a = append_docs(spark, index_dir, new_pages, config)
    return {**a, **d}


def compact(
    spark: SparkSession, index_dir: str, out_dir: str, config: BuildConfig | None = None
) -> dict:
    """Fold all generations minus tombstones into a fresh base build
    (the compaction-filter GC, src/index.rs:271-282). Every doc-store
    column rides along (multi-field / extra_doc_cols indexes compact
    losslessly) and surviving docIDs are PRESERVED (the reference's GC
    never renumbers seqs) unless the caller's config names its own
    doc_id_col."""
    import dataclasses

    from ..query.engine import IndexReader

    reader = IndexReader(spark, index_dir)
    cfg = config
    if cfg is None:
        # infer the original shape: same indexed fields, SAME analyzer
        # (rebuilding with a different analyzer would re-tokenize the
        # corpus and change every query result), same positions choice
        cfg = BuildConfig(
            fields=tuple(reader.fields),
            analyzer=reader.analyzer,
            store_positions=reader.has_positions,
        )
    known = {"doc_id", "url", "html"} | set(cfg.fields) | {"warc_ts", "lang", "text"}
    extras = tuple(c for c in reader.docs.columns if c not in known)
    cfg = dataclasses.replace(
        cfg, extra_doc_cols=tuple(dict.fromkeys(tuple(cfg.extra_doc_cols) + extras))
    )
    if cfg.doc_id_col is None:
        cfg = dataclasses.replace(cfg, doc_id_col="doc_id")
        pages = reader.docs
    else:
        pages = reader.docs.drop("doc_id")
    return build_index(spark, pages, out_dir, cfg)


def compaction_due(
    spark: SparkSession,
    index_dir: str,
    *,
    max_generations: int = 8,
    max_tombstone_frac: float = 0.2,
) -> dict:
    """Compaction policy check from MANIFEST METADATA ONLY (no data
    files read — at 100 TB this is a constant-time driver decision):
    compaction is due when delta generations pile past
    ``max_generations`` (every query unions one DataFrame per
    generation) or tombstones exceed ``max_tombstone_frac`` of built
    docs (dead postings pay shuffle/scan cost on every query). The
    counters come from committed stage metadata: `n_docs` commit metrics
    on corpus_stats, lineage row counts on the tombstones stage."""
    manifest = IndexCatalog(index_dir).current_manifest()
    gens = appended_generations(manifest)
    built = 0
    for g in [""] + gens:
        info = manifest["stages"].get(stage_name(g, "corpus_stats"))
        if info:
            built += info["metrics"]["n_docs"]
    t_info = manifest["stages"].get("tombstones")
    n_tombs = t_info["rows"] if t_info else 0
    frac = n_tombs / built if built else 0.0
    return {
        "due": len(gens) >= max_generations or frac >= max_tombstone_frac,
        "generations": len(gens),
        "n_docs_built": built,
        "n_tombstones": n_tombs,
        "tombstone_frac": round(frac, 4),
    }


def maybe_compact(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    config: BuildConfig | None = None,
    **policy,
) -> dict:
    """Run :func:`compact` iff :func:`compaction_due` says so — the
    maintenance entry a scheduler calls after every append/delete batch."""
    status = compaction_due(spark, index_dir, **policy)
    if not status["due"]:
        return {**status, "compacted": False}
    metrics = compact(spark, index_dir, out_dir, config)
    return {**status, "compacted": True, "build": metrics}
