"""Spark query engine: BM25 top-k + boolean/phrase/proximity retrieval.

Lowering strategy (SURVEY.md §2.3/§3.2): the plan AST becomes DataFrame
operations —

- term postings scan  → parquet read filtered by ``term`` (predicate
  pushdown + dictionary/min-max pruning; segments additionally prune by
  the deterministic term bucket partition)
- match sets          → a term-only tree is the kernel's weightless
  tree plan (below); trees with other arms (field predicates, phrases)
  join their arms: AND = semi joins, OR = union, NOT = left_anti join
- scored queries      → ONE plan shape for every term-only tree and
  top-level phrase / proximity, single (:meth:`IndexReader.search`) or
  batched (:meth:`IndexReader.search_many`): the bucket-pruned segment
  scan exploded to docID bins, ONE ``groupBy("bin")`` into the numpy
  kernel ``wand.score_bin`` (per-bin exact top-k, or every match), then
  ``orderBy(score desc, doc_id asc).limit(k)`` — a TakeOrderedAndProject
  (the reference's incremental sort/merge buffer,
  ``src/query.rs:511-553``) — or a per-query window top-k for a batch.
  The kernel sums ``w · tf_norm`` from :func:`noise_spark.scoring.bm25_tf_norm`
  in ASCENDING TERM ORDER, so scores are bitwise-reproducible across
  partitionings and bitwise-comparable to the pure-Python oracle
- other scored plans  → the same kernel scores every doc holding a
  scoring term (one flat OR of them, every match), left-joined from the
  match set; a lone term scores its decoded postings on Columns
"""

from __future__ import annotations

from functools import cached_property

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index.catalog import IndexCatalog, stage_name, visible_generations
from ..scoring import bm25_idf, bm25_tf_norm
from . import plan as P


def _read_rows(path: str) -> list[dict]:
    """Every row of a small committed parquet stage, read on the driver
    with pyarrow — a metadata-sized read, not a Spark job."""
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


class IndexReader:
    """Reads a committed index snapshot and answers queries.

    Resolves the manifest into possibly-many *generations* (base build +
    incremental appends), a tombstone set (deletes), and exact stat
    deltas — so BM25 after incremental maintenance is rank-identical to
    a fresh build over the logical corpus (the reference's merge-op
    counter semantics, src/index.rs:301-322)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.cat = IndexCatalog(index_dir)
        manifest = self.cat.current_manifest()
        stages = self._stages = manifest["stages"]
        gens = self._gens = visible_generations(manifest)

        def paths(kind: str) -> list[str]:
            return [stages[stage_name(g, kind)]["path"] for g in gens]

        self._docs_paths = paths("docs")
        self._term_stats_paths = paths("term_stats")
        self._segments_paths = paths("segments")

        # corpus stats: per-field Σ over generation rows + delete deltas.
        # Both tables hold one row per indexed field, so they are read on
        # the driver with pyarrow (like catalog footers): opening a
        # reader runs no Spark job.
        field_order: list[str] = []
        fstats: dict[str, list[int]] = {}  # field -> [n_docs, total_tokens]
        for p in paths("corpus_stats"):
            for row in sorted(_read_rows(p), key=lambda r: r["ordinal"]):
                f = row["field"]
                if f not in fstats:
                    fstats[f] = [0, 0]
                    field_order.append(f)
                fstats[f][0] += row["n_docs"]
                fstats[f][1] += row["total_tokens"]
        if "corpus_stats_delta" in stages:
            for d in _read_rows(stages["corpus_stats_delta"]["path"]):
                f = d["field"]
                if f in fstats:
                    fstats[f][0] += d["n_docs"]
                    fstats[f][1] += d["total_tokens"]
        self.fields = field_order
        self.default_field = field_order[0] if field_order else "text"
        self.scoped = len(field_order) > 1
        self.n_docs = fstats[self.default_field][0] if field_order else 0
        self.field_avg_dl = {
            f: float(v[1]) / max(v[0], 1) for f, v in fstats.items()
        }
        self.avg_dl = self.field_avg_dl.get(self.default_field, 0.0)

        # tombstone and bitmap-mask row counts come from committed
        # lineage (no job) and drive the broadcast decisions in
        # _minus_tombstones; delete_docs commits both stages together
        self._n_tombstones = stages["tombstones"]["rows"] if "tombstones" in stages else 0
        self._n_bitmap_words = (
            stages["tombstone_bitmaps"]["rows"] if self._n_tombstones else 0
        )
        self._term_stats_delta = (
            stages["term_stats_delta"]["path"] if "term_stats_delta" in stages else None
        )
        self._df_cache: dict[str, int] = {}
        # query-time analyzer: the one the first visible generation
        # (the base build, when it is complete) was built with
        self.analyzer = (
            stages[stage_name(gens[0], "term_stats")]["metrics"]["analyzer"]
            if gens
            else "porter"
        )
        # positions are optional (BuildConfig.store_positions=False omits
        # the payload); every generation must agree for phrase/prox to work
        self.has_positions = all(
            stages[stage_name(g, "segments")]["metrics"]["positions"] for g in gens
        )
        # virtual (derived) document fields: name → (docs DF → Column).
        # The typed-column re-expression of the reference's dynamic
        # keypaths (arbitrary shredded paths, src/json_shred.rs:485-576):
        # predicates/binds/returns can target a derived column (e.g. a
        # token array) without materializing it in the doc store.
        self.virtual_fields: dict = {}

    def docs_view(self) -> DataFrame:
        """Doc store plus any registered virtual fields — the table that
        field predicates, bind variables, and return paths resolve
        against. Virtual columns are plain expressions, so Catalyst
        prunes them unless actually referenced."""
        d = self.docs
        for name, make in self.virtual_fields.items():
            d = d.withColumn(name, make(d))
        return d

    def _elem_word_match(self, node) -> DataFrame:
        """Element-scoped word conditions (P.ElemWord / P.ElemWordAll —
        the reference's stemmed filters inside array clauses with
        same-element semantics, not.noise:50-152). Candidates come
        from a bucket-pruned INDEX prefilter on the tree's positive
        terms at the depth-scoped shadow field (no positive terms —
        all-negated trees — fall back to field-present docs); the
        same-element boolean then verifies in ONE Arrow-batched pass
        over the stored field value, the candidates+verify shape the
        phrase path uses. Scale: verify touches only prefiltered docs,
        and the tokenizer cost is per candidate element, not per
        corpus."""
        from pyspark.sql.functions import pandas_udf

        from ..ingest import VARIANT_TEXT_SUFFIX

        c, _ = self._doc_field(node.field)
        if c is None:
            return self._empty_match()
        is_all = isinstance(node, P.ElemWordAll)
        depth = 2 if is_all else node.depth
        tree = node.tree
        dv = self.docs_view()
        pos: list[tuple] = []

        def walk(t, neg=False):
            if t[0] == "word":
                if not neg:
                    pos.append((t[1], t[2]))
            elif t[0] in ("wand", "wor"):
                walk(t[1], neg)
                walk(t[2], neg)
            else:
                walk(t[1], not neg)

        walk(tree)
        keys: set[str] = set()
        if pos:
            shadow = f"{node.field}{VARIANT_TEXT_SUFFIX}{depth}"
            # only prefilter through the index when the depth shadow is
            # actually INDEXED (schemaless ingest). On a typed corpus the
            # shadow field does not exist — _key would return a dead
            # scoped key (zero candidates) and silently drop true matches
            # from the stored array column — so fall through to the
            # field-present + Arrow-verify path, which computes the
            # correct same-element answer from the stored value.
            if shadow in self.field_avg_dl:
                keys = {
                    self._key(t, shadow) for terms, _w in pos for t in terms
                }
        if keys:
            cand = self.postings_for(sorted(keys)).select("doc_id").distinct()
            dv = dv.join(cand, "doc_id", "left_semi")
        else:
            dv = dv.filter(c.isNotNull())

        analyzer = self.analyzer

        def make_udf():
            import json as _json

            import numpy as np

            from ..analysis.tokenizer import analyze
            from .wand import positions_satisfy

            def toks_of(x):
                if isinstance(x, str):
                    return [t for _, t in analyze(x, analyzer)]
                return None

            def word_hit(toks, terms, window):
                # a word, phrase (window None) or proximity over one
                # element's token positions
                if toks is None:
                    return False
                at: dict[str, list[int]] = {}
                for i, w in enumerate(toks):
                    at.setdefault(w, []).append(i)
                lists = [np.asarray(at.get(t, ()), dtype=np.int64) for t in terms]
                return positions_satisfy(lists, window is None, window or 0)

            def ev(t, toks):
                if t[0] == "word":
                    return word_hit(toks, t[1], t[2])
                if t[0] == "wand":
                    return ev(t[1], toks) and ev(t[2], toks)
                if t[0] == "wor":
                    return ev(t[1], toks) or ev(t[2], toks)
                return not ev(t[1], toks)

            def doc_match(js):
                if js is None:
                    return False
                v = _json.loads(js)
                if not isinstance(v, list):
                    return False
                if is_all:
                    # ∀ depth-1 element (must be a non-empty array set):
                    # each is an array with a matching depth-2 element
                    return bool(v) and all(
                        isinstance(o, list)
                        and any(ev(tree, toks_of(i)) for i in o)
                        for o in v
                    )
                if depth == 2:
                    return any(
                        isinstance(o, list)
                        and any(ev(tree, toks_of(i)) for i in o)
                        for o in v
                    )
                return any(ev(tree, toks_of(e)) for e in v)

            @pandas_udf("boolean")
            def f(js):
                return js.map(doc_match)

            return f

        return dv.filter(make_udf()(F.to_json(c))).select("doc_id")

    def _empty_match(self) -> DataFrame:
        """Zero-row DataFrame[doc_id] — the unknown-keypath match set."""
        return self.docs.select("doc_id").filter(F.lit(False))

    def _doc_field(self, field: str):
        """Resolve a find-clause field name against the doc store:
        ``(Column, is_variant)``. Backtick-escaped names are literal
        column lookups; dotted names walk typed structs natively, or —
        when the ROOT column is a schemaless-ingested VARIANT
        (ingest.py) — walk via JSON paths (query/variant.py)."""
        from .variant import v_path

        dtypes = dict(self.docs_view().dtypes)
        if field.startswith("`") and field.endswith("`"):
            raw = field[1:-1].replace("``", "`")
            if raw not in dtypes:
                return None, False
            return F.col(field), dtypes.get(raw) == "variant"
        segs = field.split(".")
        root = segs[0]
        if root not in dtypes:
            # an unknown keypath in a find clause matches NOTHING (the
            # reference scans an empty keyspace — ranges.noise:239-247
            # `NotAField: ==50` contributes zero matches, no error)
            return None, False
        if dtypes.get(root) == "variant":
            col = F.col(root)
            if len(segs) > 1:
                col = v_path(col, [("k", s) for s in segs[1:]])
            return col, True
        return F.col(field), False

    # -- field scoping ----------------------------------------------------------
    def _key(self, term: str, field: str | None = None) -> str:
        """Map (term, field) to its index key: bare on single-field
        indexes, ``field␟term`` on multi-field ones (the reference's
        keypath-scoped key, src/key_builder.rs:64-82)."""
        from ..index.build import scoped_term
        from ..ingest import VARIANT_TEXT_SUFFIX

        f = field or self.default_field
        if f != self.default_field and (
            f not in self.field_avg_dl if self.scoped else True
        ):
            # a schemaless-ingested variant field is word-indexed via
            # its `<f>__text` shadow column (ingest.py) — queries name
            # the REAL field; resolve to the shadow transparently
            shadow = f + VARIANT_TEXT_SUFFIX
            if (self.scoped and shadow in self.field_avg_dl) or (
                not self.scoped and shadow == self.default_field
            ):
                f = shadow
        if not self.scoped:
            if f != self.default_field:
                raise ValueError(
                    f"index has a single field {self.default_field!r}; "
                    f"cannot scope query to {f!r}"
                )
            return term
        if f not in self.field_avg_dl:
            if VARIANT_TEXT_SUFFIX in f:
                # a shadow of an UNKNOWN schemaless field: an unknown
                # keypath matches nothing in the reference, so return
                # the (dead) scoped key — the postings lookup finds no
                # bucket and the match set is empty, no error
                # (not.noise:105 `missing: ![~="fox"]`)
                return scoped_term(f, term)
            raise ValueError(f"field {f!r} not indexed (have {self.fields})")
        return scoped_term(f, term)

    def _field_of(self, key: str) -> str:
        from ..index.build import FIELD_SEP

        return key.split(FIELD_SEP, 1)[0] if self.scoped else self.default_field

    def _avgdl(self, key: str) -> float:
        """The avgdl of a key's field. A dead key (the shadow of an
        unknown schemaless field, see :meth:`_key`) has no postings, so
        its value is never used: 0.0."""
        return self.field_avg_dl.get(self._field_of(key), 0.0)

    def _union(self, paths: list[str]) -> DataFrame:
        df = self.spark.read.parquet(paths[0])
        for p in paths[1:]:
            df = df.unionByName(self.spark.read.parquet(p))
        return df

    # Each snapshot table is resolved ONCE per reader, on first use: a
    # ``spark.read.parquet`` lists its directory (a job with one task
    # per bucket dir on segments) and infers a schema (another job), so
    # every query instead adds its filters and projections to the same
    # relation, whose file index already holds the listing. Safe because
    # a reader's stage paths never change under it: mutable stages are
    # committed to fresh ``<stage>__<snap>`` dirs and compaction writes
    # a new index dir. Lazy, not in __init__: a reader opened only for
    # ``.fields`` (append_docs) never lists anything.
    @cached_property
    def _docs_table(self) -> DataFrame:
        return self._union(self._docs_paths)

    @cached_property
    def _segments_table(self) -> DataFrame:
        return self._union(self._segments_paths)

    @cached_property
    def _term_stats_table(self) -> DataFrame:
        delta = [self._term_stats_delta] if self._term_stats_delta else []
        return self._union(self._term_stats_paths + delta)

    # Tombstones stay a DataFrame end-to-end: never collected to the
    # driver or shipped in task closures (a bulk delete at scale would
    # otherwise become driver memory + per-task closure bytes).
    # DataFrame paths anti-join it; the WAND path cogroups a BINNED view
    # of it so each bin receives only its own tombstones. None when the
    # snapshot has no tombstones.
    @cached_property
    def _tombstones(self) -> DataFrame | None:
        if not self._n_tombstones:
            return None
        return self.spark.read.parquet(self._stages["tombstones"]["path"])

    # The bitmap-shaped view of the same tombstone set: lets
    # _minus_tombstones stay a BROADCAST join above the row-broadcast
    # ceiling (index/bitmaps.py).
    @cached_property
    def _tombstone_bitmaps(self) -> DataFrame | None:
        if not self._n_tombstones:
            return None
        return self.spark.read.parquet(self._stages["tombstone_bitmaps"]["path"])

    # below this many tombstones the anti-join side is explicitly
    # broadcast (a doc_id column of 5M longs is ~40 MB serialized —
    # comfortably a map-side hash filter, no shuffle of the decoded
    # postings). Above it the per-bin bitmap view takes over
    # (index/bitmaps.py): each mask row is two longs, so the table is
    # ≤ min(16·n, universe/4) bytes — 2×10⁹ deletes over 10¹⁰ docs
    # broadcast as ≤2.5 GB — so delete application avoids shuffling the
    # match set up to BROADCAST_BITMAP_MAX_WORDS mask rows (~2 GB
    # built); beyond that it falls back to the shuffling anti-join,
    # which the compaction policy bounds (fold at 20% tombstones). The
    # WAND path takes none of these — it cogroups a BINNED tombstone
    # view per docID bin.
    BROADCAST_TOMBSTONES_MAX = 5_000_000
    # mask rows above which the bitmap side itself is too big to
    # broadcast safely (16 bytes/row → ~2 GB; the hard broadcast cap is
    # 8 GB and every executor holds the built relation)
    BROADCAST_BITMAP_MAX_WORDS = 128_000_000

    def _minus_tombstones(self, df: DataFrame) -> DataFrame:
        if not self._n_tombstones:
            return df
        if self._n_tombstones <= self.BROADCAST_TOMBSTONES_MAX:
            # deterministic plan: don't leave the no-shuffle path to
            # AQE's runtime estimate of the tombstone side
            return df.join(F.broadcast(self._tombstones), "doc_id", "left_anti")
        if self._n_bitmap_words <= self.BROADCAST_BITMAP_MAX_WORDS:
            from ..index.bitmaps import not_deleted

            return not_deleted(df, self._tombstone_bitmaps)
        return df.join(self._tombstones, "doc_id", "left_anti")

    # -- table access ---------------------------------------------------------
    @property
    def postings(self) -> DataFrame:
        """Logical postings view ``(term, doc_id, tf, dl)`` decoded from
        the compressed segments — the segments ARE the index (single
        copy on disk; the build's raw-postings stage is an unpersisted
        intermediate). Prefer :meth:`postings_for` for term-scoped reads
        (bucket partition pruning)."""
        return self._decode_segments(None)

    @property
    def docs(self) -> DataFrame:
        return self._minus_tombstones(self._docs_table)

    @property
    def segments(self) -> DataFrame:
        return self._segments_table

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Doc frequencies, cached per reader: a reader pins one snapshot,
        so stats are immutable for its lifetime — repeat queries over the
        same vocabulary skip the stats job entirely."""
        if not terms:
            return {}
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            stats = self._term_stats_table
            # no groupBy exchange: each term has at most one stats row
            # per generation (+ one delta row), so the filtered scan
            # collects ≤ terms × generations rows and the integer sum
            # happens driver-side — one stage instead of two
            rows = (
                stats.filter(F.col("term").isin(missing))
                .select("term", "df")
                .collect()
            )
            got: dict[str, int] = {}
            for r in rows:
                got[r["term"]] = got.get(r["term"], 0) + int(r["df"] or 0)
            for t in missing:
                self._df_cache[t] = got.get(t, 0)
        return {t: self._df_cache[t] for t in terms if self._df_cache.get(t, 0) > 0}

    def postings_for(self, terms: list[str]) -> DataFrame:
        """Term-scoped postings decoded from segments: the scan is pruned
        by the deterministic term-bucket partition, then by term via
        parquet dictionary/min-max — only matching blocks are decoded."""
        return self._decode_segments(list(terms))

    def _decode_segments(self, terms: list[str] | None) -> DataFrame:
        """Live ``(term, doc_id, tf, dl)`` postings of
        ``terms`` (all terms when None): a bucket- and term-pruned
        segment scan through :meth:`_decode_blocks`, minus tombstones."""
        segs = self.segments
        if terms is not None:
            segs = self._segments_of(terms)
        return self._minus_tombstones(self._decode_blocks(segs))

    def _segments_of(self, terms) -> DataFrame:
        """Segment rows of ``terms``: the bucket partition prunes
        directories, the term filter prunes row groups."""
        from ..index.build import term_bucket

        buckets = sorted({term_bucket(t) for t in terms})
        return self.segments.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(list(terms))
        )

    @staticmethod
    def _decode_blocks(segs: DataFrame) -> DataFrame:
        """The one segment-to-postings decoder: ``(term, doc_id, tf, dl)``
        from segment block rows, one Arrow-batched pass, numpy per block
        (the match-set and filter lowerings; scored top-k decodes inside
        the kernel instead)."""
        segs = segs.select("term", "docs", "tfs", "dls")

        def decode(iterator):
            import numpy as np

            from ..index import codec as C

            for pdf in iterator:
                frames = []
                for row in pdf.itertuples(index=False):
                    data = {
                        "term": row.term,
                        "doc_id": C.delta_decode(bytes(row.docs)),
                        "tf": C.varbyte_decode(bytes(row.tfs)).astype(np.int32),
                        "dl": C.varbyte_decode(bytes(row.dls)).astype(np.int32),
                    }
                    frames.append(pd.DataFrame(data))
                if frames:
                    yield pd.concat(frames, ignore_index=True)

        fields = [
            T.StructField("term", T.StringType(), False),
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("tf", T.IntegerType(), False),
            T.StructField("dl", T.IntegerType(), False),
        ]
        return segs.mapInPandas(decode, schema=T.StructType(fields))

    # -- match sets -------------------------------------------------------------
    def _match_set(self, node: P.Node) -> DataFrame:
        """DataFrame[doc_id] of matching documents."""
        if isinstance(node, P.Term):
            return self.postings_for([self._key(node.term, node.field)]).select("doc_id")
        if self._tree_shaped(node):
            # a term-only And/Or/Not: the kernel's tree plan, weightless
            from .wand import BinQuery

            return self._run_bins({"q": BinQuery(self._tree_match(node), {}, {}, None)}).select("doc_id")
        if isinstance(node, P.Or):
            out = self._match_set(node.children[0])
            for c in node.children[1:]:
                out = out.union(self._match_set(c))
            return out.distinct()
        if isinstance(node, P.And):
            kids = list(node.children)
            out = self._match_set(kids[0])
            for c in kids[1:]:
                out = out.join(self._match_set(c), "doc_id", "left_semi")
            return out
        if isinstance(node, P.Not):
            pos = self._match_set(node.positive)
            neg = self._match_set(node.negative)
            return pos.join(neg, "doc_id", "left_anti")
        if isinstance(node, P.Phrase):
            keys = [self._key(t, node.field) for t in node.terms]
            return self._positional_match(keys, phrase=True)
        if isinstance(node, P.Proximity):
            keys = [self._key(t, node.field) for t in node.terms]
            return self._positional_match(keys, phrase=False, window=node.window)
        if isinstance(node, P.ExactMatch):
            return self._exact_match(node)
        if isinstance(node, P.FieldEq):
            c, isv = self._doc_field(node.field)
            if c is None:
                return self._empty_match()
            if isv:
                from .variant import v_eq

                cond = v_eq(c, node.value)
            else:
                cond = c.isNull() if node.value is None else c == F.lit(node.value)
            return self.docs_view().filter(cond).select("doc_id")
        if isinstance(node, P.FieldRange):
            c, isv = self._doc_field(node.field)
            if c is None:
                return self._empty_match()
            if isv:
                from .variant import v_range

                cond = v_range(
                    c, node.lo, node.hi, node.lo_inclusive, node.hi_inclusive
                )
            else:
                cond = F.lit(True)
                if node.lo is not None:
                    cond = cond & (
                        c >= node.lo if node.lo_inclusive else c > node.lo
                    )
                if node.hi is not None:
                    cond = cond & (
                        c <= node.hi if node.hi_inclusive else c < node.hi
                    )
            return self.docs_view().filter(cond).select("doc_id")
        if isinstance(node, P.Bind):
            # exists(arr, pred): JVM-side higher-order function — matches
            # the reference's per-element probe (src/filters.rs:1068-1152)
            # with zero explosion/shuffle. Variant fields (schemaless
            # ingest) probe their JSON-array elements the same way.
            c, isv = self._doc_field(node.field)
            if c is None:
                return self._empty_match()
            if isv:
                from .variant import v_exists

                cond = v_exists(c, node.cond)
            else:
                cond = F.exists(c, P.bind_element_pred(node))
            return self.docs_view().filter(cond).select("doc_id")
        if isinstance(node, (P.ElemWord, P.ElemWordAll)):
            return self._elem_word_match(node)
        if isinstance(node, P.BboxOverlap):
            c, isv = self._doc_field(node.field)
            if c is None:
                return self._empty_match()
            if isv:
                # dynamic GeoJSON geometry (schemaless ingest): bbox
                # from the JSON-rendered coordinate content
                from .variant import bbox_overlap_json

                cond = bbox_overlap_json(
                    c, node.west, node.south, node.east, node.north
                )
            else:
                from ..datapipe.geo import bbox_overlap

                cond = bbox_overlap(
                    c, node.west, node.south, node.east, node.north
                )
            return self.docs_view().filter(cond).select("doc_id")
        if isinstance(node, P.AllDocs):
            return self.docs.select("doc_id")
        raise TypeError(type(node))

    def _exact_match(self, node: P.ExactMatch) -> DataFrame:
        """Index-prefiltered exact string equality.

        The reference never scans the doc store for ``==``: it runs a
        stemmed-phrase index probe and only then verifies the stored
        value (src/filters.rs:283-344). Same shape here: analyze the
        literal with the index's analyzer, candidate-match its token
        sequence over the bucket-pruned segments (phrase when positions
        are stored, AND-intersection otherwise — both have perfect
        recall, since a doc whose text equals the literal necessarily
        contains the literal's exact token sequence), then verify
        ``text == literal`` on the candidate semi-join against the doc
        store. Only an unanalyzable literal (no tokens, e.g. pure
        punctuation) falls back to the full doc-store filter.
        """
        from ..analysis.tokenizer import analyze

        toks = [t for _, t in analyze(node.literal, self.analyzer)]
        # ExactMatch semantics are TEXT equality, so the probe must be
        # scoped to the 'text' field — never the index default field
        # (fields=('title','text') would otherwise probe title postings
        # and prune true matches). Fallback to the doc-store scan when
        # the index doesn't cover 'text' (then there is nothing to
        # probe) or the literal analyzes to nothing (defensive: the
        # analyzers emit a fallback token even for pure punctuation).
        try:
            keys = [self._key(t, "text") for t in toks] if toks else []
        except ValueError:
            keys = []
        if not keys:
            return self.docs.filter(F.col("text") == node.literal).select("doc_id")
        if len(keys) == 1:
            cand = self.postings_for(keys).select("doc_id")
        elif self.has_positions:
            cand = self._positional_match(keys, phrase=True)
        else:
            cand = self._match_set(P.And(tuple(P.Term(t, field="text") for t in toks)))
        return (
            self.docs.join(cand, "doc_id", "left_semi")
            .filter(F.col("text") == node.literal)
            .select("doc_id")
        )

    def _positional_match(self, terms: list[str], phrase: bool, window: int = 0) -> DataFrame:
        """Docs where ``terms`` (index keys) occur consecutively (phrase)
        or within an N-word window (proximity): the kernel's positional
        plan with no scoring key, keeping only the doc ids."""
        from .wand import BinQuery

        if not self.has_positions:
            raise ValueError(
                "index was built with store_positions=False — phrase/"
                "proximity queries need position payloads (rebuild with "
                "BuildConfig(store_positions=True))"
            )
        q = BinQuery(("pos", list(terms), phrase, window), {}, {}, None)
        return self._run_bins({"q": q}).select("doc_id")

    # -- scored lowering: the per-bin kernel --------------------------------------
    # Every term-only tree and every top-level phrase/proximity scores in
    # ONE plan shape, single or batched: a bucket-pruned segment scan
    # exploded to docID bins, ONE groupBy("bin") into the numpy kernel
    # (wand.score_bin), then a top-k. Per-query parameters ride in the
    # pickled closure, so the plan holds no literal maps.

    @staticmethod
    def _term_only(node: P.Node) -> bool:
        if isinstance(node, P.Term):
            return True
        if isinstance(node, (P.Or, P.And)):
            return bool(node.children) and all(
                IndexReader._term_only(c) for c in node.children
            )
        if isinstance(node, P.Not):
            return IndexReader._term_only(node.positive) and IndexReader._term_only(
                node.negative
            )
        return False

    def _tree_keys(self, node: P.Node) -> set[str]:
        """Every index key a term-only tree references (both arms of a
        NOT — negative-arm terms are read as weightless markers so the
        tree can test them)."""
        if isinstance(node, P.Term):
            return {self._key(node.term, node.field)}
        if isinstance(node, (P.Or, P.And)):
            out: set[str] = set()
            for c in node.children:
                out |= self._tree_keys(c)
            return out
        return self._tree_keys(node.positive) | self._tree_keys(node.negative)

    def _tree_bits(self, node: P.Node, qbits: dict[str, int]) -> tuple:
        """A term-only boolean tree as bit tests over a doc's
        matched-key mask, for the kernel: Term → ``("any", bit)``, and
        sibling Term children of an Or/And merge into ONE test
        (``("any", m)`` any-of / ``("all", m)`` all-of), so a flat query
        is a single compare; other children nest as ``("or" | "and",
        [exprs])`` and ``("not", positive, negative)``. Absent (df=0)
        terms never set their bit, so they evaluate correctly for free
        (an absent AND arm is unsatisfiable, an absent OR arm contributes
        nothing, an absent negative arm subtracts nothing)."""
        if isinstance(node, P.Term):
            return ("any", qbits[self._key(node.term, node.field)])
        if isinstance(node, (P.Or, P.And)):
            is_or = isinstance(node, P.Or)
            tb = 0
            exprs = []
            for c in node.children:
                if isinstance(c, P.Term):
                    tb |= qbits[self._key(c.term, c.field)]
                else:
                    exprs.append(self._tree_bits(c, qbits))
            if tb:
                exprs.insert(0, ("any" if is_or else "all", tb))
            return exprs[0] if len(exprs) == 1 else ("or" if is_or else "and", exprs)
        return ("not", self._tree_bits(node.positive, qbits), self._tree_bits(node.negative, qbits))

    def _tree_match(self, node: P.Node) -> tuple:
        """The kernel's ``("tree", keys, expr)`` plan of a term-only tree
        (bit i ↔ the i-th sorted key)."""
        keys = sorted(self._tree_keys(node))
        return ("tree", keys, self._tree_bits(node, {t: 1 << i for i, t in enumerate(keys)}))

    @staticmethod
    def _or_of_terms(node: P.Node) -> bool:
        """Only Or and Term nodes: every posting of its keys matches."""
        if isinstance(node, P.Term):
            return True
        return isinstance(node, P.Or) and all(
            IndexReader._or_of_terms(c) for c in node.children
        )

    def _empty_scored(self) -> DataFrame:
        return self.spark.createDataFrame([], "query_id string, doc_id long, score double")

    def _tree_shaped(self, node: P.Node) -> bool:
        """A term-only tree that fits one signed long of query-local bits."""
        return self._term_only(node) and len(self._tree_keys(node)) < 63

    def _kernel_shaped(self, node: P.Node) -> bool:
        """Plans the kernel scores: term-only trees, and top-level
        phrase / proximity on an index that stores positions."""
        if isinstance(node, (P.Phrase, P.Proximity)):
            return self.has_positions
        return self._tree_shaped(node)

    def _weights(self, boosts: dict[str, float], dfs: dict[str, int]) -> dict[str, float]:
        """Scoring key → idf · boost, for the keys present in the corpus."""
        return {t: bm25_idf(self.n_docs, dfs[t]) * boosts[t] for t in sorted(boosts) if t in dfs}

    def _bin_query(self, node: P.Node, dfs: dict[str, int], k: int | None):
        """The kernel's :class:`~.wand.BinQuery` of a kernel-shaped plan,
        or None when the plan can match nothing (an absent phrase or AND
        term, or no positive term in the corpus)."""
        from .wand import BinQuery

        boosts = self._term_boosts(node)
        weights = self._weights(boosts, dfs)
        if isinstance(node, (P.Phrase, P.Proximity)):
            if len(weights) < len(boosts):
                return None
            keys = [self._key(t, node.field) for t in node.terms]
            match = ("pos", keys, isinstance(node, P.Phrase), getattr(node, "window", 0))
        elif not weights:
            return None
        elif self._or_of_terms(node):
            match = ("or", sorted(weights))
        elif isinstance(node, P.And) and all(isinstance(c, P.Term) for c in node.children):
            if len(weights) < len(boosts):
                return None
            match = ("and", sorted(weights))
        else:
            match = self._tree_match(node)
        return BinQuery(match, weights, {t: self._avgdl(t) for t in weights}, k)

    def _kernel(self, plans: dict[str, P.Node], k: int | None, n_bins: int | None = None) -> DataFrame:
        """Scored ``(query_id, doc_id, score)`` of a batch of
        kernel-shaped plans: each plan's exact top-k of every bin, or
        every match when ``k`` is None."""
        dfs = self.term_dfs(
            sorted({t for node in plans.values() for t in self._term_boosts(node)})
        )
        queries = {}
        for qid, node in plans.items():
            q = self._bin_query(node, dfs, k)
            if q is not None:
                queries[qid] = q
        return self._run_bins(queries, n_bins)

    @staticmethod
    def _bins_of(first, last, bin_width: int):
        """One row per docID bin that ``[first, last]`` overlaps."""
        return F.explode(
            F.sequence(
                (first / F.lit(bin_width)).cast("int"), (last / F.lit(bin_width)).cast("int")
            )
        )

    def _run_bins(self, queries: dict, n_bins: int | None = None) -> DataFrame:
        """ONE grouped Python stage: the segment blocks of every key the
        queries read (bucket prunes directories, term prunes row groups),
        exploded to docID bins, one ``groupBy("bin")`` into
        :func:`~.wand.score_bin`. Only the columns the kernel reads reach
        the Python workers; positions only when a positional plan needs
        them. Tombstones reach each bin through a COGROUP on the same
        key, so each task sees only its own docID range's tombstones and
        nothing rides in the closure or touches the driver. After an
        action, ``self.last_blocks_decoded.value`` counts the tf/dl
        payloads the bins decoded."""
        from .wand import score_bin

        if not queries:
            return self._empty_scored()
        keys = sorted({t for q in queries.values() for t in q.match[1]})
        positional = any(q.match[0] == "pos" for q in queries.values())
        if n_bins is None:
            n_bins = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        bw = max(1, -(-self.n_docs // n_bins))
        cols = ["term", "first_doc", "last_doc", "docs", "tfs", "dls", "max_tf", "min_dl"]
        segs = (
            self._segments_of(keys)
            .select(*cols, *(["positions"] if positional else []))
            .withColumn("bin", self._bins_of(F.col("first_doc"), F.col("last_doc"), bw))
        )
        blocks_acc = self.spark.sparkContext.accumulator(0)
        self.last_blocks_decoded = blocks_acc
        schema = "query_id string, doc_id long, score double"

        def run(bin_id: int, pdf: pd.DataFrame, exclude) -> pd.DataFrame:
            if not len(pdf):
                return pd.DataFrame({"query_id": [], "doc_id": [], "score": []})
            stats: dict = {}
            out = score_bin(pdf, bin_id * bw, (bin_id + 1) * bw, queries, exclude, stats)
            blocks_acc.add(stats.get("blocks_decoded", 0))
            return pd.DataFrame(
                {
                    "query_id": np.repeat([q for q, _, _ in out], [d.size for _, d, _ in out]),
                    "doc_id": np.concatenate([d for _, d, _ in out]),
                    "score": np.concatenate([s for _, _, s in out]),
                }
            )

        if self._n_tombstones > self.BROADCAST_TOMBSTONES_MAX:
            # above the row-broadcast ceiling, cogroup the word-level
            # BITMAP masks instead of raw tombstone rows: the shuffled
            # side is ≤ min(16·n, universe/4) bytes per query (e.g.
            # ~2.5 GB for 2×10⁹ deletes over 10¹⁰ docs, vs ~30 GB of
            # rows); each task expands only its own docID range's mask
            # words to the exclude array (index/bitmaps.py layout)
            def run_with_masks(key, pdf, masks):
                lo, hi = key[0] * bw, (key[0] + 1) * bw
                excl = None
                if len(masks):
                    base = masks["wbin"].to_numpy(dtype=np.int64) << 6
                    words = masks["word"].to_numpy(dtype=np.int64).astype("<i8")
                    # little-endian uint8 view → bits in doc-offset order
                    bits = np.unpackbits(words.view(np.uint8), bitorder="little").reshape(
                        len(words), 64
                    )
                    rows, offs = np.nonzero(bits)
                    ids = base[rows] + offs
                    ids = ids[(ids >= lo) & (ids < hi)]
                    excl = np.sort(ids) if len(ids) else None
                return run(key[0], pdf, excl)

            # a mask word covers docIDs [wbin·64, wbin·64+63] and can
            # straddle two bins — replicate into each
            masks = self._tombstone_bitmaps.select(
                self._bins_of(F.col("wbin") * 64, F.col("wbin") * 64 + 63, bw).alias("bin"),
                "wbin",
                "word",
            )
            return (
                segs.groupBy("bin")
                .cogroup(masks.groupBy("bin"))
                .applyInPandas(run_with_masks, schema=schema)
            )
        if self._n_tombstones:

            def run_with_tombs(key, pdf, tomb):
                excl = np.sort(tomb["doc_id"].to_numpy(dtype=np.int64)) if len(tomb) else None
                return run(key[0], pdf, excl)

            tombs = self._tombstones.withColumn("bin", (F.col("doc_id") / F.lit(bw)).cast("int"))
            return (
                segs.groupBy("bin")
                .cogroup(tombs.groupBy("bin"))
                .applyInPandas(run_with_tombs, schema=schema)
            )

        def run_live(key, pdf):
            return run(key[0], pdf, None)

        return segs.groupBy("bin").applyInPandas(run_live, schema=schema)

    # -- scoring -------------------------------------------------------------------
    def _term_boosts(self, node: P.Node) -> dict[str, float]:
        """Positive scoring terms of a plan as INDEX KEYS (field-scoped
        on multi-field indexes) → accumulated boost."""
        boosts: dict[str, float] = {}

        def walk(n: P.Node, mult: float):
            if isinstance(n, P.Term):
                boosts[self._key(n.term, n.field)] = mult * n.boost
            elif isinstance(n, (P.Or, P.And)):
                for c in n.children:
                    walk(c, mult * n.boost)
            elif isinstance(n, P.Not):
                walk(n.positive, mult)
            elif isinstance(n, (P.Phrase, P.Proximity)):
                for t in n.terms:
                    boosts[self._key(t, n.field)] = mult * n.boost
            elif isinstance(n, P.ExactMatch):
                pass

        walk(node, 1.0)
        return boosts

    def scored_matches(self, node: P.Node) -> DataFrame:
        """The FULL scored match set — DataFrame(doc_id, score),
        unordered and unlimited. :meth:`search` puts a descending top-k
        on it; an ascending-score consumer (the reference's default
        ``order score()`` is ASC, src/parser.rs:1124-1130) should sort
        THIS directly — ``orderBy(score).limit(n)`` on the unordered set
        plans a single small TakeOrdered instead of a full descending
        sort barrier followed by a re-sort.

        Pure filter plans (exact match, field predicates, all-docs) score
        binary 1.0 like the reference (src/filters.rs:363-368, 487-492);
        kernel-shaped plans other than a lone term emit every match from
        the per-bin kernel; a lone term scores its decoded postings
        directly; any other plan containing scoring terms ranks by BM25
        with the filters shaping the candidate set: its match set
        left-joined to one kernel plan that scores every doc holding a
        scoring term."""
        from .wand import BinQuery

        if isinstance(node, (P.ExactMatch, P.FieldEq, P.FieldRange, P.AllDocs, P.Bind, P.BboxOverlap, P.ElemWord, P.ElemWordAll)) or not self._term_boosts(node):
            return self._match_set(node).withColumn("score", F.lit(1.0))
        if self._kernel_shaped(node) and not isinstance(node, P.Term):
            return self._kernel({"q": node}, None).select("doc_id", "score")
        boosts = self._term_boosts(node)
        weights = self._weights(boosts, self.term_dfs(sorted(boosts)))
        if not weights:
            # every scoring term is absent from the corpus (df=0): no
            # BM25 mass anywhere, but a doc can still match through a
            # non-term arm ('missing || !b', a field-predicate arm) —
            # those belong in the result at score 0.0, exactly like the
            # score-0 docs the left-join path below produces
            return self._match_set(node).withColumn(
                "score", F.lit(0.0).cast("double")
            )
        avgdls = {t: self._avgdl(t) for t in weights}
        if isinstance(node, P.Term):
            # one key, tf aggregated at build: each posting is one
            # matched doc and its contribution is the score, so the full
            # match set needs neither the kernel's bin grouping nor a sum
            # (adding it to 0.0 changes nothing). The weight and avgdl
            # are scalar literals; Spark only commutes the ``*``/``+``
            # operands of bm25_tf_norm, which is exact in IEEE.
            ((t, w),) = weights.items()
            tfn = bm25_tf_norm(F.col("tf"), F.col("dl"), F.lit(avgdls[t]))
            return self.postings_for([t]).select("doc_id", (F.lit(w) * tfn).alias("score"))
        # every doc holding a scoring term, scored in full by the kernel
        q = BinQuery(("or", sorted(weights)), weights, avgdls, None)
        scored = self._run_bins({"q": q}).select("doc_id", "score")
        if self._or_of_terms(node):
            return scored
        # LEFT join from the match set (not semi): a doc can match
        # through a non-term arm (e.g. `a || !b`, a field predicate arm)
        # while containing no scoring term at all — it belongs in the
        # result with score 0.0 (binary arms don't contribute BM25 mass;
        # SURVEY §2.4's scoring replacement)
        return (
            self._match_set(node)
            .join(scored, "doc_id", "left")
            .na.fill({"score": 0.0})
        )

    def search(self, node: P.Node, k: int = 10, n_bins: int | None = None) -> DataFrame:
        """Top-k → DataFrame(doc_id, score) ordered by (score desc,
        doc_id). Kernel-shaped plans (term-only trees, phrase,
        proximity) take each bin's exact top-k from the kernel; the rest
        sort :meth:`scored_matches`. Either way Spark plans one
        TakeOrderedAndProject (per-partition top-k + driver merge; the
        reference's incremental sort/merge buffer, src/query.rs:511-553).

        ``n_bins`` (default: the shuffle partitions) sets the kernel's
        docID bins; after an action ``self.last_blocks_decoded.value``
        reports how many blocks its bins decoded."""
        if self._kernel_shaped(node):
            scored = self._kernel({"q": node}, k, n_bins).select("doc_id", "score")
        else:
            scored = self.scored_matches(node)
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    # The planner entry point: every shape takes the one path
    # :meth:`search` picks.
    query = search

    def search_many(self, queries: dict[str, P.Node], k: int = 10) -> DataFrame:
        """A whole query set as ONE Spark action. Every kernel-shaped
        query (term-only tree, phrase, proximity) shares ONE kernel stage
        (segments read by several queries decode once per bin), and a
        window top-k per query keeps k of its ≤ n_bins·k bin survivors.
        Remaining plans (positional inside boolean trees, field
        predicates, exact match) run their per-query :meth:`search`
        inside the same action. Returns DataFrame(query_id, doc_id,
        score) with each query's top-k (score desc, doc_id tiebreak),
        rank-identical to per-query :meth:`search` — bitwise, since both
        run the same kernel."""
        from pyspark.sql.window import Window

        # ONE stats job for the union of all queries' scoring terms
        self.term_dfs(sorted({t for node in queries.values() for t in self._term_boosts(node)}))
        batch = {qid: node for qid, node in queries.items() if self._kernel_shaped(node)}
        parts = [
            self.search(node, k=k).withColumn("query_id", F.lit(qid)).select("query_id", "doc_id", "score")
            for qid, node in queries.items()
            if qid not in batch
        ]
        if batch:
            w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
            parts.append(
                self._kernel(batch, k)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= k)
                .select("query_id", "doc_id", "score")
            )
        if not parts:
            return self._empty_scored()
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
