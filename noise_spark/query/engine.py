"""Spark query engine: BM25 top-k + boolean/phrase/proximity retrieval.

Lowering strategy (SURVEY.md §2.3/§3.2): the plan AST becomes DataFrame
operations —

- term postings scan  → parquet read filtered by ``term`` (predicate
  pushdown + dictionary/min-max pruning; segments additionally prune by
  the deterministic term bucket partition)
- match sets          → AND = semi joins, OR = union, NOT = left_anti
  join (filter-only plans and trees mixing terms with field predicates)
- scored queries      → ONE lowering per plan shape, shared by
  :meth:`IndexReader.search` (a one-query batch) and
  :meth:`IndexReader.search_many` (the whole batch): ``_tree_scan``
  evaluates term-only boolean trees as bit-tests over a per-doc
  matched-term mask in one segment decode, ``_positional_scan`` scores
  top-level phrase / proximity in one positional decode plus one
  Arrow-batched position verify. Both return an unordered
  ``(query_id, doc_id, score)`` set.
- scoring             → BM25 contributions as JVM-side column
  expressions built by :func:`noise_spark.scoring.bm25_tf_norm`; per-doc
  summation in ASCENDING TERM ORDER via
  ``aggregate(array_sort(collect_list(...)))`` so floating-point results
  are bitwise-reproducible across partitionings and parallelism levels
  (and bitwise-comparable to the pure-Python oracle)
- top-k               → ``orderBy(score desc, doc_id asc).limit(k)``,
  which Spark executes as TakeOrderedAndProject (per-partition top-k +
  driver merge; the reference's incremental sort/merge buffer,
  ``src/query.rs:511-553``); ``search_many`` takes a two-stage window
  top-k per query instead
"""

from __future__ import annotations

from functools import cached_property

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import BM25_B, BM25_K1
from ..index.catalog import IndexCatalog, stage_name, visible_generations
from ..scoring import bm25_idf, bm25_tf_norm
from . import plan as P


def _positions_satisfy(lists, phrase: bool, window: int) -> bool:
    """Does one doc's set of per-term position lists satisfy the
    pattern? ``lists`` holds one sorted numpy int array per query term
    (in query order). The one phrase/proximity matcher: the positional
    scan's verify and the element-word verify both call it."""
    import numpy as np

    if phrase:
        # vectorized consecutive-position intersection: position lists
        # are sorted (ascending varbyte deltas), so each step is one
        # searchsorted probe of cand+i into list i
        cand = lists[0]
        for i, pl in enumerate(lists[1:], start=1):
            if cand.size == 0:
                return False
            want = cand + i
            idx = np.searchsorted(pl, want)
            valid = idx < pl.size
            keep = np.zeros(cand.size, dtype=bool)
            keep[valid] = pl[idx[valid]] == want[valid]
            cand = cand[keep]
        return cand.size > 0
    if len(lists) == 2:
        # two-term proximity: ∃ (p, q) with |q-p| <= window — one
        # searchsorted window probe per anchor position, fully
        # vectorized over l0
        l0, l1 = lists
        lo_i = np.searchsorted(l1, l0 - window, side="left")
        hi_i = np.searchsorted(l1, l0 + window, side="right")
        return bool((hi_i > lo_i).any())
    # k>2 terms: minimal-window sweep over the merged event list (the
    # reference's DistanceFilter sliding window, src/filters.rs:588-726)
    events = sorted((p, i) for i, pl in enumerate(lists) for p in pl)
    k = len(lists)
    need: dict[int, int] = {}
    have = 0
    lo = 0
    for hi in range(len(events)):
        ti = events[hi][1]
        need[ti] = need.get(ti, 0) + 1
        if need[ti] == 1:
            have += 1
        while have == k:
            if events[hi][0] - events[lo][0] <= window:
                return True
            tlo = events[lo][1]
            need[tlo] -= 1
            if need[tlo] == 0:
                have -= 1
            lo += 1
    return False


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
                return _positions_satisfy(lists, window is None, window or 0)

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

    # below this many total postings across a WAND query's terms, the
    # global-θ seed job (a driver round-trip) costs more than the block
    # skipping it enables can save (see search_wand)
    SEED_MIN_POSTINGS = 262_144

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

    def postings_for(self, terms: list[str], with_positions: bool = False) -> DataFrame:
        """Term-scoped postings decoded from segments: the scan is pruned
        by the deterministic term-bucket partition, then by term via
        parquet dictionary/min-max — only matching blocks are decoded."""
        return self._decode_segments(list(terms), with_positions=with_positions)

    def _decode_segments(
        self, terms: list[str] | None, with_positions: bool = False
    ) -> DataFrame:
        """Live ``(term, doc_id, tf, dl[, positions])`` postings of
        ``terms`` (all terms when None): a bucket- and term-pruned
        segment scan through :meth:`_decode_blocks`, minus tombstones."""
        segs = self.segments
        if terms is not None:
            segs = self._segments_of(terms)
        return self._minus_tombstones(self._decode_blocks(segs, with_positions))

    def _segments_of(self, terms) -> DataFrame:
        """Segment rows of ``terms``: the bucket partition prunes
        directories, the term filter prunes row groups."""
        from ..index.build import term_bucket

        buckets = sorted({term_bucket(t) for t in terms})
        return self.segments.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(list(terms))
        )

    @staticmethod
    def _decode_blocks(segs: DataFrame, with_positions: bool = False) -> DataFrame:
        """The one segment decoder: ``(term, doc_id, tf, dl[,
        positions])`` from segment block rows. One Arrow-batched pass,
        numpy per block; the positions column (when requested) is
        re-sliced per doc from the block payload without a
        decode/re-encode round-trip."""
        cols = ["term", "n_docs", "docs", "tfs", "dls"] + (
            ["positions"] if with_positions else []
        )
        segs = segs.select(*cols)
        want_pos = with_positions

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
                    if want_pos:
                        data["positions"] = C.split_positions(
                            bytes(row.positions), int(row.n_docs)
                        )
                    frames.append(pd.DataFrame(data))
                if frames:
                    yield pd.concat(frames, ignore_index=True)

        fields = [
            T.StructField("term", T.StringType(), False),
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("tf", T.IntegerType(), False),
            T.StructField("dl", T.IntegerType(), False),
        ]
        if want_pos:
            fields.append(T.StructField("positions", T.BinaryType(), False))
        return segs.mapInPandas(decode, schema=T.StructType(fields))

    # -- match sets -------------------------------------------------------------
    def _match_set(self, node: P.Node) -> DataFrame:
        """DataFrame[doc_id] of matching documents."""
        if isinstance(node, P.Term):
            return self.postings_for([self._key(node.term, node.field)]).select("doc_id")
        if isinstance(node, P.Or):
            kids = [c for c in node.children]
            if all(isinstance(c, P.Term) for c in kids):
                terms = [self._key(c.term, c.field) for c in kids]
                return self.postings_for(terms).select("doc_id").distinct()
            out = self._match_set(kids[0])
            for c in kids[1:]:
                out = out.union(self._match_set(c))
            return out.distinct()
        if isinstance(node, P.And):
            kids = list(node.children)
            if all(isinstance(c, P.Term) for c in kids):
                terms = sorted({self._key(c.term, c.field) for c in kids})
                # one scan + count == n  (re-expresses leapfrog intersection)
                return (
                    self.postings_for(terms)
                    .groupBy("doc_id")
                    .agg(F.count("*").alias("n"))
                    .filter(F.col("n") == len(terms))
                    .select("doc_id")
                )
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
        """Docs where ``terms`` occur consecutively (phrase) or within an
        N-word window (proximity): the positional scan with every weight
        0.0, keeping only the doc ids."""
        if not self.has_positions:
            raise ValueError(
                "index was built with store_positions=False — phrase/"
                "proximity queries need position payloads (rebuild with "
                "BuildConfig(store_positions=True))"
            )
        spec = (list(terms), phrase, window, dict.fromkeys(terms, 0.0))
        return self._positional_scan({"q": spec}).select("doc_id")

    # -- scored lowerings, shared by search and search_many ------------------
    # A term-only tree (Term / Or / And / Not nested to any depth) needs
    # exactly ONE bucket-pruned segment decode: per-(query, doc)
    # matched-term BITMASK via bit_or + JVM long bit-tests for the
    # boolean, and the bitwise-pinned BM25 sum in the same aggregation
    # (no match-set joins: AND would be 2 scans + join, NOT 3 scans). A
    # top-level phrase/proximity needs ONE positional decode. Each
    # builder takes a batch of queries; search passes a batch of one.

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
        NOT — negative-arm terms must join the scan as weightless
        markers so the match expression can see them)."""
        if isinstance(node, P.Term):
            return {self._key(node.term, node.field)}
        if isinstance(node, (P.Or, P.And)):
            out: set[str] = set()
            for c in node.children:
                out |= self._tree_keys(c)
            return out
        return self._tree_keys(node.positive) | self._tree_keys(node.negative)

    def _tree_expr(self, node: P.Node, mask, qbits: dict[str, int]):
        """Lower a term-only boolean tree to JVM long bit-tests over the
        doc's matched-term bitmask: Term → ``mask & bit != 0``, and
        sibling Term children of an Or/And merge into ONE mask
        comparison (``mask & m != 0`` any-of / ``mask & m == m``
        all-of), so a flat query is a single long compare. Absent
        (df=0) terms simply never set their bit, so they evaluate
        correctly for free (an absent AND arm is unsatisfiable, an
        absent OR arm contributes nothing, an absent negative arm
        subtracts nothing)."""
        if isinstance(node, P.Term):
            b = qbits[self._key(node.term, node.field)]
            return mask.bitwiseAND(F.lit(b)) != 0
        if isinstance(node, (P.Or, P.And)):
            is_or = isinstance(node, P.Or)
            tb = 0
            exprs = []
            for c in node.children:
                if isinstance(c, P.Term):
                    tb |= qbits[self._key(c.term, c.field)]
                else:
                    exprs.append(self._tree_expr(c, mask, qbits))
            if tb:
                m = mask.bitwiseAND(F.lit(tb))
                exprs.insert(0, (m != 0) if is_or else (m == F.lit(tb)))
            e = exprs[0]
            for e2 in exprs[1:]:
                e = (e | e2) if is_or else (e & e2)
            return e
        return self._tree_expr(node.positive, mask, qbits) & ~self._tree_expr(
            node.negative, mask, qbits
        )

    @staticmethod
    def _or_of_terms(node: P.Node) -> bool:
        """Only Or and Term nodes: every posting of its keys matches."""
        if isinstance(node, P.Term):
            return True
        return isinstance(node, P.Or) and all(
            IndexReader._or_of_terms(c) for c in node.children
        )

    @staticmethod
    def _contains_not(node: P.Node) -> bool:
        if isinstance(node, P.Not):
            return True
        if isinstance(node, (P.Or, P.And)):
            return any(IndexReader._contains_not(c) for c in node.children)
        return False

    @staticmethod
    def _lit_map(d: dict):
        """map<string, T> of driver-side literals — replaces a
        createDataFrame + broadcast-join of a per-query lookup table
        with a plain expression (one job and one exchange fewer per
        query; the values are the identical Python doubles/longs, so
        downstream float arithmetic is bitwise unchanged)."""
        return F.create_map(*[F.lit(x) for kv in d.items() for x in kv])

    def _contrib(self, w, avgdl):
        """Per-posting BM25 contribution over the scan's ``tf``/``dl``:
        :func:`bm25_tf_norm` evaluated on Columns (Spark only commutes
        the ``*``/``+`` operands, exact in IEEE), times the weight."""
        return w * bm25_tf_norm(F.col("tf"), F.col("dl"), avgdl, BM25_K1, BM25_B)

    @staticmethod
    def _score_sum():
        """A group's ``contrib`` rows summed in ascending term order, so
        the float score is bitwise independent of partitioning (and
        equal to the oracle's)."""
        return F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        ).alias("score")

    @staticmethod
    def _fan_out(scan: DataFrame, by_term: dict[str, list[tuple]], fields) -> DataFrame:
        """One row per (posting, query using its term), carrying that
        query's ``fields`` (``query_id`` first). The per-query values are
        driver-known, so they ship as a literal map term →
        array<struct> and an inner explode does the fan-out — no lookup
        table, no join."""
        casts = {"query_id": "string", "w": "double", "avgdl": "double", "bit": "long"}
        m = F.create_map(
            *[
                x
                for t, rows in by_term.items()
                for x in (
                    F.lit(t),
                    F.array(
                        *[
                            F.struct(
                                *[F.lit(v).cast(casts[f]).alias(f) for f, v in zip(fields, r)]
                            )
                            for r in rows
                        ]
                    ),
                )
            ]
        )
        return scan.withColumn("_q", F.explode(m[F.col("term")])).select(
            *scan.columns, *[F.col(f"_q.{f}").alias(f) for f in fields]
        )

    def _empty_scored(self) -> DataFrame:
        return self.spark.createDataFrame([], "query_id string, doc_id long, score double")

    def _tree_shaped(self, node: P.Node) -> bool:
        """A term-only tree that fits one signed long of query-local bits."""
        return self._term_only(node) and len(self._tree_keys(node)) < 63

    def _tree_scan(self, trees: dict[str, P.Node]) -> DataFrame:
        """Scored ``(query_id, doc_id, score)`` of a batch of term-only
        trees (:meth:`_tree_shaped`): ONE bucket-pruned decode over the
        union of their keys, fanned out per query, ONE groupBy. Each
        tree's boolean is long bit-tests over the ``bit_or`` of its
        matched-term bits; negative-arm keys join the scan as marker rows
        with w=0.0 (adding +0.0 to the running sum is an IEEE identity).
        Shortcuts, taken when the whole batch allows them: one key and no
        NOT per tree → one row per (query, doc) since tf is aggregated at
        build, so the score IS the contribution (the fold would add it to
        0.0) and no aggregate runs; only Or of Terms → every reached doc
        matches, no bit column or mask."""
        dfs = self.term_dfs(
            sorted({t for node in trees.values() for t in self._term_boosts(node)})
        )
        by_term: dict[str, list[tuple]] = {}
        match = None
        single = flat_or = True
        for qid, node in trees.items():
            boosts = self._term_boosts(node)
            if not any(t in dfs for t in boosts):
                # every positive term is absent (df=0): no doc can match
                continue
            keys = sorted(self._tree_keys(node))
            qbits = {t: 1 << i for i, t in enumerate(keys)}
            for t in keys:
                w = bm25_idf(self.n_docs, dfs[t]) * boosts[t] if t in boosts and t in dfs else 0.0
                by_term.setdefault(t, []).append((qid, w, self._avgdl(t), qbits[t]))
            single &= len(keys) == 1 and not self._contains_not(node)
            flat_or &= self._or_of_terms(node)
            e = (F.col("query_id") == qid) & self._tree_expr(node, F.col("_mask"), qbits)
            match = e if match is None else match | e
        if not by_term:
            return self._empty_scored()
        scan = self._fan_out(
            self.postings_for(sorted(by_term)), by_term, ("query_id", "w", "avgdl", "bit")
        ).withColumn("contrib", self._contrib(F.col("w"), F.col("avgdl")))
        if single:
            return scan.select("query_id", "doc_id", F.col("contrib").alias("score"))
        if flat_or:
            return scan.groupBy("query_id", "doc_id").agg(self._score_sum())
        return (
            scan.groupBy("query_id", "doc_id")
            .agg(self._score_sum(), F.bit_or("bit").alias("_mask"))
            .filter(match)
            .select("query_id", "doc_id", "score")
        )

    def _positional_spec(self, node: P.Node, dfs: dict[str, int]):
        """``(keys in query order, is_phrase, window, weights)`` of a
        Phrase/Proximity for :meth:`_positional_scan`, or None when a
        term is absent (the pattern can match nothing)."""
        boosts = self._term_boosts(node)
        if any(t not in dfs for t in boosts):
            return None
        return (
            [self._key(t, node.field) for t in node.terms],
            isinstance(node, P.Phrase),
            getattr(node, "window", 0),
            {t: bm25_idf(self.n_docs, dfs[t]) * boosts[t] for t in boosts},
        )

    def _positional_scan(self, specs: dict[str, tuple]) -> DataFrame:
        """Scored ``(query_id, doc_id, score)`` of a batch of
        phrase/proximity patterns (``query_id →`` :meth:`_positional_spec`):
        ONE positional decode over the union of their terms, fanned out
        per query; the groupBy sums the score and collects the per-term
        position payloads, and docs holding every distinct term take ONE
        Arrow-batched verify of their query's pattern."""
        by_term: dict[str, list[tuple]] = {}
        for qid, (_, _, _, weights) in specs.items():
            for t, w in weights.items():
                by_term.setdefault(t, []).append((qid, w, self._avgdl(t)))
        n_terms = {qid: len(spec[3]) for qid, spec in specs.items()}
        grouped = (
            self._fan_out(
                self._decode_segments(sorted(by_term), with_positions=True),
                by_term,
                ("query_id", "w", "avgdl"),
            )
            .withColumn("contrib", self._contrib(F.col("w"), F.col("avgdl")))
            .groupBy("query_id", "doc_id")
            .agg(
                self._score_sum(),
                F.count("*").alias("_nm"),
                F.map_from_entries(
                    F.collect_list(F.struct("term", "positions"))
                ).alias("posmap"),
            )
            .filter(F.col("_nm") == self._lit_map(n_terms)[F.col("query_id")])
            .select("query_id", "doc_id", "score", "posmap")
        )
        patterns = {qid: spec[:3] for qid, spec in specs.items()}

        def verify(iterator):
            from ..index.codec import decode_positions_row

            for pdf in iterator:
                keep = []
                for row in zip(pdf["query_id"], pdf["doc_id"], pdf["score"], pdf["posmap"]):
                    keys, is_phrase, window = patterns[row[0]]
                    lists = [decode_positions_row(bytes(row[3][t])) for t in keys]
                    if _positions_satisfy(lists, is_phrase, window):
                        keep.append(row[:3])
                yield pd.DataFrame(keep, columns=["query_id", "doc_id", "score"]).astype(
                    {"doc_id": "int64", "score": "float64"}
                )

        return grouped.mapInPandas(verify, schema="query_id string, doc_id long, score double")

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
        any plan containing scoring terms ranks by BM25 with the filters
        shaping the candidate set."""
        if isinstance(node, (P.ExactMatch, P.FieldEq, P.FieldRange, P.AllDocs, P.Bind, P.BboxOverlap, P.ElemWord, P.ElemWordAll)) or not self._term_boosts(node):
            return self._match_set(node).withColumn("score", F.lit(1.0))
        # a one-query batch through the shared lowerings
        if self._tree_shaped(node):
            return self._tree_scan({"q": node}).select("doc_id", "score")
        boosts = self._term_boosts(node)
        terms = sorted(boosts)
        dfs = self.term_dfs(terms)
        if isinstance(node, (P.Phrase, P.Proximity)) and self.has_positions:
            spec = self._positional_spec(node, dfs)
            if spec is None:
                return self._empty_scored().select("doc_id", "score")
            return self._positional_scan({"q": spec}).select("doc_id", "score")
        weights = {t: bm25_idf(self.n_docs, dfs[t]) * boosts[t] for t in terms if t in dfs}
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
        scored = (
            self.postings_for(list(weights))
            .withColumn(
                "contrib",
                self._contrib(
                    self._lit_map(weights)[F.col("term")],
                    self._lit_map(avgdls)[F.col("term")],
                ),
            )
            .groupBy("doc_id")
            .agg(self._score_sum())
        )
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

    def search(self, node: P.Node, k: int = 10) -> DataFrame:
        """Top-k → DataFrame(doc_id, score) ordered by (score desc,
        doc_id) — TakeOrderedAndProject over :meth:`scored_matches`
        (per-partition top-k + driver merge; the reference's incremental
        sort/merge buffer, src/query.rs:511-553)."""
        return (
            self.scored_matches(node)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_many(self, queries: dict[str, P.Node], k: int = 10) -> DataFrame:
        """A whole query set as ONE Spark action. Queries are grouped by
        shape and each group runs through the same lowering
        :meth:`search` uses, once for the whole group: every term-only
        tree shares ONE :meth:`_tree_scan` (segments read by several
        queries decode once), every top-level phrase / proximity shares
        ONE :meth:`_positional_scan`. Remaining plans (positional inside
        boolean trees, field predicates, exact match) run their
        per-query :meth:`search` inside the same action.
        Returns DataFrame(query_id, doc_id, score) with each query's
        top-k (score desc, doc_id tiebreak), rank-identical to
        per-query :meth:`search` — bitwise, since both run the same
        builders."""
        from pyspark.sql.window import Window

        # ONE stats job for the union of all queries' scoring terms
        dfs = self.term_dfs(
            sorted({t for node in queries.values() for t in self._term_boosts(node)})
        )
        trees: dict[str, P.Node] = {}
        positional: dict[str, tuple] = {}
        parts: list[DataFrame] = []
        for qid, node in queries.items():
            if isinstance(node, (P.Phrase, P.Proximity)) and self.has_positions:
                spec = self._positional_spec(node, dfs)
                if spec is not None:
                    positional[qid] = spec
            elif self._tree_shaped(node):
                trees[qid] = node
            else:
                parts.append(
                    self.search(node, k=k)
                    .withColumn("query_id", F.lit(qid))
                    .select("query_id", "doc_id", "score")
                )
        scored_sets = ([self._tree_scan(trees)] if trees else []) + (
            [self._positional_scan(positional)] if positional else []
        )
        if scored_sets:
            scored = scored_sets[0]
            for s in scored_sets[1:]:
                scored = scored.unionByName(s)
            # exact per-query top-k in TWO stages so no single task ever
            # sorts a whole query's match set: salted partial top-k
            # (32 ways), then the final top-k over <= 32*k survivors
            order = [F.desc("score"), F.asc("doc_id")]
            salt = F.pmod(F.hash("doc_id"), F.lit(32))
            w1 = Window.partitionBy("query_id", salt).orderBy(*order)
            w2 = Window.partitionBy("query_id").orderBy(*order)
            topk = (
                scored.withColumn("_rn", F.row_number().over(w1))
                .filter(F.col("_rn") <= k)
                .withColumn("_rn2", F.row_number().over(w2))
                .filter(F.col("_rn2") <= k)
            )
            parts.append(topk.select("query_id", "doc_id", "score"))
        if not parts:
            return self._empty_scored()
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select("query_id", "doc_id", "score")

    def query(self, node: P.Node, k: int = 10) -> DataFrame:
        """Planner entry point: flat scored Or/And of terms take the
        block-max WAND path over compressed segments (bucket-pruned scan,
        skip-heavy); everything else (positional, boolean trees, field
        predicates, binary-scored plans) takes the exhaustive DataFrame
        path. Both are rank-identical by construction."""
        flat_scored = isinstance(node, (P.Or, P.And)) and all(
            isinstance(c, P.Term) for c in getattr(node, "children", ())
        )
        if flat_scored:
            return self.search_wand(node, k)
        return self.search(node, k)

    # -- block-max WAND over compressed segments --------------------------------
    def _seed_theta(self, weights: dict[str, float], k: int, n_blocks: int = 8) -> float:
        """Global-θ seed: decode the ``n_blocks`` highest-upper-bound
        blocks and take the kth-largest per-doc partial score. Each
        decoded contribution is EXACT for its term, so per-doc sums are
        lower bounds of true scores, and the kth largest of k lower
        bounds is a lower bound of the kth-best overall score — seeding
        θ with it can never skip a true top-k doc.

        Runs as ONE small distributed job: a bucket+term-pruned block
        scan, TakeOrdered(n_blocks) on the stored block UBs, executor-
        side decode of those blocks through the engine's one decoder,
        tombstone removal by ANTI-JOIN (tombstones are never collected
        to the driver), per-doc sum, top-k. Only k scalar rows reach the
        driver."""
        wmap = self._lit_map({t: float(w) for t, w in weights.items()})
        avgdl_map = self._lit_map({t: self._avgdl(t) for t in weights})
        ub = wmap[F.col("term")] * bm25_tf_norm(
            F.col("max_tf"), F.col("min_dl"), avgdl_map[F.col("term")], BM25_K1, BM25_B
        )
        top_blocks = (
            self._segments_of(weights)
            .orderBy(ub.desc(), "term", "first_doc")  # deterministic under ties
            .limit(n_blocks)
        )
        contribs = self._minus_tombstones(
            self._decode_blocks(top_blocks)
        ).withColumn(
            "contrib", self._contrib(wmap[F.col("term")], avgdl_map[F.col("term")])
        )
        rows = (
            contribs.groupBy("doc_id")
            .agg(F.sum("contrib").alias("s"))
            .orderBy(F.desc("s"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        if len(rows) < k:
            return 0.0
        kth = float(rows[-1]["s"])
        # nudge down by a relative margin far above float reorder error
        # (~1e-15) so θ₀ stays a strict lower bound even though this sum
        # order differs from the engine's canonical ascending-term order
        return kth * (1.0 - 1e-9)

    def search_wand(
        self,
        node: P.Node,
        k: int = 10,
        n_bins: int | None = None,
        seed_theta: bool | None = None,
    ) -> DataFrame:
        """Top-k via distributed block-max WAND. Supports flat Or/And of
        Terms (the scored-retrieval hot path); other plans fall back to
        :meth:`search`. Rank-identical to the exhaustive path by
        construction (exact per-bin top-k + global merge).
        ``seed_theta``: None = adaptive (the postings-count cost gate),
        True = force the global-θ first pass (OR mode), False = off;
        after
        an action, ``self.last_blocks_decoded.value`` reports how many
        blocks the bins actually decoded."""
        from .wand import wand_bin

        flat_or = isinstance(node, P.Or) and all(isinstance(c, P.Term) for c in node.children)
        flat_and = isinstance(node, P.And) and all(isinstance(c, P.Term) for c in node.children)
        if not (flat_or or flat_and):
            return self.search(node, k)
        mode = "and" if flat_and else "or"
        boosts = self._term_boosts(node)
        terms = sorted(boosts)
        dfs = self.term_dfs(terms)
        weights = {t: bm25_idf(self.n_docs, dfs[t]) * boosts[t] for t in terms if t in dfs}
        if not weights or (mode == "and" and len(weights) < len(terms)):
            return self.spark.createDataFrame([], "doc_id long, score double")

        if n_bins is None:
            n_bins = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        bin_width = max(1, -(-self.n_docs // n_bins))

        # partition-pruned scan: bucket prunes directories, term prunes
        # row groups via dictionary/min-max. Only the columns the bin
        # kernel reads are shipped to the Python workers (positions, the
        # largest payload, never leaves the scan).
        segs = (
            self._segments_of(weights)
            .select(
                "term", "first_doc", "last_doc", "docs", "tfs", "dls", "max_tf", "min_dl"
            )
            .withColumn(
                "bin",
                F.explode(
                    F.sequence(
                        (F.col("first_doc") / F.lit(bin_width)).cast("int"),
                        (F.col("last_doc") / F.lit(bin_width)).cast("int"),
                    )
                ),
            )
        )
        w_map = dict(weights)
        avg_dls = {t: self._avgdl(t) for t in weights}
        kk = k
        bw = bin_width
        # global-θ seed (OR mode only: in AND mode a single-term partial
        # score is NOT a lower bound of any qualifying doc's score, so
        # seeding could wrongly prune) — every bin starts with skipping
        # already engaged instead of θ=0. Multi-term only: with ONE term
        # each bin's heap fills immediately and block UBs already bind,
        # so the seed job can never pay for its own driver round-trip
        # (measured: +28% on q_term_head_wand in round 2). Cost-gated on
        # the EXACT total postings count (dfs are already collected):
        # the seed job is a fixed extra driver round-trip, and the most
        # it can save is the exhaustive decode of Σdf postings — below
        # ~256k postings (~2k blocks, tens of ms of numpy decode) the
        # round-trip always costs more than the skip saves; above it the
        # saving grows with list length while the seed stays O(1).
        # Rank-identity is unaffected either way (θ only prunes).
        # ``seed_theta``: None = adaptive (the cost gate), True = force
        # on (tests pin the seeded behavior), False = off.
        if seed_theta is None:
            seed_theta = sum(dfs[t] for t in weights) >= self.SEED_MIN_POSTINGS
        theta0 = (
            self._seed_theta(w_map, k)
            if (mode == "or" and seed_theta and len(w_map) > 1)
            else 0.0
        )
        blocks_acc = self.spark.sparkContext.accumulator(0)
        self.last_blocks_decoded = blocks_acc  # .value valid after an action

        def _run_bin(bin_id: int, pdf: pd.DataFrame, exclude) -> pd.DataFrame:
            lo, hi = bin_id * bw, (bin_id + 1) * bw
            per_term: dict[str, tuple[float, list[dict]]] = {}
            for row in pdf.itertuples(index=False):
                d = row._asdict() if hasattr(row, "_asdict") else dict(row)
                per_term.setdefault(d["term"], (w_map[d["term"]], []))[1].append(d)
            for t in w_map:
                per_term.setdefault(t, (w_map[t], []))
            stats: dict = {}
            top = wand_bin(
                per_term, lo, hi, kk, avg_dls, BM25_K1, BM25_B,
                mode=mode, theta0=theta0, exclude=exclude, stats=stats,
            )
            blocks_acc.add(stats.get("blocks_decoded", 0))
            return pd.DataFrame(
                {
                    "doc_id": pd.Series([d for d, _ in top], dtype="int64"),
                    "score": pd.Series([s for _, s in top], dtype="float64"),
                }
            )

        def run_bin(key, pdf):
            return _run_bin(key[0], pdf, None)

        def run_bin_with_tombs(key, pdf, tomb):
            import numpy as np

            excl = (
                np.sort(tomb["doc_id"].to_numpy(dtype="int64")) if len(tomb) else None
            )
            return _run_bin(key[0], pdf, excl)

        out_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("score", T.DoubleType(), False),
            ]
        )
        if self._n_tombstones > self.BROADCAST_TOMBSTONES_MAX:
            # above the row-broadcast ceiling, cogroup the word-level
            # BITMAP masks instead of raw tombstone rows: the shuffled
            # side is ≤ min(16·n, universe/4) bytes per query (e.g.
            # ~2.5 GB for 2×10⁹ deletes over 10¹⁰ docs, vs ~30 GB of
            # rows); each task expands only its own docID range's mask
            # words to the exclude array (index/bitmaps.py layout)
            def run_bin_with_masks(key, pdf, masks):
                import numpy as np

                lo, hi = key[0] * bw, (key[0] + 1) * bw
                excl = None
                if len(masks):
                    base = masks["wbin"].to_numpy(dtype=np.int64) << 6
                    words = (
                        masks["word"].to_numpy(dtype=np.int64).astype("<i8")
                    )
                    # little-endian uint8 view → bits in doc-offset order
                    bits = np.unpackbits(
                        words.view(np.uint8), bitorder="little"
                    ).reshape(len(words), 64)
                    rows, offs = np.nonzero(bits)
                    ids = base[rows] + offs
                    ids = ids[(ids >= lo) & (ids < hi)]
                    excl = np.sort(ids) if len(ids) else None
                return _run_bin(key[0], pdf, excl)

            # a mask word covers docIDs [wbin·64, wbin·64+63] and can
            # straddle two WAND bins — replicate into each (same
            # sequence-explode shape as the segment→bin mapping above)
            masks = self._tombstone_bitmaps.select(
                F.explode(
                    F.sequence(
                        ((F.col("wbin") * 64) / F.lit(bin_width)).cast("int"),
                        ((F.col("wbin") * 64 + 63) / F.lit(bin_width)).cast(
                            "int"
                        ),
                    )
                ).alias("bin"),
                "wbin",
                "word",
            )
            candidates = (
                segs.groupBy("bin")
                .cogroup(masks.groupBy("bin"))
                .applyInPandas(run_bin_with_masks, schema=out_schema)
            )
        elif self._n_tombstones:
            # tombstones reach each bin through a COGROUP on the same bin
            # key — each task sees only its own docID range's tombstones,
            # nothing rides in the closure, nothing touches the driver
            tombs = self._tombstones.withColumn(
                "bin", (F.col("doc_id") / F.lit(bin_width)).cast("int")
            )
            candidates = (
                segs.groupBy("bin")
                .cogroup(tombs.groupBy("bin"))
                .applyInPandas(run_bin_with_tombs, schema=out_schema)
            )
        else:
            candidates = segs.groupBy("bin").applyInPandas(run_bin, schema=out_schema)
        return candidates.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
