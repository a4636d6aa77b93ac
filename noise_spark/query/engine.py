"""Spark query engine: BM25 top-k + boolean/phrase/proximity retrieval.

Lowering strategy (SURVEY.md §2.3/§3.2): the plan AST becomes DataFrame
operations —

- term postings scan  → parquet read filtered by ``term`` (predicate
  pushdown + dictionary/min-max pruning; segments additionally prune by
  the deterministic term bucket partition)
- AND                 → match-set inner joins (semi)
- OR                  → match-set union
- NOT                 → left_anti join
- phrase / proximity  → per-doc position verification in an
  Arrow-batched grouped-map UDF (positions payload decoded per doc)
- scoring             → BM25 contributions as JVM-side column
  expressions; per-doc summation in ASCENDING TERM ORDER via
  ``aggregate(array_sort(collect_list(...)))`` so floating-point results
  are bitwise-reproducible across partitionings and parallelism levels
  (and bitwise-comparable to the pure-Python oracle)
- top-k               → ``orderBy(score desc, doc_id asc).limit(k)``,
  which Spark executes as TakeOrderedAndProject (per-partition top-k +
  driver merge; the reference's incremental sort/merge buffer,
  ``src/query.rs:511-553``)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import BM25_B, BM25_K1
from ..index.catalog import IndexCatalog
from ..scoring import bm25_idf
from . import plan as P


def _positions_satisfy(lists, phrase: bool, window: int) -> bool:
    """Does one doc's set of per-term position lists satisfy the
    pattern? ``lists`` holds one sorted numpy int array per query term
    (in query order). Shared by the per-query positional verify and the
    batched shared-scan verify so both paths are semantically one
    implementation."""
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


class IndexReader:
    """Reads a committed index snapshot and answers queries.

    Resolves the manifest into possibly-many *generations* (base build +
    incremental appends), a tombstone set (deletes), and exact stat
    deltas — so BM25 after incremental maintenance is rank-identical to
    a fresh build over the logical corpus (the reference's merge-op
    counter semantics, src/index.rs:301-322)."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        k1: float = BM25_K1,
        b: float = BM25_B,
    ):
        self.spark = spark
        self.cat = IndexCatalog(index_dir)
        self.k1, self.b = k1, b
        manifest = self.cat.current_manifest()
        stages = manifest["stages"]

        def gen_complete(g: str) -> bool:
            # a generation is visible only when its FULL stage set is
            # committed — a reader opened between a torn append's commits
            # must never see phantom docs with missing stats/segments
            return all(
                (f"{g}/{k}" if g else k) in stages
                for k in ("docs", "term_stats", "corpus_stats", "segments")
            )

        gens = [g for g in [""] if gen_complete(g)]
        gens += [
            g
            for g in sorted(
                {n.split("/")[0] for n in stages if n.startswith("gen") and "/" in n},
                key=lambda g: int(g[3:]),
            )
            if gen_complete(g)
        ]
        self._gens = gens

        def paths(kind: str) -> list[str]:
            out = []
            for g in gens:
                name = f"{g}/{kind}" if g else kind
                if name in stages:
                    out.append(stages[name]["path"])
            return out

        self._docs_paths = paths("docs")
        self._term_stats_paths = paths("term_stats")
        self._segments_paths = paths("segments")

        # corpus stats: per-field Σ over generation rows + delete deltas
        field_order: list[str] = []
        fstats: dict[str, list[int]] = {}  # field -> [n_docs, total_tokens]
        for p in paths("corpus_stats"):
            for row in spark.read.parquet(p).orderBy("ordinal").collect():
                f = row["field"]
                if f not in fstats:
                    fstats[f] = [0, 0]
                    field_order.append(f)
                fstats[f][0] += row["n_docs"]
                fstats[f][1] += row["total_tokens"]
        if "corpus_stats_delta" in stages:
            for d in spark.read.parquet(stages["corpus_stats_delta"]["path"]).collect():
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

        # tombstones stay a DataFrame end-to-end: never collected to the
        # driver or shipped in task closures (a bulk delete at scale
        # would otherwise become driver memory + per-task closure bytes).
        # DataFrame paths anti-join it; the WAND path cogroups a BINNED
        # view of it so each bin receives only its own tombstones.
        self._tombstones: DataFrame | None = None
        self._n_tombstones = 0
        if "tombstones" in stages:
            # row count from the committed manifest lineage — constant
            # time, no job; drives the broadcast decision below
            self._n_tombstones = int(stages["tombstones"].get("rows", 0) or 0)
            if self._n_tombstones:
                self._tombstones = spark.read.parquet(
                    stages["tombstones"]["path"]
                )
            else:
                # rows==0/absent can also mean the lineage read failed at
                # commit time (catalog degrades to [] on footer errors) —
                # for DELETED-DOC EXCLUSION the data, not the metadata, is
                # ground truth, so verify with the old isEmpty job before
                # concluding there is nothing to exclude
                t = spark.read.parquet(stages["tombstones"]["path"])
                if not t.isEmpty():
                    self._tombstones = t
                    self._n_tombstones = t.count()
        # the bitmap-shaped view of the same tombstone set (written by
        # delete_docs in the same atomic commit; absent on pre-bitmap
        # indexes): lets _minus_tombstones stay a BROADCAST join above
        # the row-broadcast ceiling (index/bitmaps.py)
        self._tombstone_bitmaps: DataFrame | None = None
        self._n_bitmap_words = 0
        if self._n_tombstones and "tombstone_bitmaps" in stages:
            self._tombstone_bitmaps = spark.read.parquet(
                stages["tombstone_bitmaps"]["path"]
            )
            # mask-row count from committed lineage (no job); sizes the
            # broadcast-vs-join decision in _minus_tombstones. Missing
            # lineage (degraded commit) → assume small: the mask table
            # of a legacy/degraded index predates multi-GB deletes.
            self._n_bitmap_words = int(
                stages["tombstone_bitmaps"].get("rows", 0) or 0
            )
        self._term_stats_delta = (
            stages["term_stats_delta"]["path"] if "term_stats_delta" in stages else None
        )
        self._df_cache: dict[str, int] = {}
        ts_info = stages.get("term_stats") or {}
        self.analyzer = (ts_info.get("metrics") or {}).get("analyzer", "porter")
        # positions are optional (BuildConfig.store_positions=False omits
        # the payload); every generation must agree for phrase/prox to work
        self.has_positions = all(
            (stages[f"{g}/segments" if g else "segments"].get("metrics") or {}).get(
                "positions", True
            )
            for g in gens
            if (f"{g}/segments" if g else "segments") in stages
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

            from ..analysis.tokenizer import analyze

            def toks_of(x):
                if isinstance(x, str):
                    return [t for _, t in analyze(x, analyzer)]
                return None

            def word_hit(toks, terms, window):
                if toks is None:
                    return False
                if len(terms) == 1 and window is None:
                    return terms[0] in toks
                positions = {t: [i for i, w in enumerate(toks) if w == t] for t in terms}
                if any(not p for p in positions.values()):
                    return False
                if window is None:  # phrase: consecutive run
                    n = len(terms)
                    return any(
                        toks[i : i + n] == list(terms)
                        for i in range(len(toks) - n + 1)
                    )
                # proximity: some choice of one position per term spans <= window
                tagged = sorted(
                    (p, t) for t, ps in positions.items() for p in ps
                )
                need = set(terms)
                lo = 0
                seen: dict = {}
                for hi in range(len(tagged)):
                    seen[tagged[hi][1]] = seen.get(tagged[hi][1], 0) + 1
                    while tagged[hi][0] - tagged[lo][0] > window:
                        seen[tagged[lo][1]] -= 1
                        if not seen[tagged[lo][1]]:
                            del seen[tagged[lo][1]]
                        lo += 1
                    if len(seen) == len(need):
                        return True
                return False

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

    def _union(self, paths: list[str]) -> DataFrame:
        df = self.spark.read.parquet(paths[0])
        for p in paths[1:]:
            df = df.unionByName(self.spark.read.parquet(p))
        return df

    # below this many tombstones the anti-join side is explicitly
    # broadcast (a doc_id column of 5M longs is ~40 MB serialized —
    # comfortably a map-side hash filter, no shuffle of the decoded
    # postings). Above it the per-bin bitmap view takes over
    # (index/bitmaps.py): each mask row is two longs, so the table is
    # ≤ min(16·n, universe/4) bytes — 2×10⁹ deletes over 10¹⁰ docs
    # broadcast as ≤2.5 GB — so delete application avoids shuffling the
    # match set up to BROADCAST_BITMAP_MAX_WORDS mask rows (~2 GB
    # built); beyond that (or on a legacy pre-bitmap index) it falls
    # back to the shuffling anti-join, which the compaction policy
    # bounds (fold at 20% tombstones). The WAND path takes none of
    # these — it cogroups a BINNED tombstone view per docID bin.
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
        if self._tombstones is None:
            return df
        if self._n_tombstones <= self.BROADCAST_TOMBSTONES_MAX:
            # deterministic plan: don't leave the no-shuffle path to
            # AQE's runtime estimate of the tombstone side
            return df.join(F.broadcast(self._tombstones), "doc_id", "left_anti")
        if (
            self._tombstone_bitmaps is not None
            and self._n_bitmap_words <= self.BROADCAST_BITMAP_MAX_WORDS
        ):
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
        return self._minus_tombstones(self._union(self._docs_paths))

    @property
    def segments(self) -> DataFrame:
        return self._union(self._segments_paths)

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Doc frequencies, cached per reader: a reader pins one snapshot,
        so stats are immutable for its lifetime — repeat queries over the
        same vocabulary skip the stats job entirely."""
        if not terms:
            return {}
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            stats = self._union(self._term_stats_paths)
            if self._term_stats_delta:
                stats = stats.unionByName(self.spark.read.parquet(self._term_stats_delta))
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
        """(term, doc_id, tf, dl[, positions]) from compressed segment
        blocks. Decode is one Arrow-batched pass, numpy per block; the
        positions column (when requested) is re-sliced per doc from the
        block payload without a decode/re-encode round-trip."""
        segs = self.segments
        if terms is not None:
            from ..index.build import term_bucket

            buckets = sorted({term_bucket(t) for t in terms})
            segs = segs.filter(
                F.col("bucket").isin(buckets) & F.col("term").isin(list(terms))
            )
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
        out = segs.mapInPandas(decode, schema=T.StructType(fields))
        return self._minus_tombstones(out)

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
            uniq = sorted(set(keys))
            cand = (
                self.postings_for(uniq)
                .groupBy("doc_id")
                .agg(F.count("*").alias("n"))
                .filter(F.col("n") == len(uniq))
                .select("doc_id")
            )
        return (
            self.docs.join(cand, "doc_id", "left_semi")
            .filter(F.col("text") == node.literal)
            .select("doc_id")
        )

    def _positional_postings(self, terms: list[str]) -> DataFrame:
        """(term, doc_id, positions varbyte) — bucket-pruned segment
        decode (positions re-sliced per doc, not re-encoded)."""
        return self._decode_segments(terms, with_positions=True).select(
            "term", "doc_id", "positions"
        )

    def _positional_match(self, terms: list[str], phrase: bool, window: int = 0) -> DataFrame:
        """Docs where ``terms`` occur consecutively (phrase) or within an
        N-word window (proximity). Candidate docs (containing all terms)
        are found relationally over the bucket-pruned segments; position
        verification is one Arrow-batched grouped-map over the per-doc
        position lists."""
        if not self.has_positions:
            raise ValueError(
                "index was built with store_positions=False — phrase/"
                "proximity queries need position payloads (rebuild with "
                "BuildConfig(store_positions=True))"
            )
        n_terms = len(set(terms))
        posts = self._positional_postings(sorted(set(terms)))
        grouped = (
            posts.groupBy("doc_id")
            .agg(
                F.count("*").alias("n"),
                F.map_from_entries(
                    F.collect_list(F.struct("term", "positions"))
                ).alias("posmap"),
            )
            .filter(F.col("n") == n_terms)
        )
        ordered_terms = list(terms)
        w = window

        def verify(iterator):
            from ..index.codec import decode_positions_row

            for pdf in iterator:
                keep = []
                for doc_id, posmap in zip(pdf["doc_id"], pdf["posmap"]):
                    lists = [decode_positions_row(bytes(posmap[t])) for t in ordered_terms]
                    if _positions_satisfy(lists, phrase, w):
                        keep.append(doc_id)
                yield pd.DataFrame({"doc_id": pd.Series(keep, dtype="int64")})

        return grouped.mapInPandas(verify, schema=T.StructType([T.StructField("doc_id", T.LongType(), False)]))

    # -- term-only boolean trees (single-scan lowering) -----------------------
    # A term-only tree (Term / Or / And / Not nested to any depth) needs
    # exactly ONE bucket-pruned segment decode: per-(doc) matched-term
    # BITMASK via bit_or + JVM long bit-tests for the boolean, and the
    # bitwise-pinned BM25 sum in the same aggregation. This replaces the
    # old match-set-join lowering (AND = 2 scans + join, NOT = 3 scans)
    # — guide §2.4: remove shuffles/scans outright.

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

    def _contrib_expr(self, wmap: dict[str, float], avgdl_map: dict[str, float]):
        """Per-posting BM25 contribution with weights/avgdl as literal
        maps keyed by term. Parenthesization mirrors oracle.bm25_tf_norm
        exactly: w * ((tf*(k1+1)) / (tf + k1*((1-b) + b*(dl/avgdl))))."""
        k1, b = self.k1, self.b
        w = self._lit_map(wmap)[F.col("term")]
        avgdl = self._lit_map(avgdl_map)[F.col("term")]
        return w * (
            (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / avgdl))
            )
        )

    def _empty_scored(self) -> DataFrame:
        return self.spark.createDataFrame([], "doc_id long, score double")

    def _tree_scored(self, node: P.Node) -> DataFrame | None:
        """Single-scan scored set for a term-only tree (<63 distinct
        keys — one signed long of query-local bits), or None when the
        tree shape doesn't qualify. Output is bitwise-identical to the
        old multi-scan lowering: the score aggregates the SAME
        ascending-term struct list (negative-arm marker rows carry
        w=0.0, and adding +0.0 at any position of the running sum is an
        IEEE identity), and the match set is the same boolean over the
        same postings."""
        if not self._term_only(node):
            return None
        keys = sorted(self._tree_keys(node))
        if len(keys) >= 63:
            return None
        boosts = self._term_boosts(node)
        dfs = self.term_dfs(sorted(boosts))
        if not any(t in dfs for t in boosts):
            # every positive-skeleton term is absent (df=0): no doc can
            # satisfy the tree (a term-only match always requires at
            # least one positive term present)
            return self._empty_scored()
        qbits = {t: 1 << i for i, t in enumerate(keys)}
        wmap = {
            t: (bm25_idf(self.n_docs, dfs[t]) * boosts[t] if t in dfs else 0.0)
            for t in keys
        }
        avgdl_map = {t: self.field_avg_dl[self._field_of(t)] for t in keys}
        if len(keys) == 1 and not self._contains_not(node):
            # one distinct key and no negation: the scan already holds
            # exactly one row per matching doc (tf is aggregated at
            # build), so the score IS the single contribution — no
            # groupBy, no shuffle, no mask. Bitwise identical: the
            # general path's fold is 0.0 + contrib, an IEEE identity.
            return (
                self.postings_for(keys)
                .select(
                    "doc_id",
                    self._contrib_expr(wmap, avgdl_map).alias("score"),
                )
            )
        match_expr = self._tree_expr(node, F.col("_mask"), qbits)
        scored = (
            self.postings_for(keys)
            .withColumn("contrib", self._contrib_expr(wmap, avgdl_map))
            .withColumn("bit", self._lit_map(qbits)[F.col("term")])
            .groupBy("doc_id")
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("term", "contrib"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["contrib"],
                ).alias("score"),
                F.bit_or("bit").alias("_mask"),
            )
            .filter(match_expr)
            .select("doc_id", "score")
        )
        return scored

    def _positional_scored(self, node: P.Node) -> DataFrame:
        """Single-scan scored set for a top-level Phrase/Proximity: ONE
        positional segment decode whose groupBy computes the
        bitwise-pinned BM25 sum AND collects the per-term position
        payloads; candidates (all distinct terms present) then take one
        Arrow-batched pattern verify. Replaces the old two-scan shape
        (scoring scan + positional-match scan + join)."""
        boosts = self._term_boosts(node)
        dfs = self.term_dfs(sorted(boosts))
        if any(t not in dfs for t in boosts):
            # an absent term: the pattern can match nothing
            return self._empty_scored()
        keys = [self._key(t, node.field) for t in node.terms]
        nt = len(boosts)
        wmap = {t: bm25_idf(self.n_docs, dfs[t]) * boosts[t] for t in boosts}
        avgdl_map = {t: self.field_avg_dl[self._field_of(t)] for t in boosts}
        is_phrase = isinstance(node, P.Phrase)
        window = getattr(node, "window", 0)
        grouped = (
            self._decode_segments(sorted(set(keys)), with_positions=True)
            .withColumn("contrib", self._contrib_expr(wmap, avgdl_map))
            .groupBy("doc_id")
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("term", "contrib"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["contrib"],
                ).alias("score"),
                F.count("*").alias("_nm"),
                F.map_from_entries(
                    F.collect_list(F.struct("term", "positions"))
                ).alias("posmap"),
            )
            .filter(F.col("_nm") == nt)
        )

        def verify(iterator):
            from ..index.codec import decode_positions_row

            for pdf in iterator:
                keep: list[tuple] = []
                for doc_id, score, posmap in zip(
                    pdf["doc_id"], pdf["score"], pdf["posmap"]
                ):
                    lists = [decode_positions_row(bytes(posmap[t])) for t in keys]
                    if _positions_satisfy(lists, is_phrase, window):
                        keep.append((doc_id, score))
                yield pd.DataFrame(keep, columns=["doc_id", "score"]).astype(
                    {"doc_id": "int64", "score": "float64"}
                )

        return grouped.mapInPandas(verify, schema="doc_id long, score double")

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
        # single-scan lowerings first: a term-only tree becomes a bitmask
        # boolean over ONE bucket-pruned decode (instead of match-set
        # joins of per-arm scans), and a top-level phrase/proximity
        # folds scoring + position verify into ONE positional decode
        tree_plan = self._tree_scored(node)
        if tree_plan is not None:
            return tree_plan
        if isinstance(node, (P.Phrase, P.Proximity)) and self.has_positions:
            return self._positional_scored(node)
        boosts = self._term_boosts(node)
        terms = sorted(boosts)
        dfs = self.term_dfs(terms)
        weights = [
            (t, bm25_idf(self.n_docs, dfs[t]) * boosts[t], self.field_avg_dl[self._field_of(t)])
            for t in terms
            if t in dfs
        ]
        if not weights:
            # every scoring term is absent from the corpus (df=0): no
            # BM25 mass anywhere, but a doc can still match through a
            # non-term arm ('missing || !b', a field-predicate arm) —
            # those belong in the result at score 0.0, exactly like the
            # score-0 docs the left-join path below produces
            return self._match_set(node).withColumn(
                "score", F.lit(0.0).cast("double")
            )
        # weights/avgdl as literal maps — no per-query lookup-table
        # createDataFrame + broadcast join (identical doubles, so the
        # float sum is bitwise unchanged); avgdl is per-term (= the
        # term's FIELD average length)
        scored = (
            self.postings_for([t for t, _, _ in weights])
            .withColumn(
                "contrib",
                self._contrib_expr(
                    {t: w for t, w, _ in weights}, {t: a for t, _, a in weights}
                ),
            )
            .groupBy("doc_id")
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("term", "contrib"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["contrib"],
                ).alias("score")
            )
        )
        needs_filter = not (
            isinstance(node, P.Or) and all(isinstance(c, P.Term) for c in node.children)
        )
        if needs_filter:
            # LEFT join from the match set (not semi): a doc can match
            # through a non-term arm (e.g. `a || !b`, a field predicate
            # arm) while containing no scoring term at all — it belongs
            # in the result with score 0.0 (binary arms don't contribute
            # BM25 mass; SURVEY §2.4's scoring replacement)
            scored = (
                self._match_set(node)
                .join(scored, "doc_id", "left")
                .na.fill({"score": 0.0})
            )
        return scored

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
        """A whole query set as ONE Spark action with a SHARED segment
        scan: every TERM-ONLY boolean tree (Term / Or / And / Not,
        nested to any depth) reads from ONE bucket-pruned postings
        decode over the union of all trees' terms, tagged per query by
        a broadcast (query_id, term, weight) table — segments shared by
        several queries are decoded once, and the whole set is one scan
        + one aggregation instead of Q independent scans inside the
        action (r4 verdict item 6). Each tree's match semantics lower
        to long bit-tests over a per-(query, doc) matched-term BITMASK
        (every tree key gets a query-local bit; ``bit_or(bit)`` in the
        shared groupBy is the exact matched set), so nested shapes like
        ``And(Or(a,b), Not(c,d))`` need no fallback and flat arms
        collapse to a single mask comparison; negative-arm terms join
        the scan as weightless marker rows (no BM25 mass). Trees with
        ≥63 distinct keys (beyond one long) fall back to per-query
        plans. Top-level phrase / proximity queries ride a
        SECOND shared scan — ONE positional segment decode over the
        union of their terms — whose groupBy carries the posmap for
        pattern verification AND the bitwise-pinned BM25 sum in the
        same aggregation; one Arrow-batched verify then filters every
        positional query at once. Remaining plans (positional inside
        boolean trees, field predicates, exact match) fall back to
        their per-query plans unioned into the same action.
        Returns DataFrame(query_id, doc_id, score) with each query's
        top-k (score desc, doc_id tiebreak), rank-identical to
        per-query :meth:`search` — the per-(query,doc) score uses the
        IDENTICAL ascending-term ``aggregate(array_sort(...))`` sum
        expression, so floats match bitwise."""
        from pyspark.sql.window import Window

        # ONE stats job for the union of all queries' scoring terms
        all_terms = sorted(
            {t for node in queries.values() for t in self._term_boosts(node)}
        )
        dfs = self.term_dfs(all_terms)
        _term_only = self._term_only
        _tree_keys = self._tree_keys
        _tree_expr = self._tree_expr

        def _not_neg(x):
            # unary on purpose: pyspark HOF lambdas dispatch on arity
            return ~x["neg"]

        parts: list[DataFrame] = []
        rows: list[tuple] = []
        # qid -> (term-only tree, key -> query-local bit)
        tree_plans: dict[str, tuple[P.Node, dict[str, int]]] = {}
        # positional queries sharing the second (positional) scan:
        # qid -> (index keys in query order, is_phrase, window)
        pos_meta: dict[str, tuple[list[str], bool, int]] = {}
        pos_rows: list[tuple] = []
        for qid, node in queries.items():
            if isinstance(node, (P.Phrase, P.Proximity)) and self.has_positions:
                boosts = self._term_boosts(node)
                if any(t not in dfs for t in boosts):
                    continue  # an absent term: the pattern matches nothing
                keys = [self._key(t, node.field) for t in node.terms]
                pos_meta[qid] = (
                    keys,
                    isinstance(node, P.Phrase),
                    getattr(node, "window", 0),
                )
                nt = len(boosts)
                pos_rows += [
                    (
                        qid,
                        t,
                        bm25_idf(self.n_docs, dfs[t]) * boosts[t],
                        self.field_avg_dl[self._field_of(t)],
                        nt,
                    )
                    for t in sorted(boosts)
                ]
                continue
            if _term_only(node):
                keys = sorted(_tree_keys(node))
                if len(keys) < 63:  # one signed long of query-local bits
                    boosts = self._term_boosts(node)
                    scoring = [t for t in sorted(boosts) if t in dfs]
                    if not scoring:
                        # a term-only tree only matches docs containing
                        # at least one positive-skeleton term; with
                        # every scoring term df=0 nothing can match —
                        # zero rows, exactly like the per-query plan
                        continue
                    qbits = {t: 1 << i for i, t in enumerate(keys)}
                    rows += [
                        (
                            qid,
                            t,
                            bm25_idf(self.n_docs, dfs[t]) * boosts[t],
                            self.field_avg_dl[self._field_of(t)],
                            qbits[t],
                            False,
                        )
                        for t in scoring
                    ]
                    # negative-arm-only terms: weightless marker rows so
                    # the match expression sees their bit in the doc's
                    # mask (no BM25 mass — filtered out of the score sum)
                    rows += [
                        (
                            qid,
                            t,
                            0.0,
                            self.field_avg_dl[self._field_of(t)],
                            qbits[t],
                            True,
                        )
                        for t in sorted(set(keys) - set(boosts))
                    ]
                    tree_plans[qid] = (node, qbits)
                    continue
            parts.append(
                self.search(node, k=k)
                .withColumn("query_id", F.lit(qid))
                .select("query_id", "doc_id", "score")
            )
        k1, b = self.k1, self.b
        contrib = F.col("w") * (
            (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.col("avgdl")))
            )
        )
        # scored (query_id, doc_id, score) sets from the shared scans;
        # they share ONE two-stage top-k below
        scored_sets: list[DataFrame] = []

        def _fanout_explode(scan, per_term_rows, fields):
            """Attach per-(term, query) metadata rows to the shared scan
            WITHOUT a lookup-table broadcast join: the metadata is
            driver-known, so it ships as a literal map
            term → array<struct(...)> and an inner explode performs the
            same fan-out (identical doubles → identical contributions;
            collect_list order differs from the join's but every
            consumer array_sorts first). One job and one
            BroadcastExchange fewer per shared scan."""
            casts = {"query_id": "string", "w": "double", "avgdl": "double",
                     "bit": "long", "neg": "boolean", "nt": "int"}
            entries = []
            for t, lst in per_term_rows.items():
                entries.append(F.lit(t))
                entries.append(
                    F.array(
                        *[
                            F.struct(
                                *[
                                    F.lit(v).cast(casts[f]).alias(f)
                                    for f, v in zip(fields, tup)
                                ]
                            )
                            for tup in lst
                        ]
                    )
                )
            m = F.create_map(*entries)
            return scan.withColumn("_q", F.explode(m[F.col("term")])).select(
                *scan.columns, *[F.col(f"_q.{f}").alias(f) for f in fields]
            )

        if rows:
            by_term: dict[str, list[tuple]] = {}
            for qid_, t_, w_, a_, bit_, neg_ in rows:
                by_term.setdefault(t_, []).append((qid_, w_, a_, bit_, neg_))
            union_terms = sorted({r[1] for r in rows})
            # ONE groupBy serves every term-only tree (no self-join,
            # segments decode once): the score aggregates the positive
            # elements of the term-ascending sorted struct list —
            # filter() preserves sort order, so the float sum is bitwise
            # the per-query expression — and the boolean tree evaluates
            # as long bit-tests over the bit_or'd matched-term mask.
            sorted_all = F.array_sort(
                F.collect_list(F.struct("term", "contrib", "neg"))
            )
            match_expr = None
            for qid, (node, qbits) in tree_plans.items():
                e = (F.col("query_id") == qid) & _tree_expr(
                    node, F.col("_mask"), qbits
                )
                match_expr = e if match_expr is None else (match_expr | e)
            per = (
                _fanout_explode(
                    self.postings_for(union_terms),
                    by_term,
                    ["query_id", "w", "avgdl", "bit", "neg"],
                )
                .withColumn("contrib", contrib)
                .groupBy("query_id", "doc_id")
                .agg(
                    F.aggregate(
                        F.filter(sorted_all, _not_neg),
                        F.lit(0.0),
                        lambda acc, x: acc + x["contrib"],
                    ).alias("score"),
                    F.bit_or("bit").alias("_mask"),
                )
                .filter(match_expr)
            )
            scored_sets.append(per.select("query_id", "doc_id", "score"))
        if pos_rows:
            # second shared scan: ONE positional segment decode over the
            # union of every positional query's terms. The groupBy
            # computes the bitwise-pinned BM25 sum (identical
            # struct(term, contrib) ascending-sort aggregate as the
            # per-query path) AND collects the per-term position
            # payloads; candidates (all nt distinct terms present) then
            # take one Arrow-batched verify that pattern-checks every
            # query's docs in the same pass.
            pos_by_term: dict[str, list[tuple]] = {}
            for qid_, t_, w_, a_, nt_ in pos_rows:
                pos_by_term.setdefault(t_, []).append((qid_, w_, a_, nt_))
            pos_terms = sorted({r[1] for r in pos_rows})
            per_pos = (
                _fanout_explode(
                    self._decode_segments(pos_terms, with_positions=True),
                    pos_by_term,
                    ["query_id", "w", "avgdl", "nt"],
                )
                .withColumn("contrib", contrib)
                .groupBy("query_id", "doc_id")
                .agg(
                    F.aggregate(
                        F.array_sort(F.collect_list(F.struct("term", "contrib"))),
                        F.lit(0.0),
                        lambda acc, x: acc + x["contrib"],
                    ).alias("score"),
                    F.count("*").alias("_nm"),
                    F.first("nt").alias("_nt"),
                    F.map_from_entries(
                        F.collect_list(F.struct("term", "positions"))
                    ).alias("posmap"),
                )
                .filter(F.col("_nm") == F.col("_nt"))
                .select("query_id", "doc_id", "score", "posmap")
            )
            meta = pos_meta

            def pos_verify(iterator):
                from ..index.codec import decode_positions_row

                for pdf in iterator:
                    keep: list[tuple] = []
                    for qid, doc_id, score, posmap in zip(
                        pdf["query_id"], pdf["doc_id"], pdf["score"], pdf["posmap"]
                    ):
                        keys, is_phrase, window = meta[qid]
                        lists = [
                            decode_positions_row(bytes(posmap[t])) for t in keys
                        ]
                        if _positions_satisfy(lists, is_phrase, window):
                            keep.append((qid, doc_id, score))
                    yield pd.DataFrame(
                        keep, columns=["query_id", "doc_id", "score"]
                    ).astype(
                        {"doc_id": "int64", "score": "float64"}
                    )

            scored_sets.append(
                per_pos.mapInPandas(
                    pos_verify,
                    schema="query_id string, doc_id long, score double",
                )
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
            return self.spark.createDataFrame(
                [], "query_id string, doc_id long, score double"
            )
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
        side decode of those blocks, tombstone removal by ANTI-JOIN
        (tombstones are never collected to the driver), per-doc sum,
        top-k. Only k scalar rows reach the driver."""
        from ..index.build import term_bucket

        buckets = sorted({term_bucket(t) for t in weights})
        wmap = F.create_map(
            *[F.lit(x) for t, w in weights.items() for x in (t, float(w))]
        )
        avgdl_map = F.create_map(
            *[
                F.lit(x)
                for t in weights
                for x in (t, float(self.field_avg_dl[self._field_of(t)]))
            ]
        )
        k1, b = self.k1, self.b
        ub = wmap[F.col("term")] * (
            (F.col("max_tf") * F.lit(k1 + 1.0))
            / (
                F.col("max_tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * (F.col("min_dl") / avgdl_map[F.col("term")]))
            )
        )
        top_blocks = (
            self.segments.filter(
                F.col("bucket").isin(buckets) & F.col("term").isin(list(weights))
            )
            .select("term", "first_doc", "docs", "tfs", "dls", ub.alias("ub"))
            .orderBy(F.desc("ub"), "term", "first_doc")  # deterministic under ties
            .limit(n_blocks)
        )
        w_map = dict(weights)
        avgdls = {t: self.field_avg_dl[self._field_of(t)] for t in weights}

        def decode(iterator):
            from ..index import codec as C
            from .wand import block_contrib

            for pdf in iterator:
                frames = []
                for row in pdf.itertuples(index=False):
                    contrib = block_contrib(
                        bytes(row.tfs), bytes(row.dls),
                        w_map[row.term], avgdls[row.term], k1, b,
                    )
                    frames.append(
                        pd.DataFrame(
                            {"doc_id": C.delta_decode(bytes(row.docs)), "contrib": contrib}
                        )
                    )
                if frames:
                    yield pd.concat(frames, ignore_index=True)

        contribs = self._minus_tombstones(
            top_blocks.mapInPandas(decode, schema="doc_id long, contrib double")
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
        from ..index.build import term_bucket
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
        buckets = sorted({term_bucket(t) for t in weights})

        # partition-pruned scan: bucket prunes directories, term prunes
        # row groups via dictionary/min-max. Only the columns the bin
        # kernel reads are shipped to the Python workers (positions, the
        # largest payload, never leaves the scan).
        segs = (
            self.segments.filter(
                F.col("bucket").isin(buckets) & F.col("term").isin(list(weights))
            )
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
        avg_dl, k1, b = self.avg_dl, self.k1, self.b
        avg_dls = {t: self.field_avg_dl[self._field_of(t)] for t in weights}
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
                per_term, lo, hi, kk, avg_dl, k1, b,
                mode=mode, theta0=theta0, exclude=exclude, stats=stats,
                avg_dls=avg_dls,
            )
            blocks_acc.add(stats.get("blocks_decoded", 0))
            return pd.DataFrame(
                {
                    "doc_id": pd.Series([d for d, _ in top], dtype="int64"),
                    "score": pd.Series([s for _, s in top], dtype="float64"),
                }
            )

        def run_bin(key, pdf: pd.DataFrame) -> pd.DataFrame:
            return _run_bin(key[0], pdf, None)

        def run_bin_with_tombs(key, pdf: pd.DataFrame, tomb: pd.DataFrame) -> pd.DataFrame:
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
        if (
            self._tombstones is not None
            and self._n_tombstones > self.BROADCAST_TOMBSTONES_MAX
            and self._tombstone_bitmaps is not None
        ):
            # above the row-broadcast ceiling, cogroup the word-level
            # BITMAP masks instead of raw tombstone rows: the shuffled
            # side is ≤ min(16·n, universe/4) bytes per query (e.g.
            # ~2.5 GB for 2×10⁹ deletes over 10¹⁰ docs, vs ~30 GB of
            # rows); each task expands only its own docID range's mask
            # words to the exclude array (index/bitmaps.py layout)
            def run_bin_with_masks(key, pdf: pd.DataFrame, masks: pd.DataFrame) -> pd.DataFrame:
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
        elif self._tombstones is not None:
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
