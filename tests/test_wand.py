"""WAND must be provably rank-identical to the exhaustive path (and so
to the oracle) — SURVEY.md §7 step 8."""

import numpy as np
import pandas as pd
import pytest

from noise_spark.index import codec
from noise_spark.query import IndexReader
from noise_spark.query import plan as P
from noise_spark.query.wand import BinQuery, score_bin


def _kernel_topk(terms, lo, hi, k, avg_dls):
    """The kernel's flat-OR top-k over hand-built blocks: ``terms`` maps
    term → (weight, block rows)."""
    pdf = pd.DataFrame([dict(r, term=t) for t, (_, rows) in terms.items() for r in rows])
    weights = {t: w for t, (w, _) in terms.items()}
    q = BinQuery(("or", sorted(weights)), weights, avg_dls, k)
    ((_, docs, scores),) = score_bin(pdf, lo, hi, {"q": q})
    return [(int(d), float(s)) for d, s in zip(docs, scores)]


@pytest.fixture(scope="module")
def reader(spark, small_index):
    idx_dir, _ = small_index
    return IndexReader(spark, idx_dir)


WAND_QUERIES = {
    "single_head": P.Or((P.Term("w00000"),)),
    "or_2": P.Or((P.Term("w00050"), P.Term("w01500"))),
    "or_3": P.Or((P.Term("w00000"), P.Term("w00123"), P.Term("w00007"))),
    "or_boost": P.Or((P.Term("w00050", boost=2.0), P.Term("w00007"))),
    "and_2": P.And((P.Term("w00050"), P.Term("w00007"))),
    "and_3": P.And((P.Term("w00000"), P.Term("w00002"), P.Term("w00010"))),
    "or_missing_term": P.Or((P.Term("w00050"), P.Term("zzz_not_there"))),
}


@pytest.mark.parametrize("name", sorted(WAND_QUERIES))
@pytest.mark.parametrize("n_bins", [1, 7])
def test_wand_rank_identical_to_exhaustive(name, n_bins, reader, small_oracle):
    """The block-max top-k at one and at several docID bins equals the
    exhaustive pure-Python oracle bit for bit."""
    node = WAND_QUERIES[name]
    wand = [(r["doc_id"], r["score"]) for r in reader.search(node, k=10, n_bins=n_bins).collect()]
    assert wand == small_oracle.search(node, k=10), f"{name} (bins={n_bins})"


def test_wand_bin_unit_pruning():
    """Unit-level: the kernel on hand-built blocks matches brute force
    and never misses a tie at the threshold."""
    rng = np.random.default_rng(7)
    n_docs = 2000
    avg_dl, k1, b = 100.0, 1.2, 0.75

    def make_blocks(doc_ids, tfs, dls, block=64):
        rows = []
        tfs = np.asarray(tfs, dtype=np.int64)
        dls_arr = np.asarray(dls, dtype=np.int64)
        for i, s in enumerate(range(0, len(doc_ids), block)):
            e = min(s + block, len(doc_ids))
            rows.append(
                {
                    "first_doc": int(doc_ids[s]),
                    "last_doc": int(doc_ids[e - 1]),
                    "docs": codec.delta_encode(np.asarray(doc_ids[s:e])),
                    "tfs": codec.varbyte_encode(np.asarray(tfs[s:e], dtype=np.uint64)),
                    "dls": codec.varbyte_encode(np.asarray(dls[s:e], dtype=np.uint64)),
                    "max_tf": int(tfs[s:e].max()),
                    "min_dl": int(dls_arr[s:e].min()),
                }
            )
        return rows

    terms = {}
    truth: dict[int, float] = {}
    for t, (density, w) in {
        "a": (0.5, 0.3),
        "b": (0.2, 1.1),
        "c": (0.05, 2.7),
    }.items():
        ids = np.sort(rng.choice(n_docs, size=int(n_docs * density), replace=False))
        tfs = rng.integers(1, 8, size=ids.size)
        dls = rng.integers(50, 200, size=ids.size)
        terms[t] = (w, make_blocks(ids, tfs, dls))
        tfn = (tfs * (k1 + 1.0)) / (tfs + k1 * ((1.0 - b) + b * (dls.astype(np.float64) / avg_dl)))
        for d, x in zip(ids.tolist(), (w * tfn).tolist()):
            truth[d] = truth.get(d, 0.0) + x

    want = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = _kernel_topk(terms, 0, n_docs, 10, dict.fromkeys(terms, avg_dl))
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)


def test_search_many_matches_individual(reader, small_oracle):
    """The batched query-set action must return exactly each query's
    individual top-k, and both must equal the pure-Python oracle bit
    for bit (search and search_many share one lowering, so only the
    oracle checks them independently)."""
    qs = dict(WAND_QUERIES)  # incl. or_missing_term (df=0 arm)
    # mixed batch: non-flat plans fall back per-query inside the action
    qs["not_mixed"] = P.Not(P.Term("w00050"), P.Term("w00002"))
    qs["and_missing"] = P.And((P.Term("w00050"), P.Term("zzz_not_there")))
    # NOT with an AND negative arm: subtraction requires the FULL
    # conjunction to match, count-checked inside the shared groupBy
    qs["not_and_neg"] = P.Not(
        P.Or((P.Term("w00050"), P.Term("w01500"))),
        P.And((P.Term("w00002"), P.Term("w00010"))),
    )
    # negative arm with an absent term: subtract nothing
    qs["not_neg_missing"] = P.Not(
        P.Term("w00050"), P.And((P.Term("w00002"), P.Term("zzz_not_there")))
    )
    # REGRESSION: a NOT whose negative term appears in NO query's
    # positive side must still subtract (the r5 flat-arm path silently
    # skipped subtraction because negative terms were absent from the
    # stats lookup built over positive terms only)
    qs["not_standalone_neg"] = P.Not(P.Term("w00050"), P.Term("w00777"))
    # nested term-only boolean trees ride the shared scan too
    qs["tree_and_or"] = P.And(
        (P.Or((P.Term("w00050"), P.Term("w01500"))),
         P.Not(P.Term("w00007"), P.Term("w00222")))
    )
    qs["tree_or_and"] = P.Or(
        (P.And((P.Term("w00002"), P.Term("w00010"))),
         P.Not(P.Term("w00123"), P.And((P.Term("w00050"), P.Term("w00007")))))
    )
    qs["tree_absent_arm"] = P.And(
        (P.Or((P.Term("w00050"), P.Term("zzz_not_there"))), P.Term("w00007"))
    )
    # positional queries ride the second (positional) shared scan
    qs["phrase"] = P.Phrase(("quick", "brown", "fox"))
    qs["phrase_2"] = P.Phrase(("multi", "word", "sentenc"))
    qs["prox_5"] = P.Proximity(("quick", "fox"), window=5)
    qs["prox_10"] = P.Proximity(("w00050", "w00007"), window=10)
    qs["phrase_boost"] = P.Phrase(("quick", "brown"), boost=2.0)
    qs["phrase_missing"] = P.Phrase(("quick", "zzz_not_there"))
    batched = {}
    for r in reader.search_many(qs, k=10).collect():
        batched.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, node in qs.items():
        want = [(r["doc_id"], r["score"]) for r in reader.search(node, k=10).collect()]
        got = sorted(batched.get(qid, []), key=lambda x: (-x[1], x[0]))
        assert got == want, qid
        assert got == small_oracle.search(node, k=10), qid


def test_query_planner_routes(reader, small_oracle):
    """query() routes a flat OR and a NOT tree through the kernel and a
    phrase inside a boolean tree through the match-set lowering; each
    top-k equals the oracle's bit for bit."""
    flat = P.Or((P.Term("w00050"), P.Term("w01500")))
    mixed = P.Not(P.Term("w00050"), P.Term("w00002"))
    nested = P.And((P.Phrase(("quick", "brown")), P.Term("fox")))
    assert reader._kernel_shaped(flat) and reader._kernel_shaped(mixed)
    assert not reader._kernel_shaped(nested)
    for node in (flat, mixed, nested):
        got = [(r["doc_id"], r["score"]) for r in reader.query(node, k=10).collect()]
        assert got == small_oracle.search(node, k=10), node
