"""WAND must be provably rank-identical to the exhaustive path (and so
to the oracle) — SURVEY.md §7 step 8."""

import numpy as np
import pytest

from noise_spark.index import codec
from noise_spark.query import IndexReader
from noise_spark.query import plan as P
from noise_spark.query.wand import wand_bin


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
def test_wand_rank_identical_to_exhaustive(name, n_bins, reader):
    node = WAND_QUERIES[name]
    exhaustive = [(r["doc_id"], r["score"]) for r in reader.search(node, k=10).collect()]
    wand = [(r["doc_id"], r["score"]) for r in reader.search_wand(node, k=10, n_bins=n_bins).collect()]
    assert wand == exhaustive, f"{name} (bins={n_bins})"


def test_wand_bin_unit_pruning():
    """Unit-level: wand_bin on hand-built blocks matches brute force and
    never misses a tie at the threshold."""
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
    got = wand_bin(terms, 0, n_docs, 10, dict.fromkeys(terms, avg_dl), k1, b, mode="or")
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)


def test_seeded_theta_decodes_fewer_blocks(reader):
    """Global-θ seeding must keep results identical while decoding
    measurably fewer blocks than θ=0 (skipping engages from the first
    pivot instead of only after each bin's heap fills)."""
    # skewed query: rare high-idf terms (df≈5) + a Zipf-head term — the
    # shape where θ binds. θ₀ lands in the rare tier, so bins without
    # rare docs evaluate nothing; unseeded, every bin first fills its own
    # heap from common-term blocks.
    node = P.Or((P.Term("brown"), P.Term("fox"), P.Term("w00000")))
    unseeded = [
        (r["doc_id"], r["score"])
        for r in reader.search_wand(node, k=5, n_bins=7, seed_theta=False).collect()
    ]
    blocks_unseeded = reader.last_blocks_decoded.value
    seeded = [
        (r["doc_id"], r["score"])
        for r in reader.search_wand(node, k=5, n_bins=7, seed_theta=True).collect()
    ]
    blocks_seeded = reader.last_blocks_decoded.value
    assert seeded == unseeded
    assert blocks_seeded < blocks_unseeded, (blocks_seeded, blocks_unseeded)


def test_wand_bin_theta0_exact():
    """A seeded θ₀ at (or just below) the true kth score must not change
    the result; a θ₀ above it may drop docs — never produced by
    _seed_theta, but assert the lower-bound contract boundary."""
    rng = np.random.default_rng(3)
    avg_dl, k1, b = 80.0, 1.2, 0.75
    ids = np.sort(rng.choice(1000, size=400, replace=False))
    tfs = rng.integers(1, 6, size=ids.size)
    dls = rng.integers(40, 160, size=ids.size)
    rows = []
    for s in range(0, ids.size, 64):
        e = min(s + 64, ids.size)
        rows.append(
            {
                "first_doc": int(ids[s]),
                "last_doc": int(ids[e - 1]),
                "docs": codec.delta_encode(ids[s:e]),
                "tfs": codec.varbyte_encode(tfs[s:e].astype(np.uint64)),
                "dls": codec.varbyte_encode(dls[s:e].astype(np.uint64)),
                "max_tf": int(tfs[s:e].max()),
                "min_dl": int(dls[s:e].min()),
            }
        )
    terms = {"t": (1.5, rows)}
    avg_dls = {"t": avg_dl}
    base = wand_bin(terms, 0, 1000, 10, avg_dls, k1, b, mode="or")
    kth = base[-1][1]
    stats: dict = {}
    seeded = wand_bin(
        terms, 0, 1000, 10, avg_dls, k1, b, mode="or",
        theta0=kth * (1.0 - 1e-9), stats=stats,
    )
    assert seeded == base
    assert stats["blocks_decoded"] >= 1


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


def test_query_planner_routes(reader):
    """query() must route flat scored plans through WAND and the rest
    through the exhaustive path, rank-identically."""
    flat = P.Or((P.Term("w00050"), P.Term("w01500")))
    mixed = P.Not(P.Term("w00050"), P.Term("w00002"))
    for node in (flat, mixed):
        a = [(r["doc_id"], r["score"]) for r in reader.query(node, k=10).collect()]
        b = [(r["doc_id"], r["score"]) for r in reader.search(node, k=10).collect()]
        assert a == b
