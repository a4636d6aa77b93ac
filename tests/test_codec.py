import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from noise_spark.index import codec
from noise_spark.index.build import _make_block_builder, term_bucket


def test_varbyte_roundtrip_small():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**32, 2**56 + 7], dtype=np.uint64)
    assert list(codec.varbyte_decode(codec.varbyte_encode(vals))) == list(vals)


def test_varbyte_empty():
    assert codec.varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert codec.varbyte_decode(b"").size == 0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_varbyte_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = codec.varbyte_decode(codec.varbyte_encode(arr))
    assert list(out) == vals


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=200, unique=True))
def test_delta_roundtrip_property(ids):
    ids = sorted(ids)
    arr = np.array(ids, dtype=np.int64)
    out = codec.delta_decode(codec.delta_encode(arr))
    assert list(out) == ids


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**20), max_size=20, unique=True),
        max_size=50,
    )
)
def test_positions_roundtrip(per_doc):
    """The build writes one ``positions_row`` per posting and concatenates
    them into a block payload; the reader cuts it back with
    ``split_positions`` and decodes each row with ``decode_positions_row``."""
    per_doc = [sorted(p) for p in per_doc]
    rows = [codec.positions_row(p) for p in per_doc]
    split = codec.split_positions(b"".join(rows), len(rows))
    assert split == rows
    assert [list(codec.decode_positions_row(r)) for r in split] == per_doc


def test_varbyte_compression_ratio():
    # dense doc-id deltas should compress to ~1 byte per id
    ids = np.arange(0, 100000, 3, dtype=np.int64)
    buf = codec.delta_encode(ids)
    assert len(buf) < ids.size * 1.1


@st.composite
def _posting_lists(draw):
    """(doc ids ≤ 2^40, tfs, dls ≥ tf, a shuffled row order)."""
    ids = draw(
        st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=400, unique=True)
    )
    n = len(ids)
    tfs = draw(st.lists(st.integers(min_value=1, max_value=300), min_size=n, max_size=n))
    extra = draw(st.lists(st.integers(min_value=0, max_value=2**20), min_size=n, max_size=n))
    order = draw(st.permutations(range(n)))
    return ids, tfs, [t + x for t, x in zip(tfs, extra)], order


@settings(max_examples=100, deadline=None)
@given(_posting_lists(), st.sampled_from([1, 4, 128]))
def test_block_builder_roundtrip_property(posting, block_size):
    """Every block ``_make_block_builder`` emits is a slice of ONE varbyte
    stream per column with an absolute leading docID: it must decode on
    its own back to its slice of the sorted posting list, and its stored
    metadata must match that slice."""
    ids, tfs, dls, order = posting
    pos_rows = [codec.positions_row(list(range(tf))) for tf in tfs]
    pdf = pd.DataFrame(
        {"doc_id": ids, "tf": tfs, "dl": dls, "positions": pos_rows}
    ).iloc[list(order)]
    out = _make_block_builder(block_size)(("t", 3), pdf)

    by_doc = sorted(zip(ids, tfs, dls, pos_rows))
    assert len(out) == -(-len(ids) // block_size)
    for i, blk in enumerate(out.itertuples(index=False)):
        sl = by_doc[i * block_size : (i + 1) * block_size]
        s_ids, s_tfs, s_dls, s_pos = map(list, zip(*sl))
        assert list(codec.delta_decode(blk.docs)) == s_ids
        assert list(codec.varbyte_decode(blk.tfs)) == s_tfs
        assert list(codec.varbyte_decode(blk.dls)) == s_dls
        assert codec.split_positions(blk.positions, len(sl)) == s_pos
        assert (blk.term, blk.salt, blk.block_id) == ("t", 3, i)
        assert (blk.first_doc, blk.last_doc) == (s_ids[0], s_ids[-1])
        assert (blk.max_tf, blk.min_dl) == (max(s_tfs), min(s_dls))
        assert (blk.tf_sum, blk.n_docs) == (sum(s_tfs), len(sl))
        assert blk.codec == "varbyte"
        assert blk.bucket == term_bucket("t")
