"""Varint codec and postings layout round-trip tests (property-based)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from indexer_spark.compress import (
    DocLens,
    decode_block_slice,
    decode_postings,
    postings_columns,
    varint_decode,
    varint_encode,
)
from indexer_spark.query import _int_lists, _list_cells

PAYLOAD = ("docs", "tfs")


def _layout(ids, tfs, dls, avgdl=40.0, block_size=16):
    """One term's postings laid out as the postings builder writes them."""
    return postings_columns(np.array(ids, dtype=np.int64), np.array(tfs),
                            np.array(dls), np.array([0, len(ids)]), avgdl,
                            block_size=block_size)


def _payload(cols, i=0):
    """Row ``i``'s docs/tfs as the numpy views a reader hands a scorer."""
    return [_list_cells(_int_lists(cols[c]), [i])[0] for c in PAYLOAD]


def _lens(ids, dls):
    """A doc_len gather over sparse ids: the length of each of ``ids``
    (ascending), failing on an id it does not hold."""
    ids = np.asarray(ids, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)

    def gather(doc_ids):
        pos = np.searchsorted(ids, doc_ids)
        assert (ids[pos] == doc_ids).all()
        return dls[pos]
    return gather


def test_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0
    cols = postings_columns(np.array([], dtype=np.int64), np.array([]),
                            np.array([]), np.array([0]), 10.0)
    assert all(len(cols[c]) == 0 for c in (*PAYLOAD, "blocks", "nbytes"))
    assert "dls" not in cols


def test_known_values():
    # 0 -> 0x00, 127 -> 0x7f, 128 -> 0x80 0x01, 300 -> 0xac 0x02
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert list(varint_decode(b"\x00\x7f\x80\x01\xac\x02")) == [0, 127, 128, 300]


def test_uint64_extremes():
    vals = np.array([0, 1, 2**63 - 1, 2**64 - 1, 2**32, 127, 128], dtype=np.uint64)
    assert list(varint_decode(varint_encode(vals))) == list(vals)


def test_truncated_stream_raises():
    with pytest.raises(ValueError):
        varint_decode(b"\x80")  # continuation bit set on final byte
    with pytest.raises(ValueError):
        varint_decode(b"\x00\x00", expect=3)


@given(
    st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300)
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert list(varint_decode(varint_encode(arr), expect=len(vals))) == vals


@given(
    st.integers(min_value=1, max_value=400).flatmap(
        lambda n: st.tuples(
            st.lists(st.integers(0, 10**7), min_size=n, max_size=n, unique=True),
            st.lists(st.integers(1, 1000), min_size=n, max_size=n),
            st.lists(st.integers(0, 500), min_size=n, max_size=n),
        )
    )
)
@settings(max_examples=100, deadline=None)
def test_postings_roundtrip_and_blocks(data):
    ids, tfs, dls = data
    ids = sorted(ids)
    avgdl = 40.0
    cols = _layout(ids, tfs, dls, avgdl)
    assert cols["docs"].type.value_type == "int64"
    assert cols["tfs"].type.value_type == "int32" and "dls" not in cols
    rid, rtf, rdl = decode_postings(*_payload(cols), _lens(ids, dls),
                                    len(ids))
    assert list(rid) == ids
    assert list(rtf) == tfs
    assert list(rdl) == dls
    # nbytes: the varint-encoded size of the gaps, tfs and dls
    gaps = np.diff(ids, prepend=0).astype(np.uint64)
    assert cols["nbytes"].tolist() == [sum(
        len(varint_encode(np.array(v, dtype=np.uint64)))
        for v in (gaps, tfs, dls))]
    # block invariants
    blocks = cols["blocks"].to_pylist()[0]
    assert len(blocks) == (len(ids) + 15) // 16
    assert blocks[-1]["last_doc_id"] == ids[-1]
    k1, b = 1.2, 0.75
    for i, blk in enumerate(blocks):
        s, e = i * 16, min((i + 1) * 16, len(ids))
        assert blk["max_tf"] == max(tfs[s:e])
        norms = [
            tf / (tf + k1 * (1 - b + b * dl / avgdl))
            for tf, dl in zip(tfs[s:e], dls[s:e])
        ]
        assert abs(blk["max_norm"] - max(norms)) < 1e-12
        assert blk["last_doc_id"] == ids[e - 1]


@given(
    st.integers(min_value=1, max_value=300).flatmap(
        lambda n: st.tuples(
            st.lists(st.integers(0, 10**6), min_size=n, max_size=n, unique=True),
            st.integers(0, 30),
            st.integers(0, 30),
        )
    )
)
@settings(max_examples=100, deadline=None)
def test_block_slice_decode(data):
    ids, bi, bj = data
    ids = sorted(ids)
    n = len(ids)
    tfs = [(x % 7) + 1 for x in ids]
    dls = [(x % 50) for x in ids]
    bs = 16
    cols = _layout(ids, tfs, dls, block_size=bs)
    blocks = cols["blocks"].to_pylist()[0]
    nb = len(blocks)
    i, j = min(bi, nb), min(bj, nb)
    if i > j:
        i, j = j, i
    rid, rtf, rdl = decode_block_slice(*_payload(cols), _lens(ids, dls),
                                       blocks, i, j, n, block_size=bs)
    s, e = i * bs, min(j * bs, n)
    assert list(rid) == ids[s:e]
    assert list(rtf) == tfs[s:e]
    assert list(rdl) == dls[s:e]


@given(
    st.sampled_from([1, 16, 48, 16 * 3 + 5, 7]).flatmap(
        lambda n: st.tuples(
            st.lists(st.integers(0, 1 << 40), min_size=n, max_size=n,
                     unique=True),
            st.lists(st.integers(1, (1 << 31) - 1), min_size=n, max_size=n),
            st.lists(st.integers(1, (1 << 31) - 1), min_size=n, max_size=n),
        )
    )
)
@settings(max_examples=80, deadline=None)
def test_large_ids_round_trip(data):
    """Doc ids past 2**32, df = 1, whole blocks of exactly block_size
    and a short last block: the full decode and every block slice equal
    numpy references, and every returned array owns its memory (the
    decoded LRU counts ``nbytes``)."""
    ids, tfs, dls = data
    ids = np.sort(np.array(ids, dtype=np.int64) + (1 << 32))
    tfs, dls = np.array(tfs, dtype=np.int64), np.array(dls, dtype=np.int64)
    n, bs = ids.size, 16
    cols = _layout(ids, tfs, dls, block_size=bs)
    payload = [*_payload(cols), _lens(ids, dls)]
    np.testing.assert_array_equal(payload[0], np.diff(ids, prepend=0))
    got = decode_postings(*payload, n)
    for g, want in zip(got, (ids, tfs, dls)):
        assert g.dtype == np.int64 and g.flags.owndata
        np.testing.assert_array_equal(g, want)
    blocks = cols["blocks"].to_pylist()[0]
    assert len(blocks) == -(-n // bs)
    for i in range(len(blocks)):
        s, e = i * bs, min((i + 1) * bs, n)
        sl = decode_block_slice(*payload, blocks, i, i + 1, n,
                                block_size=bs)
        for g, want in zip(sl, (ids[s:e], tfs[s:e], dls[s:e])):
            assert g.dtype == np.int64 and g.flags.owndata
            np.testing.assert_array_equal(g, want)
        assert blocks[i]["last_doc_id"] == ids[e - 1]
    # a list whose length differs from df fails loudly
    with pytest.raises(ValueError, match="df"):
        decode_postings(payload[0], payload[1][:-1], payload[2], n)
    with pytest.raises(ValueError, match="df"):
        decode_postings(payload[0][:-1], payload[1], payload[2], n)
    with pytest.raises(ValueError, match="df"):
        decode_postings(*payload, n + 1)
    with pytest.raises(ValueError, match="df"):
        decode_block_slice(payload[0][1:], *payload[1:], blocks, 0, 1, n,
                           block_size=bs)


@given(
    st.lists(
        st.tuples(
            st.lists(st.integers(0, 10**6), min_size=1, max_size=60, unique=True),
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=60, deadline=None)
def test_batch_encode_equals_per_term(term_runs):
    """A many-term postings_columns pass lays out each term exactly as
    a one-term pass does."""
    runs = [sorted(ids) for (ids,) in term_runs]
    all_ids = np.concatenate([np.array(r, dtype=np.int64) for r in runs])
    tfs = (all_ids % 9 + 1).astype(np.int64)
    dls = (all_ids % 73).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum([len(r) for r in runs])))
    avgdl, bs = 37.5, 16
    cols = postings_columns(all_ids, tfs, dls, starts, avgdl, block_size=bs)
    for i in range(len(runs)):
        s, e = starts[i], starts[i + 1]
        one = _layout(all_ids[s:e], tfs[s:e], dls[s:e], avgdl, block_size=bs)
        for g, w in zip(_payload(cols, i), _payload(one)):
            assert g.tolist() == w.tolist()
        assert cols["blocks"][i].as_py() == one["blocks"][0].as_py()
        assert cols["nbytes"][i] == one["nbytes"][0]


def test_unsorted_doc_ids_rejected():
    with pytest.raises(ValueError):
        _layout([5, 3], [1, 1], [1, 1])


def test_doc_lens_gathers_across_row_groups():
    """DocLens reads doc_len[doc_id - base] over one or several row-group
    runs (in any order), returns owned int64 arrays, and refuses a doc
    id outside its runs instead of wrapping around."""
    lens = np.arange(100, dtype=np.int32) * 3 + 1
    base = 1 << 33
    one = DocLens(base, [(0, lens)])
    three = DocLens(base, [(70, lens[70:]), (0, lens[:30]),
                           (30, lens[30:70])])
    rng = np.random.default_rng(9)
    for _ in range(50):
        local = np.sort(rng.choice(100, int(rng.integers(0, 40)),
                                   replace=False))
        for dl in (one, three):
            got = dl(local.astype(np.int64) + base)
            assert got.dtype == np.int64 and got.flags.owndata
            assert got.tolist() == lens[local].tolist()
    for dl in (one, three):
        for bad in ([base - 1, base], [base + 99, base + 100]):
            with pytest.raises(ValueError, match="document lengths"):
                dl(np.array(bad, dtype=np.int64))
    # a gap between runs and a shard without rows fail the same way
    gappy = DocLens(base, [(0, lens[:30]), (40, lens[40:])])
    with pytest.raises(ValueError, match="document lengths"):
        gappy(np.array([base + 29, base + 35], dtype=np.int64))
    with pytest.raises(ValueError, match="document lengths"):
        DocLens(base, [])(np.array([base], dtype=np.int64))
    assert DocLens(base, [])(np.zeros(0, dtype=np.int64)).size == 0
