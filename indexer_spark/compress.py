"""Postings layout and positions codec, NumPy-vectorized.

Resolves the reference's own TODO ("apply delta + variable-byte encoding
here before writing", /root/reference/src/tree.rs:215): the reference
serializes postings as raw framed structs (8B doc_id + 4B tf each).

Postings are plain integer columns (the columnar inverted index of
"Columnar Formatted Inverted Index for Highly-Paralleled, Vectorized
Query Processing", ICDE 2025): per (shard, term) row, ``docs`` holds the
sorted doc-id gaps (the first value absolute) as ``list<int64>`` and
``tfs`` the term frequencies as ``list<int32>``, plus per-block metadata
(last_doc_id, max_tf, max BM25 tf-norm) every ``BLOCK_SIZE`` postings,
which is what block-max WAND pruning consumes at query time. Parquet
compresses the columns; a reader gets each row as numpy views and
decodes it with one ``cumsum``. Document lengths are not stored per
posting: like Lucene's per-document norms they live once per document,
in the forward index's ``doc_len`` column, and the decode gathers each
posting's length from there (DocLens).

Term positions stay a delta + LEB128-varint byte stream per (shard,
term). Encode and decode are O(max_varint_width) vectorized numpy
passes, no per-value Python.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


# value magnitude thresholds for 2..10 encoded bytes (LEB128: 7 bits/byte)
_VARINT_THRESHOLDS = np.array([1 << (7 * k) for k in range(1, 10)],
                              dtype=np.uint64)


def varint_lengths(values: np.ndarray) -> np.ndarray:
    """Encoded byte length of each value — one searchsorted pass instead
    of O(max_width) shift/any passes (the old loop allocated ~3 full-size
    temporaries per extra byte, which under full-executor concurrency
    turned into page-fault contention on the postings hot path)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    return np.searchsorted(_VARINT_THRESHOLDS, v, side="right") + 1


def _varint_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode; also return each value's encoded byte length.

    Allocation-lean: byte 0 of EVERY value is written in one full-array
    pass; later bytes touch only the (typically small) subset of values
    that still need them — postings gaps/tfs/doc-lens are mostly 1-2
    bytes, so the old O(max_width) full-array masked passes did ~width×
    the necessary memory traffic."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nbytes = varint_lengths(v)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    # byte 0 for all values
    out[starts] = (v & np.uint64(0x7F)).astype(np.uint8) | (
        (nbytes > 1).astype(np.uint8) << 7
    )
    # bytes 1.. only for values still carrying bits (invariant at loop
    # top: every remaining value needs byte b, shifted == v >> 7b)
    rem = np.nonzero(nbytes > 1)[0]
    if rem.size:
        shifted = v[rem] >> np.uint64(7)
        nb = nbytes[rem]
        pos = starts[rem]
        b = 1
        while pos.size:
            out[pos + b] = (shifted & np.uint64(0x7F)).astype(np.uint8) | (
                (nb > b + 1).astype(np.uint8) << 7
            )
            keep = nb > b + 1
            if not keep.all():
                shifted, nb, pos = shifted[keep], nb[keep], pos[keep]
            shifted = shifted >> np.uint64(7)
            b += 1
    return out.tobytes(), nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints (as uint64)."""
    return _varint_encode_with_lengths(values)[0]


def varint_decode(buf: bytes, expect: int | None = None) -> np.ndarray:
    """Decode a LEB128 byte stream back to uint64 values."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        out = np.zeros(0, dtype=np.uint64)
    else:
        if b[-1] & 0x80:
            raise ValueError("truncated varint stream")
        is_last = (b & 0x80) == 0
        starts = np.nonzero(np.concatenate(([True], is_last[:-1])))[0]
        gid = np.cumsum(np.concatenate(([False], is_last[:-1]))).astype(np.int64)
        pos = np.arange(b.size, dtype=np.int64) - starts[gid]
        if pos.max(initial=0) > 9:
            raise ValueError("varint wider than uint64")
        vals7 = (b & np.uint8(0x7F)).astype(np.uint64) << (pos * 7).astype(np.uint64)
        out = np.add.reduceat(vals7, starts)
    if expect is not None and out.size != expect:
        raise ValueError(f"decoded {out.size} values, expected {expect}")
    return out


def encode_positions(positions: list[int] | np.ndarray) -> bytes:
    """One doc's term positions (strictly increasing token indices) ->
    delta varints: first value absolute, the rest gaps. Paired with the
    tf already stored per posting, no length prefix is needed."""
    a = np.asarray(positions, dtype=np.int64)
    if a.size == 0:
        return b""
    d = np.empty_like(a)
    d[0] = a[0]
    d[1:] = a[1:] - a[:-1]
    if a.size > 1 and (d[1:] <= 0).any():
        raise ValueError("positions must be strictly increasing")
    return varint_encode(d)


def encode_positions_doc(lists) -> bytes:
    """Encode ALL of one doc's per-term position lists in ONE varint
    pass — byte-identical to ``b"".join(encode_positions(v) for v in
    lists)`` but without millions of tiny-array numpy calls (the
    per-call overhead dominated the positional build at 2M turns). Each
    list's blob holds len(list) varints, so the blob splits back into
    lists at the varint ends (varint_ends) without a length table."""
    lists = list(lists)
    if not lists:
        return b""
    lens = np.fromiter((len(v) for v in lists), dtype=np.int64,
                       count=len(lists))
    total = int(lens.sum())
    if total == 0:
        return b""
    flat = np.empty(total, dtype=np.int64)
    off = 0
    for v in lists:
        n = len(v)
        flat[off : off + n] = v
        off += n
    seg0 = np.cumsum(lens) - lens  # each list's first element
    d = np.empty_like(flat)
    d[0] = flat[0]
    d[1:] = flat[1:] - flat[:-1]
    d[seg0] = flat[seg0]  # first value of every list stays absolute
    inner = np.ones(total, dtype=bool)
    inner[seg0] = False
    if (d[inner] <= 0).any():
        raise ValueError("positions must be strictly increasing")
    return varint_encode(d)


def decode_positions(blob: bytes, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One (shard, term) positions payload -> (flat positions int64,
    segment starts). The payload is the doc-ordered concatenation of
    per-doc encode_positions blobs; each doc's list length is its tf, so
    the whole payload decodes in ONE vectorized varint pass and the
    per-doc delta chains resolve with a single global cumsum (subtract
    each segment's incoming prefix)."""
    tfs = np.asarray(tfs, dtype=np.int64)
    total = int(tfs.sum())
    vals = varint_decode(blob, expect=total).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(tfs)))
    if total == 0:
        return np.zeros(0, dtype=np.int64), starts
    cs = np.cumsum(vals)
    seg0 = starts[:-1]
    base = cs[seg0] - vals[seg0]  # cumsum carried in from prior segments
    pos = cs - np.repeat(base, tfs)
    return pos, starts


def varint_ends(b: np.ndarray) -> np.ndarray:
    """Byte offset just past each varint of the uint8 stream ``b``: a
    varint ends at every byte without the continuation bit (< 0x80)."""
    return np.flatnonzero(b < 0x80) + 1


def decode_positions_select(
    blob: bytes, tfs: np.ndarray, sel: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Candidate-driven positions decode: only the ``sel``-indexed docs'
    lists come out of a (shard, term) positions payload. Identical
    content to slicing decode_positions' output at those segments, but
    the expensive varint arithmetic runs on the SELECTED bytes only —
    one cheap continuation-bit pass over the blob locates every varint
    boundary (the per-doc delta chains never cross docs, so each
    selected doc decodes independently). Returns (flat positions,
    segment starts) in ``sel`` order with len(sel)+1 starts.

    This is what makes phrase/near on a hot term affordable: the
    conjunction typically leaves a candidate set orders of magnitude
    smaller than the hot term's df, and position bytes of non-candidate
    docs are never decoded."""
    tfs = np.asarray(tfs, dtype=np.int64)
    sel = np.asarray(sel, dtype=np.int64)
    out_tfs = tfs[sel] if sel.size else np.zeros(0, dtype=np.int64)
    starts_out = np.concatenate(([0], np.cumsum(out_tfs))).astype(np.int64)
    if sel.size == 0 or starts_out[-1] == 0:
        return np.zeros(0, dtype=np.int64), starts_out
    b = np.frombuffer(blob, dtype=np.uint8)
    if b.size == 0 or (b[-1] & 0x80):
        raise ValueError("truncated varint stream")
    ends = varint_ends(b)
    if ends.size != int(tfs.sum()):
        raise ValueError(
            f"positions payload holds {ends.size} varints, "
            f"tfs sum to {int(tfs.sum())}"
        )
    vstarts = np.empty_like(ends)
    vstarts[0] = 0
    vstarts[1:] = ends[:-1]
    cum = np.concatenate(([0], np.cumsum(tfs)))  # varint index per doc
    vs, ve = cum[sel], cum[sel + 1]
    bstart = vstarts[vs]
    bend = np.where(ve > vs, ends[np.maximum(ve - 1, 0)], bstart)
    lens_b = bend - bstart
    total_b = int(lens_b.sum())
    head = np.cumsum(lens_b) - lens_b
    gidx = (
        np.arange(total_b, dtype=np.int64)
        - np.repeat(head, lens_b)
        + np.repeat(bstart, lens_b)
    )
    vals = varint_decode(
        b[gidx].tobytes(), expect=int(out_tfs.sum())
    ).astype(np.int64)
    cs = np.cumsum(vals)
    seg0 = starts_out[:-1]
    base = cs[seg0] - vals[seg0]
    pos = cs - np.repeat(base, out_tfs)
    return pos, starts_out


def postings_columns(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    starts: np.ndarray,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Lay out MANY terms' postings as Arrow list columns in one
    vectorized pass, with no per-term work.

    Inputs are a shard's postings concatenated in (term, doc_id) order,
    each with its document's length ``dls``; ``starts`` (len n_terms+1)
    marks each term's run. Returns a dict of one entry per term:
      - ``docs`` list<int64>: doc-id gaps, the first one absolute;
      - ``tfs`` list<int32>;
      - ``blocks`` list<struct<last_doc_id, max_tf, max_norm>>: block i
        is elements [i*block_size, min((i+1)*block_size, df)). max_norm
        is the exact block maximum of the BM25 tf-normalization
        tf/(tf + k1*(1-b+b*dl/avgdl)), so idf*(k1+1)*max_norm bounds the
        term's score in the block (block-max WAND);
      - ``nbytes`` (numpy int64): the varint-equivalent payload bytes,
        the LEB128 lengths of the gaps, tfs and dls summed. It is the
        unit the reader's ``fast_path_bytes`` gate is set in, so it
        still counts the lengths the postings no longer store.
    """
    import pyarrow as pa

    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    counts = starts[1:] - starts[:-1]
    if (counts <= 0).any():
        raise ValueError("every term needs at least one posting")
    heads = starts[:-1]
    # per-term delta: the first gap of a run is the absolute doc_id
    gaps = np.empty(doc_ids.size, dtype=np.int64)
    gaps[1:] = doc_ids[1:] - doc_ids[:-1]
    gaps[heads] = doc_ids[heads]
    is_head = np.zeros(doc_ids.size, dtype=bool)
    is_head[heads] = True
    if (gaps[~is_head] <= 0).any():
        raise ValueError("doc_ids must be strictly increasing within a term")
    vl = varint_lengths(gaps) + varint_lengths(tfs) + varint_lengths(dls)
    nbytes = (np.add.reduceat(vl, heads) if heads.size
              else np.zeros(0, dtype=np.int64))

    tfd = tfs.astype(np.float64)
    norm = tfd / (tfd + k1 * (1.0 - b + b * dls / max(avgdl, 1e-12)))
    # per term, blocks of block_size postings: consecutive blocks tile
    # the postings exactly, so one reduceat per metric computes every
    # block maximum
    nblocks = -(-counts // block_size)
    term_of_block = np.repeat(np.arange(counts.size), nblocks)
    nb_cum = np.concatenate(([0], np.cumsum(nblocks)))
    bs = (starts[term_of_block]
          + (np.arange(nb_cum[-1]) - nb_cum[term_of_block]) * block_size)
    be = np.minimum(bs + block_size, starts[term_of_block + 1])
    if bs.size:
        max_tf = np.maximum.reduceat(tfs, bs)
        max_norm = np.maximum.reduceat(norm, bs)
    else:
        max_tf, max_norm = tfs[:0], norm[:0]
    blocks = pa.StructArray.from_arrays(
        [pa.array(doc_ids[be - 1], pa.int64()),
         pa.array(max_tf, pa.int32()),
         pa.array(max_norm, pa.float64())],
        names=["last_doc_id", "max_tf", "max_norm"])

    def lists(offsets, values):
        return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values)

    return {
        "docs": lists(starts, pa.array(gaps, pa.int64())),
        "tfs": lists(starts, pa.array(tfs, pa.int32())),
        "blocks": lists(nb_cum, blocks),
        "nbytes": nbytes.astype(np.int64),
    }


class DocLens:
    """One shard's document lengths, read as ``doc_len[doc_id - base]``:
    ``base`` is the shard's first doc id and ``runs`` its forward-index
    ``doc_len`` column as (first local index, values) pairs, one per
    stored row group, which tile the shard's local indexes in ascending
    order. Called on ascending doc ids, it returns their lengths as an
    int64 array that owns its memory; a doc id no run holds raises
    ValueError."""

    __slots__ = ("starts", "views")

    def __init__(self, base: int, runs: list):
        runs = sorted(runs, key=lambda r: r[0]) or [
            (0, np.zeros(0, dtype=np.int32))]
        self.starts = [base + int(first) for first, _ in runs]
        self.views = [v for _, v in runs]

    def __call__(self, doc_ids: np.ndarray) -> np.ndarray:
        if len(self.views) == 1:  # one row group: the common case
            return _take_lens(doc_ids, self.starts[0], self.views[0])
        cuts = [0, *np.searchsorted(doc_ids, self.starts[1:]).tolist(),
                len(doc_ids)]
        return np.concatenate([
            _take_lens(doc_ids[a:b], s, v)
            for a, b, s, v in zip(cuts, cuts[1:], self.starts, self.views)])


def _take_lens(ids: np.ndarray, start: int, values: np.ndarray):
    if ids.size and (ids[0] < start or ids[-1] - start >= values.size):
        raise ValueError(
            f"doc ids {int(ids[0])}..{int(ids[-1])} are not among the "
            f"{values.size} document lengths from doc id {start}")
    return values[ids - start].astype(np.int64)


def _check_row(docs, tfs, n: int) -> None:
    if not len(docs) == len(tfs) == n:
        raise ValueError(
            f"postings row holds {len(docs)} doc gaps and {len(tfs)} tfs; "
            f"its df is {n}")


def decode_postings(docs, tfs, doc_len: DocLens, n: int):
    """One postings row (doc-id gaps and tfs; numpy views or sequences)
    -> (doc_ids, tfs, dls) int64 arrays that own their memory, ``dls``
    gathered from the row's shard's ``doc_len``. Both lists must hold
    ``n`` values (ValueError otherwise)."""
    _check_row(docs, tfs, n)
    # np.add.accumulate, not np.cumsum: same result, without the ~2 us
    # dispatch np.cumsum adds per call (a query decodes ~12 short rows)
    doc_ids = np.add.accumulate(docs, dtype=np.int64)
    return doc_ids, np.asarray(tfs).astype(np.int64), doc_len(doc_ids)


def decode_block_slice(docs, tfs, doc_len: DocLens, blocks: list, i: int,
                       j: int, n: int, block_size: int = BLOCK_SIZE):
    """Blocks [i, j) of one postings row as (doc_ids, tfs, dls) int64
    arrays that own their memory: an element slice, its doc ids
    restored from the gaps on top of block i-1's last_doc_id and its
    lengths gathered from ``doc_len``."""
    _check_row(docs, tfs, n)
    s, e = i * block_size, min(j * block_size, n)
    if e <= s:
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    doc_ids = np.add.accumulate(docs[s:e], dtype=np.int64)
    if i > 0:
        doc_ids += blocks[i - 1]["last_doc_id"]
    return (doc_ids, np.asarray(tfs[s:e]).astype(np.int64),
            doc_len(doc_ids))
