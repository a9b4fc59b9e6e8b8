"""BM25 / TF-IDF top-k query execution over the sharded compressed index.

Replaces the reference's two-pass search (/root/reference/src/tree.rs:388-465
— full dict scan, then seek+deserialize every matching postings list and
score EVERY matching doc, then full sort) with:

  1. driver: tokenize query (identical lexer to the build side,
     lib.rs:92-96), look up global df for the query terms in the
     term_stats table (broadcast-sized collect — J3's semi-join),
  2. executors: scan only postings rows with term IN (...) — Parquet
     row-group pruning via the term-sorted layout stands in for the
     reference's (offset, len) dictionary seeks (tree.rs:434-443),
  3. per shard (Arrow batches: mapInArrow over whole-file tasks, else
     groupBy(shard).applyInArrow): decode + score vectorized; either
     exhaustively, or with safe block-max pruning ("pruned" mode):
     segments bounded by block boundaries are processed in descending
     score-upper-bound order and the scan stops when no remaining segment
     can beat the current k-th score — skipped blocks are never even
     decoded (block i is elements [i*block_size, (i+1)*block_size) of
     the row's integer lists). Because a segment is a doc_id
     range and shards partition doc_ids, every doc's FULL score is
     computed inside its segment — pruning is exact, verified by
     tests against exhaustive mode.
  4. per-shard top-k -> global orderBy(score desc, doc_id asc).limit(k)
     (Spark plans TakeOrderedAndProject — true distributed top-k, unlike
     the reference's full sort, tree.rs:462; doc_id tiebreak is our
     documented determinism deviation Q6).
"""

from __future__ import annotations

import math
import os
import sys
from bisect import bisect_left
from collections import Counter
from operator import itemgetter
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import (
    _postings_path,
    _term_stats_path,
    _tok_path,
    read_manifest,
    read_stats,
)
from .compress import (
    DocLens,
    decode_block_slice,
    decode_positions,
    decode_positions_select,
    decode_postings,
)
from .boolquery import from_root, parse, rewrite_prefixes
from .lexer import term_occurrences, tokenize

_SCORE_SCHEMA = "doc_id long, score double"

# below this many candidate postings in a shard, the vectorized exhaustive
# path beats the segment loop's per-segment Python overhead (tests lower it
# to force the pruning path on small fixtures)
SMALL_SHARD_THRESHOLD = 200_000


_SIZE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(v: str) -> int | None:
    """Parse Spark size confs: '33554432', '128m', '1g', '128mb'..."""
    s = str(v).strip().lower().removesuffix("b")
    if s and s[-1] in _SIZE_SUFFIX:
        try:
            return int(float(s[:-1]) * _SIZE_SUFFIX[s[-1]])
        except ValueError:
            return None
    try:
        return int(s)
    except ValueError:
        return None


def _bm25_normpart(tf64: np.ndarray, dl: np.ndarray, k1: float, b: float,
                   avgdl: float) -> np.ndarray:
    """Query-independent BM25 tf-normalization. The SINGLE definition of
    this expression: the -2 cache entries, the driver paths and the
    distributed scorers must all produce bit-identical floats, so they
    all call this (an epsilon change anywhere else would silently break
    the repeat-path identity invariants). ``tf64`` must be float64;
    ``dl`` keeps its decoded dtype (int64) — the division promotes."""
    return tf64 * (k1 + 1.0) / (tf64 + k1 * (1.0 - b + b * dl / avgdl))


def _bm25_idf(n: int, df: int) -> float:
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))


def _top_order(ids: np.ndarray, scores: np.ndarray, k: int) -> np.ndarray:
    """Indices of the top ``k`` of (ids, scores) in (score desc, id asc)
    order: an O(n) argpartition narrows to every element scoring >= the
    k-th best, then a lexsort orders only those. Ties at the boundary
    stay in the narrowed set, so the id-asc tiebreak is exact."""
    if k < ids.size:
        kth = -np.partition(-scores, k - 1)[k - 1]
        sub = np.flatnonzero(scores >= kth)
        return sub[np.lexsort((ids[sub], -scores[sub]))[:k]]
    return np.lexsort((ids, -scores))[:k]


def _topk_merge(ids: np.ndarray, scores: np.ndarray, k: int | None):
    """Exact top-k with (score desc, doc_id asc) tiebreak; ``k`` None
    orders every element. Past 4k candidates it partitions first
    (_top_order): a full sort of millions of candidates for a top-10
    was the single biggest cost of hot-term queries, and at 2,000
    candidates partition-then-lexsort already takes a tenth of the
    lexsort's time."""
    n = ids.size
    if n == 0:
        return ids, scores
    order = (_top_order(ids, scores, k) if k is not None and n > 4 * k
             else np.lexsort((ids, -scores))[:k])
    return ids[order], scores[order]


class _DecodedLRU:
    """Decoded-postings cache, byte-bounded LRU.

    Lives at module level: Spark reuses Python worker processes across
    tasks and queries, so a hot term's postings decode once per worker
    instead of once per query (the driver fast path shares the same cache
    in the driver process). Keys carry the reader's cache namespace —
    (index dir, stats.json ``epoch``, bumped on every stats commit) —
    plus df and payload length, so entries from a superseded index
    version, or from a different index in the same session, can never be
    returned for other bytes. Values are immutable numpy array tuples —
    scorers only slice/astype them."""

    def __init__(self, max_bytes: int = 128 << 20):
        import threading
        from collections import OrderedDict

        self._d: "OrderedDict[tuple, tuple]" = OrderedDict()
        self._bytes = 0
        self.max_bytes = max_bytes
        # warmed hot-set entries are PINNED (refcounted by reader):
        # eviction skips them, so a burst of large unwarmed decodes can
        # never silently evict the hot set a service paid to warm —
        # steady-state hot latency stays bounded regardless of query mix
        self._pins: dict[tuple, int] = {}
        # the threaded query server shares one reader across request
        # threads; individual dict ops are GIL-atomic but the
        # move_to_end/evict sequences are not, so guard them
        self._lock = threading.Lock()

    def get(self, key):
        with self._lock:
            v = self._d.get(key)
            if v is not None:
                self._d.move_to_end(key)
            return v

    def put(self, key, arrays):
        with self._lock:
            if key in self._d:
                return
            self._d[key] = arrays
            self._bytes += sum(a.nbytes for a in arrays)
            # evict oldest-first, skipping pinned entries (a skipped pin
            # is moved to the MRU end so the scan terminates); if the
            # overflow is entirely pinned mass the cache may exceed the
            # cap — warm budget sizing bounds that by construction
            n_scan = len(self._d)
            while self._bytes > self.max_bytes and n_scan > 0:
                k = next(iter(self._d))
                n_scan -= 1
                if k in self._pins:
                    self._d.move_to_end(k)
                    continue
                old = self._d.pop(k)
                self._bytes -= sum(a.nbytes for a in old)

    def __contains__(self, key) -> bool:
        """Whether ``key`` is resident, without touching its LRU order."""
        return key in self._d

    def discard(self, key) -> None:
        """Drop ``key`` (and any pin on it), keeping the byte count exact;
        an absent key is a no-op."""
        with self._lock:
            old = self._d.pop(key, None)
            if old is not None:
                self._bytes -= sum(a.nbytes for a in old)
            self._pins.pop(key, None)

    def clear(self) -> None:
        """Drop every entry, the byte count and every pin."""
        with self._lock:
            self._d.clear()
            self._bytes = 0
            self._pins.clear()

    def pin(self, key) -> bool:
        """Take one pin share on a RESIDENT entry (False if absent —
        pinning a missing key is meaningless). Refcounted: a key pinned
        by two readers stays pinned until both unpin."""
        with self._lock:
            if key not in self._d:
                return False
            self._pins[key] = self._pins.get(key, 0) + 1
            return True

    def unpin(self, keys) -> None:
        """Drop one pin share per key (a reader unpins on close)."""
        with self._lock:
            for k in keys:
                n = self._pins.get(k)
                if n is None:
                    continue
                if n <= 1:
                    del self._pins[k]
                else:
                    self._pins[k] = n - 1


_DECODED_CACHE = _DecodedLRU()

# warm_hot_terms raises the process-global decoded-cache cap; with several
# reader lifecycles interleaved in one process (a server swapping indexes),
# per-reader "restore my prior" bookkeeping can settle the cap at a stale
# intermediate raise (A warms to X, B warms to Y>X, A closes as a no-op, B
# closes restoring A's X). A module-level refcount + the ONE genuine
# pre-raise cap makes the LAST closer restore the true original.
import threading as _threading

_CACHE_CAP_LOCK = _threading.Lock()
_CACHE_CAP_REFS = 0
_CACHE_CAP_ORIG: int | None = None


def _cache_cap_acquire(want_cap: int) -> None:
    """Raise the global decoded-cache cap to at least want_cap, taking one
    refcount share for the calling reader (idempotent raises by the same
    reader must call this only on their FIRST raise)."""
    global _CACHE_CAP_REFS, _CACHE_CAP_ORIG
    with _CACHE_CAP_LOCK:
        if _CACHE_CAP_REFS == 0:
            _CACHE_CAP_ORIG = _DECODED_CACHE.max_bytes
        _CACHE_CAP_REFS += 1
        if want_cap > _DECODED_CACHE.max_bytes:
            _DECODED_CACHE.max_bytes = want_cap


def _cache_cap_release() -> None:
    """Drop one refcount share; the last release restores the genuine
    pre-raise cap (never an intermediate raise)."""
    global _CACHE_CAP_REFS, _CACHE_CAP_ORIG
    with _CACHE_CAP_LOCK:
        if _CACHE_CAP_REFS == 0:
            return
        _CACHE_CAP_REFS -= 1
        if _CACHE_CAP_REFS == 0 and _CACHE_CAP_ORIG is not None:
            _DECODED_CACHE.max_bytes = _CACHE_CAP_ORIG
            _CACHE_CAP_ORIG = None


def _aggregate_scores(id_chunks, score_chunks, n_required: int = 0):
    """Per-term contribution arrays -> per-doc sums, O(n) with no sort.

    doc_ids are DENSE (engine-assigned, §2.5), so a [min, max] range
    accumulator replaces the old stable-argsort + np.unique (two full
    sorts of every posting for a top-10 query). The accumulator is one
    weighted ``np.bincount`` over the concatenated chunks: bincount adds
    in input order, chunks arrive in sorted-term order, so each doc's
    sum is built in the same sequential per-doc order as the old
    reduceat, and float results are bit-identical and stay pinned to
    the oracle's (sorted unique terms) order.

    Disjunctive (OR, ``n_required`` 0): exact-zero sums are dropped by
    the nonzero scan — for TF-IDF this IS quirk P8 (tree.rs:456-459);
    BM25 contributions are strictly positive (idf > 0 for df < N), so
    nothing real is lost.

    Conjunctive (AND, ``n_required`` > 0): keeps only docs that appear
    in exactly ``n_required`` chunks, zero sums included. Chunks are per
    (term, shard) and shards partition doc_ids, so a doc appears in at
    most one chunk per term — chunk-membership count == distinct-query-
    term count. An unweighted bincount counts memberships beside the
    accumulator (the sparse fallback counts via reduceat group sizes);
    the sums are the OR path's, bit for bit, for surviving docs."""
    nonempty = [c for c in id_chunks if c.size]
    if not nonempty or len(nonempty) < n_required:
        z = np.zeros(0, dtype=np.int64)
        return z, np.zeros(0, dtype=np.float64)
    lo = min(int(c[0]) for c in nonempty)  # chunks are doc_id-sorted
    hi = max(int(c[-1]) for c in nonempty)
    span = hi - lo + 1
    ids = np.concatenate(id_chunks)
    sc = np.concatenate(score_chunks)
    if span > max(4 * ids.size, 1 << 20):
        # sparse hits across a huge id range (possible only on the
        # driver path of a very large index): sort-based aggregation
        # instead of a span-sized accumulator
        order = np.argsort(ids, kind="stable")  # stable keeps term order
        ids, sc = ids[order], sc[order]
        firsts = np.empty(ids.size, dtype=bool)
        firsts[0] = True
        np.not_equal(ids[1:], ids[:-1], out=firsts[1:])
        starts = np.nonzero(firsts)[0]
        sums = np.add.reduceat(sc, starts)
        if n_required:
            keep = np.diff(np.append(starts, ids.size)) == n_required
        else:
            keep = sums != 0.0
        return ids[starts][keep], sums[keep]
    ids -= lo
    acc = np.bincount(ids, weights=sc, minlength=span)
    # acc != 0.0 selects what nonzero(acc) does (NaN kept, -0.0 dropped)
    # at a fraction of the cost of nonzero's float scan
    hit = np.flatnonzero(
        np.bincount(ids, minlength=span) == n_required if n_required
        else acc != 0.0)
    return hit + lo, acc[hit]


# per-shard driver aggregation goes thread-parallel past this many total
# postings (below it, pool startup costs more than it saves) on 4
# threads — numpy's scatter/nonzero kernels release the GIL enough
# for ~3x there, and MORE threads regress on memory-bus contention
# (measured on 306x63k-posting shards: seq 0.99 s, 4T 0.31 s, 16T 0.71 s)
_SHARDED_MIN_POSTINGS = 500_000
_SCORE_THREADS = 4


def _resolve_score_chunks(scc: list) -> list:
    """Score chunks may arrive as (weight, array) pairs — the weight
    multiply then happens HERE, inside the per-shard worker thread,
    instead of serially in the collection loop (75M-element multiplies
    for a 5-hot-term query at 20M docs cost ~0.18 s single-threaded).
    int arrays promote to float64 in the multiply, exactly as the
    explicit astype did."""
    return [c[0] * c[1] if isinstance(c, tuple) else c for c in scc]


def _aggregate_scores_sharded(chunks_by_shard: dict, k: int,
                              require_all: int = 0):
    """Driver-path aggregation grouped by shard: each shard's chunks
    (in sorted-term order) aggregate independently — shards PARTITION
    the doc_id space, so every doc's contribution order is unchanged and
    sums stay bit-identical to the flat path — then each shard narrows
    to its >=kth-score candidates (a global top-k doc is necessarily a
    shard top-k doc; >= keeps boundary ties so the doc_id-asc tiebreak
    stays exact downstream in _topk_merge).

    Two wins over one flat span accumulator at large index sizes:
    shard-sized accumulators are cache-resident (65Ki docs x 8 B vs a
    160 MB span for a 20M-doc index), and shards run on a small thread
    pool. Measured at 20M docs / 5 hot terms (96M postings): 1.15 s ->
    ~0.35 s steady. Small queries (< _SHARDED_MIN_POSTINGS) run the
    flat sequential path unchanged."""
    shards = sorted(chunks_by_shard)
    n_total = sum(
        c.size for idc, _ in chunks_by_shard.values() for c in idc
    )

    def agg(idc, scc):
        scc = _resolve_score_chunks(scc)
        return _aggregate_scores(idc, scc, require_all)

    if len(shards) <= 1 or n_total < _SHARDED_MIN_POSTINGS:
        flat_ids = [c for sh in shards for c in chunks_by_shard[sh][0]]
        flat_sc = [c for sh in shards for c in chunks_by_shard[sh][1]]
        return agg(flat_ids, flat_sc)

    def work(sh):
        idc, scc = chunks_by_shard[sh]
        ids, sums = agg(idc, scc)
        if sums.size > k:
            kth = np.partition(sums, -k)[-k]
            m = sums >= kth
            ids, sums = ids[m], sums[m]
        return ids, sums

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(_SCORE_THREADS) as ex:
        res = list(ex.map(work, shards))
    return (
        np.concatenate([r[0] for r in res]),
        np.concatenate([r[1] for r in res]),
    )


class _Rows(dict):
    """A batch of index rows as Python columns: column name -> list of
    the column's values, ``num_rows`` rows. A cell of an integer-list
    column (postings docs/tfs) is a numpy view of the list's values
    (_list_cells); any other cell is what ``to_pylist`` gives. Driver
    point reads return it and every scorer takes it, postings rows with
    a ``doc_len`` column the files do not store: each row's shard's
    document lengths as a DocLens (_attach_doc_lens). ``nbytes`` is the
    bytes of the stored columns as an Arrow table of ``schema`` (the
    read's dataset fields; None infers them), built only when asked."""

    __slots__ = ("num_rows", "schema")

    def __init__(self, cols: dict, num_rows: int, schema=None):
        super().__init__(cols)
        self.num_rows = num_rows
        self.schema = schema

    @property
    def nbytes(self) -> int:
        return pa.Table.from_pydict(self, schema=self.schema).nbytes


def _int_lists(a):
    """(offsets, values) of an integer-list array (a chunked one is
    combined first) as numpy views, or None for any other array.
    ``values`` ignores a slice's offset and ``offsets`` does not, so row
    i is values[offsets[i]:offsets[i+1]]."""
    t = a.type
    if not (pa.types.is_list(t) and pa.types.is_integer(t.value_type)):
        return None
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    return a.offsets.to_numpy(), a.values.to_numpy()


def _list_cells(lists: tuple, rows) -> list:
    """Rows ``rows`` of an _int_lists pair, one numpy view each."""
    off, vals = lists
    return [vals[off[i]:off[i + 1]] for i in rows]


def _table_rows(tbl: pa.Table) -> _Rows:
    """An Arrow table (a Spark task's shard of postings) as the _Rows a
    scorer takes, cell for cell what a driver point read gives: numpy
    views for integer-list columns (_list_cells), one ``to_pylist`` per
    other column."""
    out = {}
    for c in tbl.column_names:
        col = tbl.column(c)
        lists = _int_lists(col)
        out[c] = (col.to_pylist() if lists is None
                  else _list_cells(lists, range(len(col))))
    return _Rows(out, tbl.num_rows, tbl.schema)


#: the postings columns every scorer reads (AND and pruned add
#: ``blocks``, the positional scorers ``poss``); ``doc_len`` is not a
#: stored column but each row's shard's DocLens (_attach_doc_lens)
_POST_COLS = ("shard", "term", "df", "docs", "tfs", "doc_len")


def _attach_doc_lens(rows: _Rows, doc_lens) -> _Rows:
    """Give postings ``rows`` their ``doc_len`` column: the DocLens of
    each row's shard from ``doc_lens(shard)``, called once per distinct
    shard."""
    lens = {s: doc_lens(s) for s in set(rows["shard"])}
    rows["doc_len"] = [lens[s] for s in rows["shard"]]
    return rows


def _term_rows(rows: _Rows, cols: tuple, by_shard: bool = False) -> list:
    """The rows of a postings batch as tuples of ``cols`` (None for a
    column the batch lacks), in a stable sort on term — on (term, shard)
    with ``by_shard``. Scorers walk their rows in this order: it is the
    sorted-term addition order that keeps per-doc float sums identical
    on every path."""
    n = rows.num_rows
    out = list(zip(*(rows[c] if c in rows else [None] * n for c in cols)))
    key = ("term", "shard") if by_shard and "shard" in rows else ("term",)
    out.sort(key=itemgetter(*map(cols.index, key)))
    return out


def _no_hits():
    return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)


def _make_exhaustive_scorer(
    weights: dict[str, float], k1, b, avgdl, k, kind, epoch: tuple | None = None,
    require_all: int = 0,
):
    """kind='bm25': contribution = w * tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl));
    kind='tfidf': contribution = w * tf (reference scorer, tree.rs:445-449).
    ``epoch``: when set, full decoded lists go through the worker-side
    _DECODED_CACHE so repeated hot-term queries skip the decode.
    ``require_all``: >0 switches to conjunctive (AND) semantics — only
    docs containing all ``require_all`` distinct query terms survive
    (an extension beyond the OR-only reference, SURVEY §2.7; scoring of
    survivors is unchanged BM25/TF-IDF).

    Like every scorer here, the returned fn takes the postings rows as
    _Rows (any row order) and returns the top-k as (doc_ids int64,
    scores float64) numpy arrays."""

    def fn(rows: _Rows):
        if rows.num_rows == 0:
            return _no_hits()
        # resolve the cache through the module AT CALL TIME: a direct
        # global reference would be captured BY VALUE by cloudpickle
        # (closures serialize their referenced globals), shipping the
        # driver's cache snapshot inside every task and giving each task
        # a private copy instead of the worker-shared module-level LRU
        cache = None
        if epoch is not None:
            from indexer_spark.query import _DECODED_CACHE as cache
        # pass 1: cache lookups; the rows that miss decode after
        looked, misses = [], []
        for shard, term, df, docs, tfs, lens in _term_rows(rows, _POST_COLS):
            base_key = (
                (epoch, -1 if shard is None else shard, term, df, len(docs))
                if cache is not None else None
            )
            hit = cached = None
            if kind == "bm25" and base_key is not None:
                # the tf-normalization part is QUERY-INDEPENDENT (idf is
                # the only per-query factor), so cache (doc_ids, normpart)
                # once per (term, shard, epoch) — a repeat hot-term query
                # pays only the weighted accumulate, not decode or the
                # BM25 arithmetic. avgdl/k1/b changes bump the epoch.
                hit = cache.get(base_key + (-2,))
            if hit is None and base_key is not None:
                cached = cache.get(base_key + (-1,))
            miss = None
            if hit is None and cached is None:
                miss = len(misses)
                misses.append((docs, tfs, lens, df))
            looked.append((weights[term], base_key, hit, cached, miss))
        decoded = _decode_rows(misses)
        # pass 2: contributions in sorted-term order (pins float order)
        id_chunks, sc_chunks = [], []
        for w, base_key, hit, cached, miss in looked:
            if hit is not None:
                d, normpart = hit
                id_chunks.append(d)
                sc_chunks.append(w * normpart)
                continue
            if cached is None:
                cached = decoded[miss]
                # bm25 repeats only ever read the compact -2 normpart
                # entry below — storing the raw tuple too would spend
                # ~60% of cache capacity on entries nothing reads
                if base_key is not None and kind != "bm25":
                    cache.put(base_key + (-1,), cached)
            d, t, dl = cached
            tf = t.astype(np.float64)
            if kind == "bm25":
                normpart = _bm25_normpart(tf, dl, k1, b, avgdl)
                if base_key is not None:
                    cache.put(base_key + (-2,), (d, normpart))
                contrib = w * normpart
            else:
                contrib = w * tf
            id_chunks.append(d)
            sc_chunks.append(contrib)
        uids, sums = _aggregate_scores(id_chunks, sc_chunks, require_all)
        if kind == "tfidf":
            keep = sums != 0.0  # P8: drop exact-zero scores (tree.rs:456-459)
            uids, sums = uids[keep], sums[keep]
        return _topk_merge(uids, sums, k)

    return fn


def _make_and_scorer(
    idf: dict[str, float], k1, b, avgdl, k, block_size,
    n_required: int, epoch: tuple | None = None,
):
    """Candidate-driven conjunctive (AND) scorer.

    The conjunction is evaluated shard-locally (doc-range sharding keeps
    ALL of a doc's postings in its shard): a query term absent from the
    shard empties it without decoding a byte. Otherwise the rarest term
    is decoded in full to seed the candidate set, and every wider term
    decodes ONLY the blocks whose doc-id range covers a still-alive
    candidate (exact block metadata — last_doc_id — no score bounds
    involved, so avgdl drift is irrelevant here). A selective AND query
    therefore touches O(df_rarest) postings of a hot term instead of all
    of them. Survivor scores use the same per-element arithmetic and
    sorted-term addition order as the exhaustive AND accumulator
    (_aggregate_scores with n_required), so results are bit-identical to
    mode-exhaustive conjunction; blocks go through the worker-side
    decoded LRU under the pruned scorer's exact keys."""
    small_shard = SMALL_SHARD_THRESHOLD
    exhaustive = _make_exhaustive_scorer(
        idf, k1, b, avgdl, k, "bm25", epoch=epoch, require_all=n_required
    )

    def fn(rows: _Rows):
        if rows.num_rows == 0 or len(set(rows["term"])) < n_required:
            return _no_hits()
        if sum(rows["df"]) < small_shard:
            return exhaustive(rows)
        gcache = None
        if epoch is not None:
            from indexer_spark.query import _DECODED_CACHE as gcache
        shard = rows["shard"][0]
        terms = []
        for _sh, term, df, docs, tfs, lens, blocks in _term_rows(
                rows, _POST_COLS + ("blocks",)):
            terms.append({
                "term": term, "df": df, "docs": docs,
                "tfs": tfs, "lens": lens, "blocks": blocks,
                "lasts": np.array(
                    [blk["last_doc_id"] for blk in blocks], dtype=np.int64
                ),
                "w": idf[term], "cache": {},
                "ckey": (
                    (epoch, shard, term, df, len(docs))
                    if epoch is not None else None
                ),
            })

        def block(t, bi):
            cached = t["cache"].get(bi)
            if cached is None:
                gkey = (
                    t["ckey"] + (bi,)
                    if (t["ckey"] is not None and gcache is not None)
                    else None
                )
                cached = gcache.get(gkey) if gkey else None
                if cached is None:
                    cached = decode_block_slice(
                        t["docs"], t["tfs"], t["lens"], t["blocks"],
                        bi, bi + 1, t["df"], block_size=block_size,
                    )
                    if gkey is not None:
                        gcache.put(gkey, cached)
                t["cache"][bi] = cached
            return cached

        by_df = sorted(
            range(len(terms)), key=lambda i: (terms[i]["df"], terms[i]["term"])
        )
        t0 = terms[by_df[0]]
        cand = (
            np.concatenate(
                [block(t0, bi)[0] for bi in range(len(t0["blocks"]))]
            )
            if t0["blocks"] else np.zeros(0, dtype=np.int64)
        )
        for ti in by_df[1:]:
            if cand.size == 0:
                return _no_hits()
            t = terms[ti]
            bis = np.searchsorted(t["lasts"], cand)
            valid = bis < t["lasts"].size  # past the term's last doc
            present = np.zeros(cand.size, dtype=bool)
            for bi in np.unique(bis[valid]):
                d = block(t, int(bi))[0]
                sel = valid & (bis == bi)
                pos = np.searchsorted(d, cand[sel])
                ok = pos < d.size
                hit = np.zeros(int(sel.sum()), dtype=bool)
                hit[ok] = d[pos[ok]] == cand[sel][ok]
                present[sel] = hit
            cand = cand[present]
        if cand.size == 0:
            return _no_hits()

        score = np.zeros(cand.size, dtype=np.float64)
        for t in terms:  # sorted-term order pins float addition order
            contrib = np.empty(cand.size, dtype=np.float64)
            bis = np.searchsorted(t["lasts"], cand)
            for bi in np.unique(bis):
                d, tf, dl = block(t, int(bi))
                sel = bis == bi
                pos = np.searchsorted(d, cand[sel])
                tfv = tf[pos].astype(np.float64)
                contrib[sel] = t["w"] * _bm25_normpart(
                    tfv, dl[pos], k1, b, avgdl)
            score += contrib
        return _topk_merge(cand, score, k)

    return fn


def _positions_slice(pos: np.ndarray, starts: np.ndarray,
                     tfs: np.ndarray, sel: np.ndarray):
    """Select docs' position lists out of a FULL decoded (pos, starts)
    pair — value-identical to decode_positions_select on the raw blob,
    but a pure gather (no varint arithmetic). Returns (flat positions,
    segment starts) in ``sel`` order with len(sel)+1 starts."""
    tfs = np.asarray(tfs, dtype=np.int64)
    sel = np.asarray(sel, dtype=np.int64)
    out_tfs = tfs[sel] if sel.size else np.zeros(0, dtype=np.int64)
    starts_out = np.concatenate(([0], np.cumsum(out_tfs))).astype(np.int64)
    total = int(starts_out[-1])
    if total == 0:
        return np.zeros(0, dtype=np.int64), starts_out
    gather = (
        np.arange(total, dtype=np.int64)
        - np.repeat(starts_out[:-1], out_tfs)
        + np.repeat(starts[sel], out_tfs)
    )
    return pos[gather], starts_out


class _FastCacheMiss(Exception):
    """A cache-fed scorer pass hit a row whose payload was LRU-evicted;
    the caller falls back to the (always-correct) reading path."""


def _decode_rows(rows: list) -> list:
    """Decode many postings rows: ``rows`` holds (docs, tfs, doc_len,
    df) payloads, doc_len the row's shard's DocLens; returns one
    (doc_ids, tfs, dls) tuple per row, in row order, each array owning
    its memory (decode_postings). A ``None`` docs payload (a cache-fed
    pass whose entry was evicted) raises _FastCacheMiss."""
    if any(r[0] is None for r in rows):
        raise _FastCacheMiss()
    return [decode_postings(docs, tfs, lens, int(df))
            for docs, tfs, lens, df in rows]


def _merged_key(epoch, term: str, shard_rows) -> tuple:
    """The decoded-LRU key of a term's merged entry: one (epoch, shard,
    term, df, payload length) per (shard, df, payload length) of
    ``shard_rows``, in shard order. A one-shard task's key has one
    element."""
    return tuple((epoch, sh, term, df, plen) for sh, df, plen in shard_rows)


#: decode a positional term's WHOLE payload (and keep it, slot -3) only
#: once its conjunction holds at least 1/this of the term's docs: hot-term
#: queries whose candidates cover the term then gather every pass and
#: every repeat from one decode, while a selective conjunction decodes
#: only its candidates' lists (decode_positions_select) from the raw blob
_POSS_FULL_MIN_FRACTION = 4
#: ... and only while that decode stays within 1/this of the decoded
#: LRU's cap, so one term's positions never flush the cache
_POSS_FULL_MAX_SHARE = 8


def _joined(blobs: list) -> bytes:
    """A term's positions payload over all its shard rows: the rows'
    blobs joined in shard order. Each blob is the doc-ordered
    concatenation of per-doc lists and shards partition the doc ids in
    shard order, so the join is the merged term's payload for its merged
    tfs."""
    return blobs[0] if len(blobs) == 1 else b"".join(blobs)


def _decode_merged_terms(rows: _Rows, epoch, pos_terms=()) -> dict:
    """Decode the postings rows of ``rows`` and MERGE same-term rows
    across shards into one entry per term with globally sorted doc
    arrays — valid because shards partition the doc-id space in shard
    order (offset[s+1] = offset[s] + count[s]), so concatenating a
    term's per-shard lists in numeric shard order yields one sorted
    unique doc array (guarded: a non-monotonic merge fails loudly). This
    is what lets the driver fast path evaluate a many-shard index in ONE
    pass instead of per-shard (at 306 shards the per-group fixed cost
    dominated the whole query); a distributed per-shard task runs the
    same code with one row per term.

    With ``epoch`` set, a term's merged (docs, tfs, dls) is ONE
    decoded-LRU entry (slot -1 under _merged_key), so a repeat does no
    per-row lookup, no concatenation and no monotonicity check; the
    missed rows decode in one _decode_rows batch. A term of
    ``pos_terms`` carries its decoded positions (slot -3) when those are
    resident, else its shard rows' raw blobs, which a reading pass also
    keeps (slot -4, uint8 views, no copy) so a repeat reads no parquet.
    Nothing decodes positions here: verification does, on demand
    (_entry_positions), so an empty conjunction never touches them.

    Returns term -> dict(docs/tfs/dls, and for the terms of
    ``pos_terms`` ``key``, ``pos`` (positions, starts) or None, and
    ``blobs``) in ascending-term order."""
    cache = None
    if epoch is not None:
        from indexer_spark.query import _DECODED_CACHE as cache
    groups: dict[str, list] = {}
    for shard, term, df, docs, tfs, lens, poss, plen in _term_rows(
            rows, _POST_COLS + ("poss", "plen"), by_shard=True):
        groups.setdefault(term, []).append((
            -1 if shard is None else shard, df,
            plen if docs is None else len(docs), (docs, tfs, lens, df),
            poss))
    looked, misses = [], []
    for term, grp in groups.items():  # dict order == ascending term
        key = hit = None
        if cache is not None:
            key = _merged_key(epoch, term, [g[:3] for g in grp])
            hit = cache.get((key, -1))
        if hit is None:
            # a None payload (cache-fed pass, entry evicted) raises
            # _FastCacheMiss in _decode_rows
            misses += [g[3] for g in grp]
        looked.append((term, grp, key, hit))
    decoded = iter(_decode_rows(misses))
    entries: dict[str, dict] = {}
    for term, grp, key, hit in looked:
        if hit is None:
            parts = [next(decoded) for _ in grp]
            hit = parts[0]
            if len(parts) > 1:
                d = np.concatenate([p[0] for p in parts])
                if (np.diff(d) <= 0).any():
                    raise RuntimeError(
                        "per-shard doc ranges overlap or are out of order; "
                        "cannot merge postings across shards"
                    )
                hit = (d, np.concatenate([p[1] for p in parts]),
                       np.concatenate([p[2] for p in parts]))
            if cache is not None:
                cache.put((key, -1), hit)
        e = entries[term] = dict(zip(("docs", "tfs", "dls"), hit))
        if term in pos_terms:
            e["key"], e["pos"] = key, None
            e["blobs"] = blobs = [g[4] for g in grp]
            if cache is not None:
                e["pos"] = cache.get((key, -3))
                if e["pos"] is not None:
                    continue
                if any(b is None for b in blobs):  # cache-fed pass
                    blobs = cache.get((key, -4))
                    if blobs is None:
                        raise _FastCacheMiss()
                    e["blobs"] = list(blobs)
                else:
                    cache.put((key, -4), tuple(
                        np.frombuffer(b, dtype=np.uint8) for b in blobs))
    return entries


def _entry_positions(entry: dict, sel: np.ndarray, n_cand: int):
    """(positions, starts) of the ``sel``-indexed docs of a term entry,
    in ``sel`` order, for a verification over ``n_cand`` conjunction
    candidates: one gather (_positions_slice) from the term's decoded
    positions. A term without them decodes its raw payload: whole, once,
    when the candidates cover enough of its docs and the result fits
    the LRU (_POSS_FULL_MIN_FRACTION, _POSS_FULL_MAX_SHARE), kept on the
    entry and, with a cache ``key``, in the decoded LRU's slot -3 in
    place of the raw blobs' slot -4; otherwise only the selected docs'
    lists (decode_positions_select). Value-identical either way."""
    tfs = entry["tfs"]
    if entry["pos"] is None:
        blob = _joined(entry["blobs"])
        entry["blobs"] = [blob]
        n_docs = entry["docs"].size
        if (n_cand * _POSS_FULL_MIN_FRACTION < n_docs
                or 8 * (len(blob) + n_docs + 1) * _POSS_FULL_MAX_SHARE
                > _DECODED_CACHE.max_bytes):
            return decode_positions_select(blob, tfs, sel)
        entry["pos"] = decode_positions(blob, tfs)
        if entry["key"] is not None:
            _DECODED_CACHE.put((entry["key"], -3), entry["pos"])
            _DECODED_CACHE.discard((entry["key"], -4))
    return _positions_slice(*entry["pos"], tfs, sel)


def _conjunction(entries: dict):
    """The docs every term entry holds, ascending, and per term the
    index of each of them in the term's docs. Intersects smallest term
    first, by binary search into each wider term's sorted docs; each
    search's indices are kept (and narrowed with the candidates), so
    every term is searched once."""
    order = sorted(entries, key=lambda t: entries[t]["docs"].size)
    cand = entries[order[0]]["docs"]
    sel = {order[0]: np.arange(cand.size)}
    for t in order[1:]:
        d = entries[t]["docs"]
        if cand.size == 0 or d.size == 0:
            return cand[:0], {u: np.zeros(0, dtype=np.int64)
                              for u in entries}
        i = np.minimum(np.searchsorted(d, cand), d.size - 1)
        hit = d[i] == cand
        cand = cand[hit]
        sel = {u: v[hit] for u, v in sel.items()}
        sel[t] = i[hit]
    return cand, sel


def _conjunction_scores(entries: dict, sel: dict, idf, k1, b,
                        avgdl) -> np.ndarray:
    """BM25 of the conjunction's docs (_conjunction) over every term,
    in sorted-term addition order with the arithmetic of every other
    mode."""
    score = np.zeros(next(iter(sel.values())).size, dtype=np.float64)
    for t, e in entries.items():  # ascending term pins float order
        s = sel[t]
        score += idf[t] * _bm25_normpart(
            e["tfs"][s].astype(np.float64), e["dls"][s], k1, b, avgdl)
    return score


def _verified_top_k(cand: np.ndarray, score: np.ndarray, k, verify):
    """Top-k by (score desc, doc_id asc) of the candidates that
    ``verify`` keeps (it takes indices into ``cand`` and returns a keep
    mask), verifying in that same order: the best 8·k candidates first,
    then growing prefixes ×4 per pass (a partition plus a lexsort of the
    prefix, _top_order), until k match or none is left. Exact: every
    unverified candidate ranks after every verified one, so none can
    displace the k-th match. ``cand`` is ascending, so the index
    tiebreak is the doc_id one. ``k`` None, or k >= the candidate count,
    verifies everything in one pass."""
    n = cand.size
    if k is None or k >= n:
        keep = verify(np.arange(n))
        return _topk_merge(cand[keep], score[keep], None)
    found, n_found = [], 0
    top, m = np.zeros(0, dtype=np.int64), 8 * k
    while n_found < k and top.size < n:
        if m < n:
            nxt = _top_order(cand, score, m)
            new = nxt[top.size:]
        else:  # the last pass: every candidate not yet verified
            rest = np.ones(n, dtype=bool)
            rest[top] = False
            new, nxt = np.flatnonzero(rest), np.arange(n)
        hit = new[verify(new)]
        found.append(hit)
        n_found += hit.size
        top, m = nxt, 4 * m
    hit = np.concatenate([top[:0], *found])
    return _topk_merge(cand[hit], score[hit], k)


def _phrase_keep(cand_size: int, p_of: dict, qoff: dict,
                 anchor_t: str) -> np.ndarray:
    """Vectorized phrase verification ACROSS candidates (the same
    label*stride+pos encoding the NEAR scorer uses — a per-candidate
    Python loop costs ~0.25 s at just 8k candidates): candidate ci
    matches iff some anchor occurrence, shifted to a phrase start, has
    every (term, offset) pair present at start+offset in the same doc.

    ``p_of``: term -> (positions, starts) in CANDIDATE order
    (_entry_positions); ``qoff``: term -> query offsets. Negative
    phrase starts are legal (a stop-word-led phrase can overhang
    position 0 — same semantics as the oracle's phrase_match); the
    max_off shift keeps every key non-negative."""
    a_pos, a_starts = p_of[anchor_t]
    a_off = int(qoff[anchor_t][0])
    labels = np.arange(cand_size, dtype=np.int64)
    lbl_a = np.repeat(labels, np.diff(a_starts))
    max_off = max(int(o) for offs in qoff.values() for o in offs)
    max_pos = 0
    for t in qoff:
        p = p_of[t][0]
        if p.size:
            max_pos = max(max_pos, int(p.max()))
    stride = np.int64(max_pos + 2 * max_off + 2)
    starts_keys = lbl_a * stride + (a_pos - a_off + max_off)
    ok = np.ones(starts_keys.size, dtype=bool)
    for t, offs in qoff.items():
        p, st = p_of[t]
        tk = np.repeat(labels, np.diff(st)) * stride + p + max_off
        for off in offs:
            off = int(off)
            if t == anchor_t and off == a_off:
                continue
            tgt = starts_keys + off
            i = np.searchsorted(tk, tgt)
            ic = np.minimum(i, max(tk.size - 1, 0))
            ok &= (i < tk.size) & (tk[ic] == tgt)
    keep = np.zeros(cand_size, dtype=bool)
    keep[lbl_a[ok]] = True
    return keep


def _near_keep(cand_size: int, p_of: list, window: int) -> np.ndarray:
    """Vectorized NEAR verification ACROSS candidates (no per-doc Python
    loop — measured 8k-candidate loops already cost ~0.25 s, a
    non-starter at engine scale): span(min-cover) <= window iff some
    occurrence p (the cover's minimum) has every term occurring in
    [p, p+window]. Each occurrence is encoded as candidate_label*stride
    + pos; stride > max_pos + window keeps windows from leaking across
    docs, so one searchsorted per term answers "does t occur in
    [p, p+window] of the same doc" for ALL start candidates at once.

    ``p_of``: one (positions, starts) per term, in CANDIDATE order."""
    labels = np.arange(cand_size, dtype=np.int64)
    lbls = [np.repeat(labels, np.diff(st)) for _p, st in p_of]
    max_pos = max((int(p.max()) for p, _st in p_of if p.size), default=0)
    w_eff = min(int(window), max_pos + 1)  # span never exceeds it
    stride = np.int64(max_pos + w_eff + 2)
    keys = [lbl * stride + p for lbl, (p, _st) in zip(lbls, p_of)]
    starts_all = np.concatenate(keys)
    ok = np.ones(starts_all.size, dtype=bool)
    for key in keys:
        i = np.searchsorted(key, starts_all)
        ic = np.minimum(i, key.size - 1)
        ok &= (i < key.size) & (key[ic] <= starts_all + w_eff)
    keep = np.zeros(cand_size, dtype=bool)
    keep[starts_all[ok] // stride] = True
    return keep


def _make_phrase_scorer(
    idf: dict[str, float], k1, b, avgdl, k, qoffsets: dict,
    epoch: tuple | None = None,
):
    """Positional phrase scorer (requires an index built with
    ``BuildConfig(positions=True)``; no reference analog — the reference
    is OR-only, SURVEY §2.7).

    ``qoffsets``: term -> int64 array of that term's offsets within the
    query's raw token stream. Stop-word slots keep their offsets on both
    sides, so "state of the art" matches documents across the dropped
    "of the" gap exactly; a repeated query term contributes one offset
    per occurrence and every one must align.

    Shard-local like the AND scorer (doc-range sharding keeps a doc's
    postings together): candidate docs come from the conjunction
    (_conjunction), every candidate scores standard BM25 over the
    phrase terms (sorted-term addition order, same arithmetic as every
    other mode), and candidates then verify positionally in score order
    until k match (_verified_top_k): anchor occurrences of the rarest
    term shift to phrase-start candidates and every other (term, offset)
    pair intersects them (_phrase_keep), on the candidates' positions
    of each term (_entry_positions).

    The returned scorer's ``pos_terms`` names the terms whose positions
    it reads; the positional scorers below carry the same attribute."""
    n_required = len(qoffsets)
    pos_terms = frozenset(qoffsets)

    def fn(rows: _Rows):
        if rows.num_rows == 0 or len(set(rows["term"])) < n_required:
            return _no_hits()
        # decode + merge same-term rows across shards (one entry per
        # term, globally sorted docs): the driver fast path feeds this
        # fn the WHOLE matched table in one call on many-shard indexes
        entries = _decode_merged_terms(rows, epoch, pos_terms)
        cand, sel = _conjunction(entries)
        if cand.size == 0:
            return _no_hits()
        anchor = min(entries, key=lambda t: entries[t]["docs"].size)

        def verify(sub):
            p_of = {t: _entry_positions(e, sel[t][sub], cand.size)
                    for t, e in entries.items()}
            return _phrase_keep(sub.size, p_of, qoffsets, anchor)

        score = _conjunction_scores(entries, sel, idf, k1, b, avgdl)
        return _verified_top_k(cand, score, k, verify)

    fn.pos_terms = pos_terms
    return fn


def _make_near_scorer(
    idf: dict[str, float], k1, b, avgdl, k, window: int,
    epoch: tuple | None = None,
):
    """Positional proximity (NEAR) scorer: docs where ALL distinct query
    terms co-occur within a ``window``-token span of the raw post-lex
    token stream (min-cover: some occurrence of each term with
    max(pos) - min(pos) <= window). Unordered — phrase's alignment
    constraint relaxed to co-occurrence — so window=0 means same slot
    (never true across distinct terms) and window >= doc length
    degenerates to AND. Requires ``BuildConfig(positions=True)``; no
    reference analog (the reference is OR-only, SURVEY §2.7).

    Shard-local like the phrase scorer, and like it scores every
    conjunction candidate (standard BM25 over the distinct terms) before
    verifying them in score order until k match (_verified_top_k,
    _near_keep)."""
    n_required = len(idf)
    pos_terms = frozenset(idf) if n_required > 1 else frozenset()

    def fn(rows: _Rows):
        if rows.num_rows == 0 or len(set(rows["term"])) < n_required:
            return _no_hits()
        entries = _decode_merged_terms(rows, epoch, pos_terms)
        cand, sel = _conjunction(entries)
        if cand.size == 0:
            return _no_hits()
        score = _conjunction_scores(entries, sel, idf, k1, b, avgdl)
        if not pos_terms:
            return _topk_merge(cand, score, k)

        def verify(sub):
            return _near_keep(sub.size,
                              [_entry_positions(e, sel[t][sub], cand.size)
                               for t, e in entries.items()], window)

        return _verified_top_k(cand, score, k, verify)

    fn.pos_terms = pos_terms
    return fn


def _make_bool_scorer(
    pq, idf: dict[str, float], k1, b, avgdl, k,
    epoch: tuple | None = None,
):
    """Boolean-query scorer (see boolquery.py for the language): shard-
    local set algebra over decoded doc arrays — intersect AND groups
    ascending-size, union OR branches, setdiff NOT restrictions — with
    quoted phrases positionally verified exactly like mode='phrase'
    (every conjunction candidate of the phrase: a phrase under NOT has
    no score order to stop by). Exact per shard because doc-range
    sharding keeps a doc's postings together: a doc's membership of ANY
    term (negated ones included) is decidable inside its own shard.
    Matching docs score standard BM25 over the distinct positive terms
    they contain (sorted-term addition order); negated terms never
    score. No reference analog (the reference is OR-only, SURVEY §2.7)."""
    from .boolquery import eval_docs

    pos_terms = frozenset(pq.phrase_terms)

    def fn(rows: _Rows):
        if rows.num_rows == 0:
            return _no_hits()
        data = _decode_merged_terms(rows, epoch, pos_terms)
        term_docs = {t: e["docs"] for t, e in data.items()}
        no_docs = np.empty(0, dtype=np.int64)

        def phrase_fn(ph):
            if any(t not in data for t in ph.terms):
                return no_docs
            ents = {t: data[t] for t in sorted(set(ph.terms))}
            cand, sel = _conjunction(ents)
            if cand.size == 0:
                return no_docs
            qoff: dict[str, list[int]] = {}
            for t, o in ph.qoffsets:
                qoff.setdefault(t, []).append(o)
            anchor = min(ents, key=lambda t: ents[t]["docs"].size)
            p_of = {t: _entry_positions(e, sel[t], cand.size)
                    for t, e in ents.items()}
            return cand[_phrase_keep(cand.size, p_of, qoff, anchor)]

        cand = eval_docs(pq.root, term_docs, phrase_fn)
        if cand.size == 0:
            return _no_hits()

        score = np.zeros(cand.size, dtype=np.float64)
        for t in sorted(idf):  # sorted-term order pins float addition
            e = data.get(t)
            if e is None or e["docs"].size == 0:
                continue
            pos_in = np.searchsorted(e["docs"], cand)
            pos_c = np.minimum(pos_in, e["docs"].size - 1)
            mask = e["docs"][pos_c] == cand
            tfv = e["tfs"][pos_c].astype(np.float64)
            contrib = idf[t] * _bm25_normpart(
                tfv, e["dls"][pos_c], k1, b, avgdl
            )
            score += np.where(mask, contrib, 0.0)
        return _topk_merge(cand, score, k)

    fn.pos_terms = pos_terms
    return fn


def _score_batch(hits) -> pa.RecordBatch:
    """A scorer's (doc_ids, scores) as one ``_SCORE_SCHEMA`` batch."""
    return pa.record_batch([pa.array(hits[0], pa.int64()),
                            pa.array(hits[1], pa.float64())],
                           names=["doc_id", "score"])


def _shard_grouped(scorer, doc_lens):
    """mapInArrow wrapper: concatenate a task's Arrow batches into one
    table, then run the per-shard scorer ONCE per shard present, on all
    of that shard's rows (converted once, _table_rows, with the shard's
    DocLens from ``doc_lens``), yielding one doc_id/score batch per
    shard. The grouping is a stable take of each
    shard's row indices, not a slice: after append_index one task can
    hold a shard's files apart, so its rows need not be contiguous.
    Correct ONLY when a shard's matched
    postings rows all land in one task — IndexReader pins
    spark.sql.files.maxPartitionBytes above the largest committed
    postings file (recorded in stats.json) to enforce that, and falls
    back to the groupBy(shard) exchange when it cannot. Scoring happens
    where the data lives: a hot term's postings bytes are never
    shuffled, which is the difference between a query-time exchange of
    GBs and none at 10^12-doc scale."""

    def fn(batches):
        acc = [b for b in batches if b.num_rows]
        if not acc:
            return
        whole = pa.Table.from_batches(acc)
        shard = whole.column("shard").to_numpy()
        for sh in dict.fromkeys(shard.tolist()):
            rows = _table_rows(whole.take(np.flatnonzero(shard == sh)))
            yield _score_batch(scorer(_attach_doc_lens(rows, doc_lens)))

    return fn


class _TaskDocLens:
    """A Spark task's ``doc_lens``: shard -> its DocLens, read with
    pyarrow from that shard's own tok directory only (the ``local_idx``
    key and ``doc_len`` projected, through the worker's _CHUNK_CACHE),
    so no task reads another shard's docstore and none is broadcast or
    joined. Pickled into the scoring tasks with the tok root and the
    snapshot's shard offsets."""

    def __init__(self, tok_root: str, offsets: dict):
        self.tok_root = tok_root
        self.offsets = offsets

    def __call__(self, shard: int) -> DocLens:
        tok = _FileIndex(os.path.join(self.tok_root, f"shard={shard}"),
                         "local_idx", False)
        return DocLens(self.offsets[shard], tok.runs("doc_len"))


def _make_pruned_scorer(
    idf: dict[str, float], k1, b, avgdl, k, block_size,
    shard_ub_scale: dict[int, float] | None = None,
    epoch: tuple | None = None,
):
    """Block-max safe pruning (BM25 only), segment-at-a-time.

    Segments are doc_id ranges delimited by the union of all query terms'
    block boundaries; each segment's upper bound is
    sum_t idf_t*(k1+1)*max_norm(block_t covering segment). Segments are
    scored exactly in descending upper-bound order; once the k-th best
    exact score >= the next upper bound, the rest are skipped without
    decoding.

    ``shard_ub_scale`` handles appended indexes: a shard built when the
    corpus avgdl was smaller has stored max_norms that can under-estimate
    today's norms; scaling its upper bounds by avgdl_now/avgdl_build
    restores safety (norm(a_now)/norm(a_build) < a_now/a_build)."""

    small_shard = SMALL_SHARD_THRESHOLD  # captured at scorer creation
    exhaustive = _make_exhaustive_scorer(idf, k1, b, avgdl, k, "bm25", epoch=epoch)

    def fn(rows: _Rows):
        if rows.num_rows == 0:
            return _no_hits()
        if sum(rows["df"]) < small_shard:
            return exhaustive(rows)
        # runtime import, NOT a global reference: see exhaustive scorer
        gcache = None
        if epoch is not None:
            from indexer_spark.query import _DECODED_CACHE as gcache
        shard = rows["shard"][0]
        ub_scale = 1.0
        if shard_ub_scale:
            ub_scale = shard_ub_scale.get(shard, 1.0)
        terms = []
        for _sh, term, df, docs, tfs, lens, blocks in _term_rows(
                rows, _POST_COLS + ("blocks",)):
            lasts = np.array([blk["last_doc_id"] for blk in blocks], dtype=np.int64)
            norms = np.array([blk["max_norm"] for blk in blocks], dtype=np.float64)
            terms.append({
                "term": term, "df": df, "docs": docs,
                "tfs": tfs, "lens": lens, "blocks": blocks,
                "lasts": lasts,
                "ub": idf[term] * (k1 + 1.0) * np.minimum(norms * ub_scale, 1.0),
                "w": idf[term], "cache": {},
                # worker-side LRU key base (persists across queries)
                "ckey": (
                    (epoch, shard, term, df, len(docs))
                    if epoch is not None else None
                ),
            })

        # segment boundaries: union of block last_doc_ids across terms
        bounds = np.unique(np.concatenate([t["lasts"] for t in terms]))
        n_seg = bounds.size
        seg_ub = np.zeros(n_seg, dtype=np.float64)
        # per term, the block covering each segment (== searchsorted index)
        seg_block = []
        for t in terms:
            bi = np.searchsorted(t["lasts"], bounds)  # block idx or n_blocks
            seg_block.append(bi)
            valid = bi < t["lasts"].size
            seg_ub[valid] += t["ub"][bi[valid]]

        order = np.argsort(-seg_ub, kind="stable")
        pool_ids = np.zeros(0, dtype=np.int64)
        pool_sc = np.zeros(0, dtype=np.float64)
        theta = -math.inf

        for si in order:
            if pool_ids.size >= k and seg_ub[si] < theta:
                break  # no remaining segment can beat the k-th score
            lo = int(bounds[si - 1]) + 1 if si > 0 else 0
            hi = int(bounds[si])
            id_chunks, sc_chunks = [], []
            for ti, t in enumerate(terms):
                bi = int(seg_block[ti][si])
                if bi >= t["lasts"].size:
                    continue
                cached = t["cache"].get(bi)
                if cached is None:
                    gkey = (
                        t["ckey"] + (bi,)
                        if (t["ckey"] is not None and gcache is not None)
                        else None
                    )
                    cached = gcache.get(gkey) if gkey else None
                    if cached is None:
                        cached = decode_block_slice(
                            t["docs"], t["tfs"], t["lens"], t["blocks"],
                            bi, bi + 1, t["df"], block_size=block_size,
                        )
                        if gkey is not None:
                            gcache.put(gkey, cached)
                    t["cache"][bi] = cached
                d, tf, dl = cached
                s_idx = np.searchsorted(d, lo, side="left")
                e_idx = np.searchsorted(d, hi, side="right")
                if s_idx == e_idx:
                    continue
                tfv = tf[s_idx:e_idx].astype(np.float64)
                contrib = t["w"] * _bm25_normpart(
                    tfv, dl[s_idx:e_idx], k1, b, avgdl)
                id_chunks.append(d[s_idx:e_idx])
                sc_chunks.append(contrib)
            if not id_chunks:
                continue
            uids, sums = _aggregate_scores(id_chunks, sc_chunks)
            pool_ids = np.concatenate([pool_ids, uids])
            pool_sc = np.concatenate([pool_sc, sums])
            pool_ids, pool_sc = _topk_merge(pool_ids, pool_sc, k)
            if pool_ids.size >= k:
                theta = pool_sc[-1]
        return pool_ids, pool_sc

    return fn


def _narrow_wire(a: np.ndarray) -> np.ndarray:
    """Smallest unsigned dtype holding ``a`` losslessly (warm-broadcast
    arrays are non-negative: cumsum'd doc ids, tfs, dls) — shrinks the
    pickled wire bytes ~3-6x; _warm_install_entries widens back to the
    int64 the decoders produce, so installed entries are value- AND
    dtype-identical to a lazy decode_block_slice."""
    if a.size and int(a.min()) < 0:
        return a  # unsigned narrowing would wrap a negative value
    m = int(a.max()) if a.size else 0
    for dt in (np.uint8, np.uint16, np.uint32):
        if m <= np.iinfo(dt).max:
            return a.astype(dt)
    return a


def _warm_install_entries(payload, block_size: int,
                          budget_bytes: int) -> int:
    """Worker-side half of IndexReader.warm_worker_caches: widen each
    wire-narrowed per-(shard, term) array back to int64 (one vectorized
    astype; see _narrow_wire), slice at block boundaries (views, no
    copies) and install them into THIS process's module-level
    _DECODED_CACHE, under the same keys the pruned distributed scorer
    looks up (ckey + block_idx). Runs inside a Spark task — the module
    instance here is the worker's own, so entries persist across tasks
    and queries for the worker's lifetime. ``payload`` is a list of
    (ckey, d, tf, dl) with arrays already cut to whole shipped blocks.
    Returns blocks installed (or already present)."""
    cache = _DECODED_CACHE
    # worker cap raise is sticky for the worker's lifetime — deliberate:
    # a warmed worker pool IS the deployment (per-executor cache sizing
    # is cluster config, not per-reader state like the driver's)
    if cache.max_bytes < budget_bytes + (64 << 20):
        cache.max_bytes = budget_bytes + (64 << 20)
    warmed = 0
    for ckey, d, tf, dl in payload:
        d = d.astype(np.int64, copy=False)
        tf = tf.astype(np.int64, copy=False)
        dl = dl.astype(np.int64, copy=False)
        n = d.size
        for bi in range((n + block_size - 1) // block_size):
            s = bi * block_size
            e = min(s + block_size, n)
            key = ckey + (bi,)
            if cache.get(key) is None:
                cache.put(key, (d[s:e], tf[s:e], dl[s:e]))
            warmed += 1
    return warmed


#: byte budget of _CHUNK_CACHE. Every column chunk the serving paths of
#: a 25,000-turn index touch (term_stats, postings, tok) fits in ~5 MB.
CHUNK_CACHE_BYTES = 64 << 20

# what the driver point reads keep: one _RowGroup per (path, mtime_ns,
# size, row_group, dataset types). A separate instance, so
# _DECODED_CACHE keeps holding decoded postings only.
_CHUNK_CACHE = _DecodedLRU(CHUNK_CACHE_BYTES)
# serializes replacing a _CHUNK_CACHE record by a wider one (_row_group)
_WIDEN_LOCK = _threading.Lock()


class _File(NamedTuple):
    """One parquet file of a _FileIndex."""
    path: str
    shard: int | None        # hive partition value (None: unpartitioned)
    ident: tuple[int, int]   # (mtime_ns, size) when the footer was read
    md: object               # pyarrow.parquet.FileMetaData
    names: frozenset         # stored top-level column names
    ranges: list             # per row group: (min, max) of the key,
    #                          None (no stats: always read) or False (empty)


class _RowGroup(NamedTuple):
    """_CHUNK_CACHE's record of one row group: its columns decoded so
    far, conformed to the dataset types, as one Arrow array per column
    name (looked up by name, without a Table.column call per read); the
    _views of its columns by name, numpy views sharing the arrays'
    buffers that read cells without pyarrow scalars; its row count; and the key
    index built when the key column was decoded (None until then). The
    index is
      - a string key's sorted values as a list (searched by bisect),
      - an int, the first key, when an integer key is dense (last -
        first = rows - 1): a key's row is key - first,
      - any other integer key's column as a numpy view (searchsorted).
    ``nbytes`` is the arrays' bytes plus what the index holds beyond
    them: the list and its str objects (an int or a view holds none)."""
    arrays: dict
    views: dict
    n: int
    index: object
    nbytes: int


class UnsortedIndexError(RuntimeError):
    """An index file whose key column is not strictly increasing within
    a row group. A data fault of the index, not of the query: rewrite
    the index with compact_index, whose writers sort every file."""


def _stale(path: str) -> FileNotFoundError:
    return FileNotFoundError(
        f"{path} changed or vanished since the reader's snapshot")


def _check_files(files) -> None:
    """Raise FileNotFoundError unless each of ``files`` still has the
    identity its footer was read with."""
    for f in files:
        try:
            st = os.stat(f.path)
        except OSError:
            raise _stale(f.path) from None
        if (st.st_mtime_ns, st.st_size) != f.ident:
            raise _stale(f.path)


class _FileIndex:
    """Footer index of one parquet table, read once per reader snapshot:
    the files in ``pyarrow.dataset`` discovery order, each with its
    identity (mtime_ns, size), footer, hive ``shard`` value and the
    per-row-group min/max of the ``key`` column.

    Every index writer sorts ``key`` strictly within a file (term_stats
    and postings by term, tok by local_idx), so a point read (``read``)
    addresses rows instead of masking them: files are pruned by shard
    and row groups by their key range, and the requested keys become row
    indices through the row group's key index (see _RowGroup). Those
    rows are read from the row group's cached record into Python lists
    (_Rows): a numpy view over the cached offsets and values for an
    integer-list cell, the key index's values for the key, and one bulk
    conversion per other column (_cells), which is what every caller of
    a point read consumes: no Arrow table is assembled per read. ``runs``
    returns one shard's integer column as numpy views. ``scan``
    returns every row as an Arrow table of the cached arrays. Each row
    group is decoded once into one cached record: arrays conformed to
    the dataset types (casts, nulls for columns an older file lacks) and
    the key index. Its key is checked strictly increasing as it is
    decoded: a row group whose keys are out of order or repeated raises
    UnsortedIndexError naming the file. The hive ``shard`` column comes
    from each file's partition value, so both return the same rows in
    the same order as ``dataset.to_table(filter=...)``, without a scan
    plan per call."""

    def __init__(self, root: str, key: str, partitioned: bool):
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        ds = pads.dataset(root, format="parquet",
                          partitioning="hive" if partitioned else None)
        self.schema = ds.schema
        self.key = key
        self.partitioned = partitioned
        # the dataset types cached row groups are conformed to: part of
        # their cache key, so a snapshot that infers other types (from
        # another first file) never gets arrays cast for the old ones
        self._sig = ds.schema.to_string(show_field_metadata=False,
                                        show_schema_metadata=False)
        self._key_schema = (pa.schema([ds.schema.field(key)])
                            if key in ds.schema.names else None)
        self._key_names = frozenset([key])
        # columns -> their schema, it without the hive column, that
        # one's names as a tuple and a frozenset, the hive column's
        # index or -1 (see _columns)
        self._schemas: dict[tuple, tuple] = {}
        self.files: list[_File] = []
        self._by_shard: dict[int | None, list[_File]] = {}
        for frag in ds.get_fragments():
            shard = pads.get_partition_keys(
                frag.partition_expression).get("shard")
            # identity and footer from ONE open handle, so they describe
            # the same file even if the path is replaced meanwhile
            with open(frag.path, "rb") as fh:
                st = os.fstat(fh.fileno())
                md = pq.read_metadata(fh)
            # the stored top-level columns; the key's statistics are
            # those of its leaf column (a nested column has several)
            names = md.schema.to_arrow_schema().names
            leaves = [md.schema.column(i).path
                      for i in range(md.num_columns)]
            ci = leaves.index(key) if key in leaves else None
            ranges = []
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                s = rgm.column(ci).statistics if ci is not None else None
                if rgm.num_rows == 0:
                    ranges.append(False)  # nothing to read
                elif s is not None and s.has_min_max:
                    ranges.append((s.min, s.max))
                else:
                    ranges.append(None)  # no stats: always read
            self.files.append(_File(frag.path, shard,
                                    (st.st_mtime_ns, st.st_size), md,
                                    frozenset(names), ranges))
            self._by_shard.setdefault(shard, []).append(self.files[-1])

    def _columns(self, columns: list[str]) -> tuple:
        """(schema of ``columns``, it without the hive column, that
        one's names as a tuple and as a frozenset, the hive column's
        index or -1), built once per column list."""
        cols = tuple(columns)
        hit = self._schemas.get(cols)
        if hit is None:
            schema = pa.schema([self.schema.field(c) for c in cols])
            hive = schema.get_field_index("shard") if self.partitioned \
                else -1
            inner = schema.remove(hive) if hive >= 0 else schema
            hit = self._schemas[cols] = (
                schema, inner, tuple(inner.names), frozenset(inner.names),
                hive)
        return hit

    def read(self, columns: list[str], keys=None, shard_keys=None,
             key_range=None) -> _Rows:
        """Rows of ``columns`` whose key is in ``keys`` (sorted,
        distinct), or in ``shard_keys[shard]`` (sorted, distinct, per
        hive shard; other shards are skipped), or in the half-open
        ``key_range`` (lo, hi), as _Rows: each column's values in
        dataset row order, equal to the dataset scan's ``to_pylist``
        (integer-list cells as numpy views of the same values). One
        filter is required (``scan`` reads every row). Raises
        FileNotFoundError when a file the read touches is gone or
        changed — also on a full cache hit."""
        if keys is None and shard_keys is None and key_range is None:
            raise TypeError("read needs keys, shard_keys or key_range; "
                            "scan reads every row")
        plan = []
        for f in self.files:
            vals = keys
            if shard_keys is not None:
                vals = shard_keys.get(f.shard)
                if not vals:
                    continue
            if self.key not in f.names:
                continue  # key column absent: no row can match
            rgs = []
            for rg, r in enumerate(f.ranges):
                if r is False:
                    continue
                if r is not None:
                    lo, hi = r
                    if vals is not None:
                        i = bisect_left(vals, lo)
                        if i == len(vals) or vals[i] > hi:
                            continue
                    elif hi < key_range[0] or lo >= key_range[1]:
                        continue
                rgs.append(rg)
            if rgs:
                plan.append((f, vals, rgs))
        _check_files(f for f, _, _ in plan)
        schema, inner, names, need, hive = self._columns(columns)
        out = {c: [] for c in columns}
        n = 0
        for f, vals, rgs in plan:
            for rg in rgs:
                # the key first: the other columns of a row group
                # holding no requested key are never decoded
                rec = _row_group(f, rg, self._key_schema, self._key_names,
                                 self._sig, self.key)
                rows = _key_rows(rec, vals, key_range)
                if not rows:
                    continue
                if not need <= rec.arrays.keys():  # not decoded: widen
                    rec = _row_group(f, rg, inner, need, self._sig,
                                     self.key)
                for c in names:
                    out[c] += (_key_cells(rec.index, rows) if c == self.key
                               else _cells(rec, c, rows))
                if hive >= 0:
                    out["shard"] += [f.shard] * len(rows)
                n += len(rows)
        return _Rows(out, n, schema)

    def shard_files(self, shard: int | None) -> list:
        """The files of ``shard`` (their hive value; None for an
        unpartitioned table)."""
        return self._by_shard.get(shard, [])

    def runs(self, column: str, shard: int | None = None) -> list:
        """Every value of the integer ``column`` in ``shard``'s files
        (their hive value; None for an unpartitioned table) as numpy
        views of the cached row-group arrays: one (first key, view)
        pair per row group, row i of a view holding key first + i. The
        key must be dense in each row group, as tok's local_idx is
        (RuntimeError otherwise). Raises FileNotFoundError like read."""
        files = self.shard_files(shard)
        _check_files(files)
        _, inner, _, need, _ = self._columns([self.key, column])
        out = []
        for f in files:
            for rg in (rg for rg, r in enumerate(f.ranges) if r is not False):
                rec = _row_group(f, rg, inner, need, self._sig, self.key)
                if type(rec.index) is not int:
                    raise RuntimeError(
                        f"{f.path}: key column {self.key!r} skips values "
                        f"in row group {rg}; rewrite the index with "
                        "compact_index")
                out.append((rec.index, rec.arrays[column].to_numpy()))
        return out

    def scan(self, columns: list[str]) -> pa.Table:
        """Every row of ``columns`` as an Arrow table in dataset row
        order: the cached arrays of each row group, zero-copy, one chunk
        per row group. The hive ``shard`` column is one chunk built from
        each file's partition value and footer row counts, so a scan of
        it alone decodes nothing. Raises FileNotFoundError like read."""
        plan = [(f, [rg for rg, r in enumerate(f.ranges) if r is not False])
                for f in self.files]
        _check_files(f for f, rgs in plan if rgs)
        schema, inner, names, need, hive = self._columns(columns)
        chunks = {c: [] for c in names}
        counts, shards = [], []
        for f, rgs in plan:
            for rg in rgs:
                if need:
                    arrays = _row_group(f, rg, inner, need, self._sig,
                                        self.key).arrays
                    for c in names:
                        chunks[c].append(arrays[c])
                counts.append(f.md.row_group(rg).num_rows)
                shards.append(f.shard)
        if not counts:
            return schema.empty_table()
        cols = [pa.chunked_array(chunks[c], inner.field(c).type)
                for c in names]
        if hive >= 0:
            # without a validity bitmap, as the dataset scan returns it
            cols.insert(hive, pa.array(np.repeat(shards, counts),
                                       schema.field(hive).type))
        return pa.Table.from_arrays(cols, schema=schema)


def _key_rows(rec: _RowGroup, vals, key_range):
    """Rows of ``rec``'s row group, as ascending Python ints, whose key
    is in ``vals`` (sorted, distinct; a list) or, as a range, in the
    half-open ``key_range`` (lo, hi)."""
    idx, n = rec.index, rec.n
    if type(idx) is int:  # dense integer key: row = key - first
        if key_range is not None:
            lo, hi = key_range
            return range(min(max(lo - idx, 0), n), min(max(hi - idx, 0), n))
        return [v - idx for v in vals[
            bisect_left(vals, idx):bisect_left(vals, idx + n)]]
    if type(idx) is list:  # string key: bisect over its sorted values
        if key_range is not None:
            return range(bisect_left(idx, key_range[0]),
                         bisect_left(idx, key_range[1]))
        rows, i = [], 0
        for v in vals:
            i = bisect_left(idx, v, i)
            if i == n:
                break
            if idx[i] == v:
                rows.append(i)
        return rows
    # an integer key with gaps: np.searchsorted over the column view
    if key_range is not None:
        return range(*np.searchsorted(idx, key_range).tolist())
    want = np.asarray(vals, dtype=idx.dtype)
    pos = np.searchsorted(idx, want)
    return pos[idx[np.minimum(pos, n - 1)] == want].tolist()


def _key_cells(index, rows) -> list:
    """The keys of rows ``rows`` from a _RowGroup key index, equal to
    the key column's ``to_pylist``."""
    if type(index) is int:
        return [index + i for i in rows]
    if type(index) is list:
        return [index[i] for i in rows]
    return index[rows].tolist()


def _views(a: pa.Array):
    """numpy views of a decoded column (sharing its buffers) that read
    its cells without a pyarrow scalar per cell (_cells): the _int_lists
    pair of an integer-list column, the values of a null-free integer
    column, (offsets, data) of a null-free string or binary column; None
    for any other column."""
    t = a.type
    if pa.types.is_list(t):
        return _int_lists(a)
    if a.null_count:
        return None
    if pa.types.is_integer(t):
        return a.to_numpy()
    if t in (pa.string(), pa.binary()):
        _, offs, data = a.buffers()
        return (np.frombuffer(offs, np.int32)[a.offset:a.offset + len(a) + 1],
                memoryview(data if data is not None else b""))
    return None


def _cells(rec: _RowGroup, c: str, rows) -> list:
    """Rows ``rows`` of column ``c`` of ``rec`` as Python values, equal
    to its ``to_pylist`` (an integer-list cell as a numpy view of the
    same values): one numpy gather of an integer column, a slice of the
    data per string or binary cell. A ``take`` would convert in bulk,
    but its ~20 us dispatch costs more than the 1-3 rows a point read
    typically wants from one row group. A column _views cannot read
    (nulls, structs) converts cell by cell."""
    view = rec.views.get(c)
    t = rec.arrays[c].type
    if view is None:
        a = rec.arrays[c]
        return [a[i].as_py() for i in rows]
    if pa.types.is_list(t):
        return _list_cells(view, rows)
    if pa.types.is_integer(t):
        return view[rows].tolist()
    off, buf = view
    if t == pa.string():
        return [str(buf[off[i]:off[i + 1]], "utf-8") for i in rows]
    return [buf[off[i]:off[i + 1]].tobytes() for i in rows]


def _key_index(a: pa.Array) -> tuple[object, int]:
    """The key index of ``a``, a decoded row group's key column checked
    strictly increasing and null-free (see _RowGroup), and the bytes it
    holds beyond the column."""
    n = len(a)
    if pa.types.is_integer(a.type):
        if n and a[n - 1].as_py() - a[0].as_py() == n - 1:
            return a[0].as_py(), 0
        return a.to_numpy(), 0
    keys = a.to_pylist()[:]  # to_pylist over-allocates the list by ~1/8
    return keys, sys.getsizeof(keys) + sum(map(sys.getsizeof, keys))


def _row_group(f: _File, rg: int, schema, names: frozenset, sig: str,
               key: str) -> _RowGroup:
    """Row group ``rg`` of ``f`` as its cached _RowGroup, whose arrays
    hold at least the fields of ``schema`` (fields of the dataset
    schema whose string form is ``sig``; ``names`` are their names):
    stored columns cast to the dataset type, columns this older file
    lacks as nulls. _CHUNK_CACHE keeps one record per row group, of
    every column read so far; a read that needs columns it lacks reads
    just those (single-threaded, through a handle whose identity is
    re-checked against the file index) and replaces it with a wider
    record, which shares the arrays and the key index already held (a
    record is never changed once cached, so a read holding the narrower
    one stays valid). The ``key`` column is checked strictly increasing
    as it is decoded (raises UnsortedIndexError naming the file
    otherwise), and its key index is built then."""
    ck = (f.path, *f.ident, rg, sig)
    hit = _CHUNK_CACHE.get(ck)
    if hit is None:
        arrays, views, index, index_bytes = {}, {}, None, 0
    else:
        rec = hit[0]
        if names <= rec.arrays.keys():
            return rec
        arrays, views, index = dict(rec.arrays), dict(rec.views), rec.index
        index_bytes = rec.nbytes - sum(a.nbytes for a in arrays.values())
    missing = [fld for fld in schema if fld.name not in arrays]
    stored = [fld.name for fld in missing if fld.name in f.names]
    if stored:
        import pyarrow.parquet as pq

        try:
            fh = open(f.path, "rb")
        except OSError:
            raise _stale(f.path) from None
        with fh:
            st = os.fstat(fh.fileno())
            if (st.st_mtime_ns, st.st_size) != f.ident:
                raise _stale(f.path)
            got = pq.ParquetFile(fh, metadata=f.md).read_row_group(
                rg, columns=stored, use_threads=False)
    n = f.md.row_group(rg).num_rows
    for field in missing:
        if field.name in f.names:
            col = got.column(field.name)
            a = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
            if a.type != field.type:
                a = a.cast(field.type)
            if field.name == key:
                if a.null_count or n > 1 and not pc.all(
                        pc.greater(a.slice(1), a.slice(0, n - 1))).as_py():
                    raise UnsortedIndexError(
                        f"{f.path}: key column {key!r} is not strictly "
                        f"increasing in row group {rg}; every index "
                        "writer sorts it within a file, so this index "
                        "was written by an older or foreign writer. "
                        "Rewrite it with compact_index.")
                index, index_bytes = _key_index(a)
        else:  # a column this older file lacks
            a = pa.nulls(n, field.type)
        arrays[field.name] = a
        view = _views(a)
        if view is not None:
            views[field.name] = view
    with _WIDEN_LOCK:
        # another thread may have widened the record meanwhile: keep its
        # columns too, or the last writer's narrower record would win
        cur = _CHUNK_CACHE.get(ck)
        if cur is not None:
            cur = cur[0]
            for name, a in cur.arrays.items():
                if name not in arrays:
                    arrays[name] = a
                    if name in cur.views:
                        views[name] = cur.views[name]
            if index is None and cur.index is not None:
                index = cur.index
                index_bytes = cur.nbytes - sum(
                    a.nbytes for a in cur.arrays.values())
        rec = _RowGroup(arrays, views, n, index,
                        sum(a.nbytes for a in arrays.values()) + index_bytes)
        _CHUNK_CACHE.discard(ck)
        _CHUNK_CACHE.put(ck, (rec,))
    return rec


class _PointReads:
    """The driver's snapshot-scoped point-read layer: one lazily built
    _FileIndex per table (term_stats by term, postings by term with hive
    shard pruning, tok by local_idx within a shard) and the snapshot's
    shard offsets (``stats``' shard map). An IndexReader drops it on
    every snapshot refresh."""

    _TABLES = {
        "term_stats": (_term_stats_path, "term", False),
        "postings": (_postings_path, "term", True),
        "tok": (_tok_path, "local_idx", True),
    }

    def __init__(self, index_dir: str, stats: dict):
        self.index_dir = index_dir
        self.offsets = {int(s): int(o)
                        for s, o in stats["shard_offsets"].items()}
        self._idx: dict[str, _FileIndex] = {}
        self._lock = _threading.Lock()
        # shard -> its DocLens: a shard's norms are built once per
        # snapshot (4 B per document, like its doc_len column), and each
        # use re-checks its tok files
        self._lens: dict[int, DocLens] = {}

    def __getitem__(self, table: str) -> _FileIndex:
        fi = self._idx.get(table)
        if fi is None:
            with self._lock:
                fi = self._idx.get(table)
                if fi is None:
                    path_of, key, partitioned = self._TABLES[table]
                    fi = self._idx[table] = _FileIndex(
                        path_of(self.index_dir), key, partitioned)
        return fi

    def doc_lens(self, shard: int) -> DocLens:
        """``shard``'s document lengths: its tok doc_len column as numpy
        views of the cached row groups (_FileIndex.runs), checked
        unchanged on every call (FileNotFoundError like any read)."""
        tok = self["tok"]
        lens = self._lens.get(shard)
        if lens is None:
            lens = self._lens[shard] = DocLens(
                self.offsets[shard], tok.runs("doc_len", shard))
        else:
            _check_files(tok.shard_files(shard))
        return lens


# term_stats columns the dictionary lookups read (when present)
_TS_COLS = ("term", "df", "nbytes", "poss_nbytes")


def _rows_by_term(rows: _Rows) -> dict[str, set]:
    """term -> {(shard, df, payload_len)} of a postings read, for
    IndexReader._publish_cached."""
    out: dict[str, set] = {}
    for t, sh, df, ln in zip(rows["term"], rows["shard"], rows["df"],
                             map(len, rows["docs"])):
        out.setdefault(t, set()).add((sh, df, ln))
    return out


class _Plan(NamedTuple):
    """One query planned once (IndexReader._plan) for every route."""
    mode: str  # a search mode; TF-IDF plans as 'exhaustive'
    kind: str  # 'bm25' | 'tfidf'
    k: int
    present: list  # query terms the corpus holds, sorted (bool: NOT-ed too)
    weights: dict  # scored term -> idf (BM25) or TF-IDF weight
    require: int  # AND: the number of terms every match holds; else 0
    scorer: object  # the driver scorer, shared by the distributed plan
    cols: list  # the stored postings columns that scorer reads
    grouped: bool  # phrase / near / bool: the shard-grouped scorers
    bound: int  # df-derived upper bound on the matching docs


class IndexReader:
    """Query handle over an index directory (MainIndex analog,
    tree.rs:251-265 — but stateless: all state is in tables + stats)."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 fast_path_bytes: int = 32 << 20):
        """``fast_path_bytes``: when the matched terms' total compressed
        postings payload (term_stats ``nbytes``) is below this, search()
        skips the Spark job entirely — pyarrow reads the matched rows
        (term-predicate row-group pruning) and the SAME numpy exhaustive
        scorer runs driver-side, so results are bit-identical to the
        distributed plan. This removes the ~0.3-0.5 s local job-launch
        floor for typical queries; huge-postings queries (hot terms) fall
        through to the distributed plan. 0 disables. The 10^12-scale
        analog is a query-service node scoring small matched sets from
        the postings store directly, keeping Spark for the heavy ones."""
        self.spark = spark
        self.index_dir = index_dir
        self.stats = read_stats(index_dir)
        self.fast_path_bytes = fast_path_bytes
        # route of the last answered query: "fast", "fast_phrase",
        # "fast_near", "fast_bool" (_route) or "distributed"
        self.last_path: str | None = None
        self._df_cache: dict[str, int] = {}
        self._nbytes_cache: dict[str, int] = {}
        self._poss_nbytes_cache: dict[str, int] = {}
        self._prefix_cache: dict[tuple[str, int], list[str]] = {}
        # decoded-postings cache namespace: (index identity, epoch). The
        # epoch (bumped on every stats commit) invalidates entries across
        # mutations of ONE index; the dir identity separates different
        # indexes living in the same session (epochs alone collide there)
        self._epoch = (index_dir, int(self.stats.get("epoch", 0)))
        # driver point reads (term_stats, postings, tok) go through one
        # snapshot-scoped footer index + decoded chunk cache: each table's
        # directory is listed and its footers read once per snapshot,
        # not per query (_refresh_snapshot drops it)
        self._reads = _PointReads(index_dir, self.stats)
        # term -> {(shard, df, payload_len)} rows known to be decoded in
        # _DECODED_CACHE: lets repeat/warmed queries score WITHOUT the
        # per-query parquet payload read (see _fast_from_cache). Bounded
        # (insertion-order eviction): the underlying LRU evicts by bytes,
        # so an unbounded bookkeeping dict on a long-lived server would
        # accumulate tuples for every distinct query term ever seen.
        self._cached_terms: dict[str, frozenset[tuple[int, int, int]]] = {}
        self._cached_terms_max = 65_536
        self._cached_terms_lock = _threading.Lock()
        # warm_hot_terms raises the process-global decoded-cache cap;
        # the raise is refcounted at module level (see _cache_cap_acquire)
        # so the LAST closing reader restores the genuine pre-raise cap
        self._cache_cap_held = False
        # decoded-cache keys this reader pinned via warm_hot_terms;
        # unpinned (refcount-decremented) on close()
        self._pinned_keys: set[tuple] = set()
        # shuffle-free scoring requires whole-file scan tasks: pin the
        # split size above the largest committed postings file (recorded
        # at build time). If the conf cannot be raised, queries fall
        # back to the groupBy(shard) exchange plan (slower, always safe).
        self._whole_file_tasks = False
        self._conf_priors: dict[str, str] = {}
        self._need_bytes: int | None = None
        self._pin_split_size()
        self._derive_snapshot()
        from .session import warm_workers

        warm_workers(spark)

    def _pin_split_size(self) -> None:
        """(Re-)pin the file split-size confs above the largest committed
        postings file so every scan task sees whole files — the invariant
        _shard_grouped relies on. Called at init and again from
        _refresh_snapshot: append/update grow max_postings_file_bytes
        monotonically (build.py), so a pin taken at init can be too small
        for the refreshed snapshot — a postings file larger than the old
        pin would then be split across scan tasks and _shard_grouped
        would emit partial per-shard sums (wrong BM25 scores; AND mode
        could drop matching docs). If the conf cannot be raised, clears
        _whole_file_tasks so queries fall back to the always-safe
        groupBy(shard) exchange plan."""
        max_file = self.stats.get("max_postings_file_bytes")
        if max_file is None:
            self._whole_file_tasks = False
            self._need_bytes = None
            return
        need = int(max_file) + 1
        self._need_bytes = need
        try:
            cur = _parse_bytes(
                self.spark.conf.get("spark.sql.files.maxPartitionBytes")
            )
            if cur is None or cur < need:
                for key in ("spark.sql.files.maxPartitionBytes",
                            "spark.sql.files.openCostInBytes"):
                    # record a prior only ONCE per reader so close()
                    # restores the genuine pre-reader value, not an
                    # intermediate pin from an earlier refresh
                    self._conf_priors.setdefault(
                        key, self.spark.conf.get(key)
                    )
                    self.spark.conf.set(key, str(need))
            self._whole_file_tasks = True
        except Exception:
            self._whole_file_tasks = False

    # -- lifecycle ---------------------------------------------------------

    def close(self) -> None:
        """Restore any session confs this reader raised and undo this
        reader's share of the decoded-cache budget raise. Call when done
        querying — pending DataFrames from search_df must be collected
        first, since the whole-file-task invariant their plan relies on
        goes away with the conf."""
        for key, val in self._conf_priors.items():
            try:
                self.spark.conf.set(key, val)
            except Exception:
                pass
        self._conf_priors = {}
        if self._pinned_keys:
            _DECODED_CACHE.unpin(self._pinned_keys)
            self._pinned_keys = set()
        if self._cache_cap_held:
            _cache_cap_release()
            self._cache_cap_held = False

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
        return False

    # -- metadata lookups ------------------------------------------------

    def _refresh_snapshot(self) -> None:
        """Re-point the reader at the CURRENT on-disk snapshot after a
        concurrent mutation invalidated a dataset handle. Without this,
        the rebuilt handle would read NEW postings files while the reader
        kept pre-mutation stats (n_docs, avgdl, epoch, df cache) — scores
        matching neither snapshot, and warmed terms still serving fully
        pre-mutation results from the decoded cache. Refreshing stats +
        epoch + every derived cache makes the rebuild land on one
        consistent new snapshot instead of silently mixing two."""
        self.stats = read_stats(self.index_dir)
        self._epoch = (self.index_dir, int(self.stats.get("epoch", 0)))
        # superseded-epoch pins would hold dead entries in the cache
        # forever; unpin them (re-warm after refresh re-pins the new set)
        stale = {k for k in self._pinned_keys if k[0] != self._epoch}
        if stale:
            _DECODED_CACHE.unpin(stale)
            self._pinned_keys -= stale
        self._reads = _PointReads(self.index_dir, self.stats)
        self._df_cache.clear()
        self._nbytes_cache.clear()
        self._poss_nbytes_cache.clear()
        self._prefix_cache.clear()
        self._cached_terms.clear()
        # re-derive the whole-file-task pin: the mutation may have grown
        # max_postings_file_bytes past the pin taken at init
        self._pin_split_size()
        self._derive_snapshot()

    def _derive_snapshot(self) -> None:
        """What the reader derives once per snapshot from stats.json and
        the manifest (at init and on every refresh): ``_doc_bounds``, the
        shard map as locate_doc_ids searches it, and ``_ub_scale``, shard
        -> upper-bound rescale for appended indexes whose avgdl drifted
        upward since a shard's block maxima were computed."""
        from .build import shard_bounds

        self._doc_bounds = shard_bounds(self.stats)
        avgdl_now = self.stats["avgdl"]
        # LAST postings row per shard wins (a shard rebuilt by
        # update_index supersedes its older manifest rows)
        last_ab: dict[int, float] = {}
        for r in read_manifest(self.index_dir):
            if r["stage"] == "postings" and "avgdl_build" in r:
                last_ab[r["shard"]] = r["avgdl_build"]
        self._ub_scale: dict[int, float] = {
            s: avgdl_now / ab
            for s, ab in last_ab.items()
            if ab > 0 and avgdl_now > ab
        }

    def _with_reads(self, fn):
        """Run ``fn(point_reads)`` with a one-shot snapshot refresh: a
        mutation underneath a long-lived reader (dynamic overwrite
        replaces part files) makes a read raise FileNotFoundError; the
        refresh re-reads stats.json, the epoch and every derived cache
        and drops the point-read layer, so the retry serves the NEW
        snapshot consistently instead of scoring new files with old
        parameters."""
        for attempt in (0, 1):
            try:
                return fn(self._reads)
            except OSError:
                if attempt:
                    raise
                self._refresh_snapshot()

    def _post_table(self, columns: list[str], terms) -> _Rows:
        """Postings rows of ``terms`` (every shard, dataset row order)
        through the point-read layer. A ``doc_len`` column, which the
        postings do not store, is filled with each row's shard's DocLens
        (read in the same snapshot, for the shards the rows touch)."""
        keys = sorted(set(terms))
        stored = [c for c in columns if c != "doc_len"]

        def read(reads):
            rows = reads["postings"].read(stored, keys=keys)
            if len(stored) < len(columns):
                _attach_doc_lens(rows, reads.doc_lens)
            return rows

        return self._with_reads(read)

    def global_dfs(self, terms: list[str]) -> dict[str, int]:
        """Per-term global df (pass 1 of the reference search,
        tree.rs:395-416). Served driver-side straight from the
        range-partitioned, term-sorted term_stats parquet through the
        point-read layer — row-group term ranges prune the read to a
        metadata-sized one, not a Spark job (a query-latency win at any
        scale; the 10^12-doc deployment would front this with the same
        dictionary files behind a lookup service)."""

        def lookup(reads):
            out, missing = {}, []
            for t in terms:
                v = self._df_cache.get(t)
                if v is None:
                    missing.append(t)
                else:
                    out[t] = v
            if not missing:
                return out
            ts = reads["term_stats"]
            names = ts.schema.names
            if "term" not in names:  # zero-postings index
                for t in missing:
                    out[t] = self._df_cache[t] = 0
                return out
            rows = ts.read([c for c in _TS_COLS if c in names],
                           keys=sorted(set(missing)))
            tlist = rows["term"]
            found = dict(zip(tlist, rows["df"]))
            # `or 0`: NULL nbytes (e.g. a mixed-format index that slipped
            # past the version guard) must not crash queries; an index
            # without positions has no poss_nbytes column
            nb = dict(zip(tlist, (x or 0 for x in rows["nbytes"])))
            pnb = dict(zip(tlist, (x or 0 for x in rows.get("poss_nbytes", ()))))
            for t in missing:
                out[t] = self._df_cache[t] = found.get(t, 0)
                self._nbytes_cache[t] = nb.get(t, 0)
                self._poss_nbytes_cache[t] = pnb.get(t, 0)
            return out

        return self._with_reads(lookup)

    def expand_prefix(self, prefix: str,
                      cap: int | None = None) -> list[str]:
        """Dictionary terms starting with ``prefix``, for the boolean
        language's ``word*`` atoms. A range read [prefix, prefix+
        U+10FFFF) of the term-sorted term_stats parquet — row-group
        min/max ranges prune this to a metadata-sized read, same as
        global_dfs; never a Spark job, never a postings read. Capped at
        ``cap`` (default boolquery.MAX_PREFIX_EXPANSIONS) highest-df
        terms via the shared cap_expansions rule. The scan's (df,
        nbytes) ride along into the reader caches for free."""
        from .boolquery import MAX_PREFIX_EXPANSIONS, cap_expansions

        cap = MAX_PREFIX_EXPANSIONS if cap is None else cap
        key = (prefix, cap)
        hit = self._prefix_cache.get(key)
        if hit is not None:
            return hit

        def scan(reads):
            ts = reads["term_stats"]
            names = ts.schema.names
            if "term" not in names:  # zero-postings index
                return None
            return ts.read(
                [c for c in _TS_COLS if c in names],
                key_range=(prefix, prefix + "\U0010ffff"),
            )

        rows = self._with_reads(scan)
        if rows is None:
            self._prefix_cache[key] = []
            return []
        terms = rows["term"]
        pnbs = rows.get("poss_nbytes") or [0] * len(terms)
        pairs = []
        for t, d, nb, pnb in zip(terms, rows["df"], rows["nbytes"], pnbs):
            if not t.startswith(prefix):
                continue
            pairs.append((t, d))
            self._df_cache[t] = d
            self._nbytes_cache[t] = nb or 0
            self._poss_nbytes_cache[t] = pnb or 0
        out = cap_expansions(pairs, cap)
        self._prefix_cache[key] = out
        return out

    def _publish_cached(self, rows_by_term: dict) -> None:
        """Publish each term's COMPLETE set of decoded (shard, df,
        payload_len) rows for _fast_from_cache in ONE assignment, at the
        end of a reading pass: a concurrent request that sees a term in
        _cached_terms treats its row set as every shard of the term, so
        a set filled shard by shard would let it score from a subset.
        Insertion-order eviction past the bookkeeping cap (the decoded
        LRU itself stays byte-bounded regardless — an evicted
        bookkeeping entry merely sends that term back through the
        reading path)."""
        cached = self._cached_terms
        with self._cached_terms_lock:  # check-then-evict across threads
            for term, rows in rows_by_term.items():
                if term not in cached:
                    while cached and len(cached) >= self._cached_terms_max:
                        del cached[next(iter(cached))]
                cached[term] = frozenset(rows)

    def _top_terms(self, n_terms: int) -> list[tuple[str, int, int]]:
        """Hottest terms by compressed payload size, ranked inside
        pyarrow over a term_stats scan (the cached arrays, zero-copy;
        select_k — no full-vocabulary to_pylist + Python sort; on a
        large dictionary that materialization is avoidable driver
        memory/CPU). Returns [(term, df, nbytes)] descending."""
        def scan(reads):
            ts = reads["term_stats"]
            if not {"term", "nbytes"} <= set(ts.schema.names):
                return None
            return ts.scan(["term", "df", "nbytes"])

        tbl = self._with_reads(scan)
        if tbl is None:
            return []
        top = tbl.take(
            pc.select_k_unstable(
                tbl, k=min(n_terms, tbl.num_rows),
                sort_keys=[("nbytes", "descending")],
            )
        )
        return list(zip(
            top.column("term").to_pylist(),
            (int(x) for x in top.column("df").to_pylist()),
            (int(x or 0) for x in top.column("nbytes").to_pylist()),
        ))

    #: warm_worker_caches auto-skips at/above this shard count unless
    #: force=True: every task slot redundantly reads the hot postings, so
    #: on a big index the warm approaches a full extra scan per worker
    #: (measured: 389 s at sf1 / 306 shards vs 28 s at sf0.1 / 32). The
    #: lazy per-worker LRU (first query decodes, repeats hit cache) is
    #: the default posture for large indexes.
    WARM_WORKERS_MAX_SHARDS = 128

    def warm_worker_caches(self, n_terms: int = 8,
                           budget_bytes: int = 192 << 20,
                           force: bool = False) -> int:
        """Best-effort pre-decode of the hottest terms' postings blocks
        into Spark Python workers' decoded caches (the distributed analog
        of warm_hot_terms, which warms only the driver process).

        Decode-once / ship-many: the driver reads the hot terms' payload
        ONCE (pyarrow, term-pruned), decodes each (shard, term) list in
        ONE vectorized pass and slices it at block boundaries —
        value-identical to the per-block decode_block_slice the scorers
        use (the whole-list cumsum restores exactly last_doc_id-of-
        previous-block + in-block gap cumsum) — then broadcasts the
        decoded entries and runs one defaultParallelism-task job whose
        workers just install them (_warm_install_entries). The previous
        design had every worker redundantly re-read AND re-decode the
        payload block-by-block (~5 small numpy calls per 128-posting
        block × tens of thousands of blocks × every worker), which
        dominated the warm wall (measured 18-41 s at 2M turns/32 workers;
        the broadcast form does the decode once and ships bytes).

        Spark REUSES Python workers across tasks, so one task per
        parallelism slot does NOT guarantee one task per live worker —
        some workers can stay cold and the return value then overstates
        coverage; first queries on a cold worker still pay the decode
        (latency-only, never correctness). After executor (re)start this
        still removes the common-case first-hot-query decode. Budget
        bounds the decoded bytes shipped (hottest-first; the cut drops
        the tail). Auto-skips (returns 0) when the index has >=
        WARM_WORKERS_MAX_SHARDS shards unless force=True — at that size
        the warmed set is a sliver of the index and lazy LRU fill is the
        right default. Returns min entries installed by any task (0 =>
        at least one task warmed nothing, or the gate skipped)."""
        if not force:
            n_shards = int(self.stats.get("n_shards", 0))
            if n_shards >= self.WARM_WORKERS_MAX_SHARDS:
                return 0
        rows = self._top_terms(n_terms)
        if not rows:
            return 0
        epoch = self._epoch
        block_size = int(self.stats["block_size"])
        terms = [t for t, _, _ in rows]
        rows_read = self._post_table(list(_POST_COLS), terms)
        by_term: dict[str, list] = {}
        for sh, t, df, docs, tfs, lens in zip(
                *(rows_read[c] for c in _POST_COLS)):
            by_term.setdefault(t, []).append((sh, df, docs, tfs, lens))
        payload: list[tuple] = []
        spent = 0
        full = False
        for t in terms:  # hottest-first: a budget cut drops the tail
            for sh, df, docs, tfs, lens in by_term.get(t, ()):
                df = int(df)
                d_full, tf_full, dl_full = decode_postings(
                    docs, tfs, lens, df
                )
                per_post = (
                    d_full.itemsize + tf_full.itemsize + dl_full.itemsize
                )
                ckey = (epoch, int(sh), t, df, len(docs))
                # whole blocks until the budget trips (checked BEFORE
                # each block, so the first block always ships)
                ship = 0
                for bi in range((df + block_size - 1) // block_size):
                    if spent > budget_bytes:
                        full = True
                        break
                    e = min((bi + 1) * block_size, df)
                    spent += (e - ship) * per_post
                    ship = e
                if ship:
                    payload.append((
                        ckey, _narrow_wire(d_full[:ship]),
                        _narrow_wire(tf_full[:ship]),
                        _narrow_wire(dl_full[:ship]),
                    ))
                if full:
                    break
            if full:
                break
        if not payload:
            return 0
        par = self.spark.sparkContext.defaultParallelism
        bc = self.spark.sparkContext.broadcast(payload)

        def task(batches):
            # runtime import => the WORKER's module instance (a direct
            # closure ref would ship the driver's cache by value)
            from indexer_spark.query import _warm_install_entries

            n = _warm_install_entries(bc.value, block_size, budget_bytes)
            for _b in batches:
                yield pa.RecordBatch.from_pydict({"n": [n]})

        try:
            out = (
                self.spark.range(0, par, 1, par)
                .mapInArrow(task, "n long")
                .agg(F.min("n").alias("n"))
                .collect()
            )
        finally:
            try:
                # workers keep the installed arrays; the broadcast file
                # and registry copy are no longer needed
                bc.destroy()
            except Exception:
                pass
        return int(out[0]["n"]) if out else 0

    def warm_hot_terms(self, n_terms: int = 16,
                       budget_bytes: int | None = None,
                       raw: bool = False) -> int:
        """Pre-decode the largest posting lists into the decoded-postings
        cache (driver side), ranked by term_stats ``nbytes``. A query
        service calls this at startup so the FIRST query for a hot term
        doesn't pay its decode; together with _fast_from_cache, repeat
        queries over warmed terms then never touch parquet at all.

        ``raw=True`` additionally stores each warmed list's raw decoded
        (-1) tuple (doc_ids, tfs, dls — 24 B/posting, counted against
        the same budget), which the TF-IDF fast/hybrid paths need
        (their contribution is w*tf, not the BM25 normalization): a
        service that serves tfidf traffic warms with raw=True so repeat
        tfidf hot queries stay off the distributed plan too.

        By default only the compact BM25 normpart form is stored (16
        bytes/posting vs 24 raw — and decoded lists run ~13x their compressed size, so
        the budget counts ACTUAL stored bytes; budgeting by compressed
        nbytes silently thrashes the LRU). The driver-process cache cap
        is raised to hold the warmed set plus query headroom; worker
        processes have their own module instance and keep the default
        cap. At 10^12 docs a serving node warms from the same term_stats
        ranking."""
        rows = self._top_terms(n_terms)
        if not rows:
            return 0
        if budget_bytes is None:
            # adaptive default: size the budget to hold ALL requested
            # terms (projected stored size is exact — 16 B/posting), up
            # to a ceiling. A fixed 768 MB default silently warmed only
            # 9/16 terms on an 8M-turn index and repeat hot queries fell
            # back to the 2 s distributed path (measured, BENCH notes).
            # The 2 GB default ceiling (cache cap <= ~4 GB with headroom)
            # bounds driver memory on huge indexes — raise it per
            # deployment; a malformed value falls back rather than
            # crashing (or worse, being swallowed by a server's warm
            # guard, silently disabling warming).
            try:
                ceiling = int(
                    os.environ.get("INDEXER_SPARK_WARM_CAP_MB", "2048")
                ) << 20
            except (TypeError, ValueError):
                ceiling = 2048 << 20
            per_posting = 40 if raw else 16  # -2 (16 B) + optional -1 (24 B)
            budget_bytes = min(
                sum(per_posting * int(df) for _, df, _ in rows), ceiling
            )
        # headroom above the warmed set so query-time entries (tfidf raw
        # decodes, unwarmed mid-size terms) don't evict warmed ones: the
        # unwarmed tail of a query set decodes to the same order of
        # magnitude as the warmed head (measured at 8M turns: 25%
        # headroom still thrashed the hot set and repeat hot queries fell
        # back to the distributed path), so give it as much room as the
        # warmed set itself
        want_cap = budget_bytes + max(512 << 20, budget_bytes)
        if not self._cache_cap_held:
            _cache_cap_acquire(want_cap)
            self._cache_cap_held = True
        else:
            # this reader already holds a share; just grow the cap
            with _CACHE_CAP_LOCK:
                if want_cap > _DECODED_CACHE.max_bytes:
                    _DECODED_CACHE.max_bytes = want_cap
        st = self.stats
        warmed, spent = 0, 0
        proj = 40 if raw else 16  # bytes/posting across the stored slots
        # ONE term-pruned payload read for every candidate term instead
        # of one dataset scan per term: 16 per-term reads each paid the
        # row-group pruning walk over every shard dir (measured ~40% of
        # the warm wall at 2M turns/32 shards). The budget loop below
        # still decides — in hottest-first order — which terms actually
        # decode; a budget break merely leaves some prefetched rows
        # unused (the adaptive default budget is sized to hold them all).
        post_rows = self._post_table(list(_POST_COLS),
                                     [t for t, _, _ in rows])
        rows_by_term: dict[str, list] = {}
        for sh, t_r, df_r, docs, tfs, lens in zip(
                *(post_rows[c] for c in _POST_COLS)):
            rows_by_term.setdefault(t_r, []).append(
                (sh, df_r, docs, tfs, lens)
            )
        for t, df, nb in rows:
            # projected stored size is exact: the -2 entry is one int64
            # id + one float64 normpart per posting = 16 bytes x df
            # (+ 24 B for the raw -1 tuple when raw=True). Checked
            # BEFORE decoding so the budget can't overshoot by a full
            # hot term (the first term always warms).
            if warmed and spent + proj * int(df) > budget_bytes:
                break
            self._df_cache[t] = int(df)
            self._nbytes_cache[t] = int(nb or 0)
            decoded = set()
            for sh, df_r, docs, tfs, lens in rows_by_term.get(t, ()):
                base = (self._epoch, int(sh), t, int(df_r), len(docs))
                need_norm = _DECODED_CACHE.get(base + (-2,)) is None
                need_raw = raw and _DECODED_CACHE.get(base + (-1,)) is None
                if need_norm or need_raw:
                    d, tfv, dl = decode_postings(docs, tfs, lens, int(df_r))
                    if need_norm:
                        normpart = _bm25_normpart(
                            tfv.astype(np.float64), dl,
                            st["k1"], st["b"], st["avgdl"])
                        _DECODED_CACHE.put(base + (-2,), (d, normpart))
                        spent += d.nbytes + normpart.nbytes
                    if need_raw:
                        _DECODED_CACHE.put(base + (-1,), (d, tfv, dl))
                        spent += d.nbytes + tfv.nbytes + dl.nbytes
                # pin the warmed entries: a burst of large unwarmed
                # decodes must never evict the hot set the service paid
                # to warm (refcounted; this reader unpins on close)
                for slot_key in ([base + (-2,)]
                                 + ([base + (-1,)] if raw else [])):
                    if (slot_key not in self._pinned_keys
                            and _DECODED_CACHE.pin(slot_key)):
                        self._pinned_keys.add(slot_key)
                decoded.add((int(sh), int(df_r), len(docs)))
            if decoded:
                self._publish_cached({t: decoded})
            warmed += 1
        return warmed

    def _route(self, plan: _Plan, whole: bool = False) -> list | None:
        """The driver routes, in order: a shard-grouped scorer (phrase /
        near / bool) takes _fast_phrase; the others take
        _fast_from_cache, then _fast_hybrid, then _fast_scored. Returns
        the first route's answer and records it in last_path, or None
        when every route declines (the caller runs the distributed plan,
        _distributed). ``whole``: gate the whole matched payload up
        front, so a consumer of every match (facets, filters) gets it
        from one driver route or from none."""
        if self.fast_path_bytes <= 0 or (
                whole and not self._fits(plan.present, "poss" in plan.cols)):
            return None
        if plan.grouped:
            hits, path = self._fast_phrase(plan), f"fast_{plan.mode}"
        else:
            cov = self._coverage(plan)
            hits = self._fast_from_cache(plan, cov)
            if hits is None:
                hits = self._fast_hybrid(plan, cov)
            if hits is None:
                hits = self._fast_scored(plan)
            path = "fast"
        if hits is not None:
            self.last_path = path
        return hits

    def _fits(self, terms: list[str], poss: bool) -> bool:
        """The fast_path_bytes gate: the postings payload of ``terms``
        (term_stats nbytes), plus their positions payload (poss_nbytes)
        when the read includes ``poss``, fits the driver budget."""
        total = sum(self._nbytes_cache.get(t, 0) for t in terms)
        if poss:
            total += sum(self._poss_nbytes_cache.get(t, 0) for t in terms)
        return total <= self.fast_path_bytes

    def _coverage(self, plan: _Plan) -> tuple[dict, list]:
        """Which of the plan's terms the decoded-postings cache covers:
        ({term: [(shard, entry)]} over every shard row recorded for the
        term, [uncovered terms]). A term counts as uncovered when it has
        no recorded rows or any of its entries was evicted. BM25 reads
        the compact normpart (-2) entries, TF-IDF the raw decoded (-1)
        tuples (its contribution w*tf needs the raw tf)."""
        slot = -2 if plan.kind == "bm25" else -1
        covered: dict[str, list] = {}
        uncovered: list[str] = []
        for t in plan.present:
            # one read per term: another thread may evict between reads
            rows = self._cached_terms.get(t)
            chunks = None
            if rows is not None:
                chunks = []
                for sh, df, ln in sorted(rows):
                    hit = _DECODED_CACHE.get(
                        (self._epoch, sh, t, df, ln, slot))
                    if hit is None:
                        chunks = None  # evicted -> treat as uncovered
                        break
                    chunks.append((int(sh), hit))
            if chunks is None:
                uncovered.append(t)
            else:
                covered[t] = chunks
        return covered, uncovered

    @staticmethod
    def _cached_top_k(plan: _Plan, chunks: dict) -> list:
        """Top-k of per-term [(shard, (doc_ids, normpart or tf))] cache
        entries: the same per-shard aggregation and sorted-term chunk
        order as the exhaustive scorer, so results are bit-identical."""
        by_shard: dict[int, tuple[list, list]] = {}
        for t in plan.present:  # sorted-term order pins float order
            w = plan.weights[t]
            for sh, hit in chunks.get(t, ()):
                idc, scc = by_shard.setdefault(sh, ([], []))
                idc.append(hit[0])
                # (w, arr) pair: multiplied inside the per-shard worker
                scc.append((w, hit[1]))
        # P8's exact-zero drop (tree.rs:456-459) is enforced inside the
        # aggregation: it never emits zero sums
        uids, sums = _aggregate_scores_sharded(by_shard, plan.k, plan.require)
        uids, sums = _topk_merge(uids, sums, plan.k)
        return [(int(d), float(s)) for d, s in zip(uids, sums)]

    def _fast_from_cache(self, plan: _Plan, cov: tuple) -> list | None:
        """Score a query entirely from the decoded-postings cache — no
        parquet read at all. Engages when _coverage found every term's
        recorded rows (by warm_hot_terms or a previous fast query) still
        cached; None otherwise, falling back to the reading paths."""
        covered, uncovered = cov
        return None if uncovered else self._cached_top_k(plan, covered)

    def _fast_hybrid(self, plan: _Plan, cov: tuple) -> list | None:
        """Partial-coverage driver path: score cache-covered terms from
        the decoded LRU and read ONLY the uncovered terms' rows from
        parquet, gating ``fast_path_bytes`` on the UNCOVERED payload
        alone. This serves the common service shape where a query mixes
        warmed hot terms with mid-frequency ones: the full payload may
        exceed the driver threshold while the unread remainder is small
        (measured at 8M turns: a 5-term hot query with 2/5 terms warmed
        fell all the way back to the ~2 s distributed path; the uncovered
        3 terms' payload alone fit the driver budget). Decoded rows are
        cached and recorded, so the NEXT repeat takes the pure
        _fast_from_cache path. kind='bm25' caches the compact normpart
        (-2) entries; kind='tfidf' the raw decoded (-1) tuples."""
        covered, uncovered = cov
        if not covered or not uncovered:
            # fully covered is _fast_from_cache's job; fully uncovered is
            # _fast_scored's — this path only pays off in between
            return None
        if not self._fits(uncovered, False):
            return None
        read = self._post_table(list(_POST_COLS), uncovered)
        by_term: dict[str, list] = {}
        for sh, t, df, docs, tfs, lens in zip(
                *(read[c] for c in _POST_COLS)):
            by_term.setdefault(t, []).append((sh, df, docs, tfs, lens))
        st = self.stats
        k1, b_, avgdl = st["k1"], st["b"], st["avgdl"]
        slot = -2 if plan.kind == "bm25" else -1
        looked: dict[str, list] = {}
        misses = []
        for t in uncovered:  # cache lookups; the misses decode after
            for sh, df, docs, tfs, lens in by_term.get(t, ()):
                row = (sh, df, len(docs))
                base = (self._epoch, sh, t, df, len(docs))
                hit = _DECODED_CACHE.get(base + (slot,))
                miss = None
                if hit is None:
                    miss = len(misses)
                    misses.append((docs, tfs, lens, df))
                looked.setdefault(t, []).append((row, base, hit, miss))
        fresh = _decode_rows(misses)
        chunks = dict(covered)
        decoded: dict[str, set] = {}
        for t in uncovered:
            for row, base, hit, miss in looked.get(t, ()):
                if hit is None:
                    d, tfv, dl = fresh[miss]
                    if plan.kind == "bm25":
                        normpart = _bm25_normpart(
                            tfv.astype(np.float64), dl, k1, b_, avgdl)
                        hit = (d, normpart)
                    else:
                        hit = (d, tfv, dl)
                    _DECODED_CACHE.put(base + (slot,), hit)
                chunks.setdefault(t, []).append((row[0], hit))
                decoded.setdefault(t, set()).add(row)
        self._publish_cached(decoded)
        return self._cached_top_k(plan, chunks)

    def _fast_scored(self, plan: _Plan) -> list | None:
        """Driver fast path: when the matched postings payload is small
        (per-term nbytes from term_stats), point-read the matched rows
        (_post_table) and pass those _Rows straight to the SAME numpy
        exhaustive scorer a distributed task runs on each shard's rows —
        identical arithmetic, identical results, no Spark job. Returns
        None when the payload exceeds fast_path_bytes, falling back to
        the distributed plan."""
        if not self._fits(plan.present, False):
            return None
        # shard included: the decoded-postings cache keys on it
        rows = self._post_table(plan.cols, plan.present)
        uids, sums = plan.scorer(rows)
        # record EVERY matched row so repeat queries can skip the parquet
        # read (_fast_from_cache). Unconditional on purpose: recording
        # only cache-resident rows would leave a term's entry PARTIAL
        # when eviction strikes mid-scorer, and _fast_from_cache would
        # then silently score from a subset of its shards. With the full
        # list, any evicted entry is a get() miss -> clean fallback to
        # the reading path.
        self._publish_cached(_rows_by_term(rows))
        return list(zip(uids.tolist(), sums.tolist()))

    def _fast_phrase(self, plan: _Plan) -> list | None:
        """Driver fast path for the shard-grouped scorer modes (phrase /
        near / bool): per-term byte budget gate like _fast_scored, but
        counting the positions payload too when the read includes it
        (poss_nbytes from term_stats). Then a point read of the plan's
        columns whose _Rows go to the SAME scorer a distributed task
        runs per shard, called ONCE on all the matched rows: it merges
        each term's shard rows into one sorted doc array
        (_decode_merged_terms, which fails loudly on overlapping shard
        ranges), so one scorer pass serves the terms whether they span
        1 shard or 300. The answer is the scorer's (score desc, doc_id
        asc) top-k.

        Repeats skip the parquet read entirely: every reading pass
        records its rows in the _cached_terms bookkeeping, and a later
        call replays the scorer over payload-less _Rows
        (_replay_rows) when every slot that scorer reads is resident.
        Rows the BM25 routes recorded (they cache only the normpart
        slot) therefore go straight to the read; an entry evicted after
        the check raises _FastCacheMiss and the call falls back to the
        reading path. Result-identical to the distributed plan on every
        path."""
        present, scorer, cols = plan.present, plan.scorer, plan.cols
        if not self._fits(present, "poss" in cols):
            return None
        replay = self._replay_rows(plan)
        hits = None
        if replay is not None:
            try:
                hits = scorer(replay)
            except _FastCacheMiss:
                pass  # evicted since the check: take the reading path
        if hits is None:
            read = self._post_table(cols, present)
            # record rows so repeats can replay from the cache (same
            # bookkeeping _fast_scored uses; unconditional for the same
            # partial-entry reason)
            self._publish_cached(_rows_by_term(read))
            hits = scorer(read)
        uids, sums = hits
        return list(zip(uids.tolist(), sums.tolist()))

    def _replay_rows(self, plan: _Plan) -> _Rows | None:
        """The plan's postings rows as recorded in _cached_terms, with
        None payload columns and the recorded payload length ``plen``,
        for a cache-fed pass of the plan's shard-grouped scorer. None
        unless every term has recorded rows, its merged entry (slot -1,
        _decode_merged_terms) is resident and, for the terms whose
        positions the scorer reads (its ``pos_terms``), so are their
        decoded positions (slot -3) or raw blobs (slot -4)."""
        rows, pos_terms = [], plan.scorer.pos_terms
        for t in plan.present:
            known = self._cached_terms.get(t)
            if known is None:
                return None
            trows = sorted(known)  # shard order
            key = _merged_key(self._epoch, t, trows)
            if (key, -1) not in _DECODED_CACHE or (
                    t in pos_terms and (key, -3) not in _DECODED_CACHE
                    and (key, -4) not in _DECODED_CACHE):
                return None
            rows += [(sh, t, df, plen) for sh, df, plen in trows]
        n = len(rows)
        return _Rows(
            {c: [r[i] for r in rows]
             for i, c in enumerate(("shard", "term", "df", "plen"))}
            | {c: [None] * n
               for c in plan.cols if c not in ("shard", "term", "df")}, n)

    def _postings_for(self, terms: list[str], cols: list[str]) -> DataFrame:
        """The postings rows of ``terms`` as a DataFrame of the stored
        ``cols`` (``doc_len`` is attached per task, see _apply_scorer)."""
        from .build import POSTINGS_SCHEMA, POSTINGS_SCHEMA_POS

        # positional indexes carry one extra payload column; reading with
        # the wider schema costs nothing unless a phrase query selects it
        # (parquet column pruning)
        schema = (
            POSTINGS_SCHEMA_POS if self.stats.get("positions")
            else POSTINGS_SCHEMA
        )
        base = self.spark.read.schema(schema).parquet(
            _postings_path(self.index_dir)
        )
        return base.filter(F.col("term").isin(terms)).select(
            *(c for c in cols if c != "doc_len"))

    # -- search ----------------------------------------------------------

    def search_rerank(
        self, query: str, embeddings_path: str, k: int = 10,
        n_candidates: int = 100, mode: str = "pruned", window: int = 8,
        alpha: float = 0.0, query_vec=None, query_vec_id: int | None = None,
        id_col: str = "vec_id", vec_col: str = "embedding",
    ) -> list[tuple[int, float, float]]:
        """Hybrid retrieval: BM25 top-``n_candidates`` (any mode, incl.
        'bool'), then rerank by embedding cosine — the RAG-shaped
        two-stage pattern. Returns [(doc_id, blended_score, bm25)] by
        (blended desc, doc_id asc); blended = alpha*bm25 +
        (1-alpha)*cosine (alpha=0 -> pure cosine rerank; alpha=1 ->
        BM25 order with cosine merely computed).

        The rerank stage is DRIVER-side on purpose: stage 1 already cut
        the corpus to n_candidates ids, so stage 2 is a pyarrow
        point-read of n_candidates embedding rows (id-predicate
        pushdown) + one numpy matmul — no Spark job, same shape at
        10^12 docs because the candidate count, not the corpus, sizes
        it. Candidates without an embedding row are dropped (a missing
        vector cannot be ranked). The query vector comes in directly
        (``query_vec``) or by id (``query_vec_id``) from the same
        table."""
        if (query_vec is None) == (query_vec_id is None):
            raise ValueError("exactly one of query_vec / query_vec_id")
        hits = self.search(query, k=n_candidates, mode=mode, window=window)
        if not hits:
            return []
        import pyarrow.dataset as pads

        ds = pads.dataset(embeddings_path, format="parquet")
        ids = [int(d) for d, _ in hits]
        want = sorted(set(ids) | (
            {int(query_vec_id)} if query_vec_id is not None else set()
        ))
        tbl = ds.to_table(columns=[id_col, vec_col],
                          filter=pads.field(id_col).isin(want))
        vecs = {
            int(i): np.asarray(v, dtype=np.float64)
            for i, v in zip(tbl.column(id_col).to_pylist(),
                            tbl.column(vec_col).to_pylist())
            if v is not None
        }
        if query_vec is not None:
            q = np.asarray(query_vec, dtype=np.float64)
        else:
            q = vecs.get(int(query_vec_id))
            if q is None:
                raise ValueError(
                    f"query_vec_id {query_vec_id} not in {embeddings_path}"
                )
        qn = float(np.sqrt((q * q).sum()))
        out = []
        for d, bm25 in hits:
            v = vecs.get(int(d))
            if v is None:
                continue
            denom = float(np.sqrt((v * v).sum())) * qn
            cos = float(v @ q) / denom if denom else 0.0
            out.append((int(d), alpha * bm25 + (1.0 - alpha) * cos, bm25))
        out.sort(key=lambda r: (-r[1], r[0]))
        return out[:k]

    def _docstore_docids(self, cols: list[str]):
        """Docstore rows with the absolute doc_id derived distributed:
        local_idx + a broadcast shard-offset map — the join key the
        facet / export / filtered-search plans share. Returns a
        DataFrame (doc_id, *cols)."""
        from .build import _tok_path

        items = sorted(
            (int(s), int(o))
            for s, o in self.stats["shard_offsets"].items()
        )
        offs = self.spark.createDataFrame(
            items, "shard int, shard_offset long"
        )
        tok = self.spark.read.parquet(_tok_path(self.index_dir)).select(
            "shard", "local_idx", *cols
        )
        return tok.join(F.broadcast(offs), "shard").select(
            (F.col("local_idx") + F.col("shard_offset")).alias("doc_id"),
            *cols,
        )

    FACET_DRIVER_MAX_DOCS = 100_000

    #: matched-set docs at or under this bound MAY broadcast to the
    #: docstore side of the facet/export/filtered-search joins instead
    #: of shuffle-joining it: the corpus-sized tok projection then never
    #: moves (the 20M-row docstore exchange was the facet wall at sf1),
    #: while the broadcast stays <= ~2M rows x 16 B well inside executor
    #: memory. The bound is decided BEFORE running anything, from
    #: term_stats df (OR: sum of dfs; AND/phrase/near: min df; bool: sum
    #: over positive atoms) — an upper bound on matches, so the gate can
    #: only err toward the always-safe shuffle join.
    FACET_BROADCAST_MAX_DOCS = 2_000_000

    #: ...and only when the match bound is at most 1/this of the corpus:
    #: a broadcast costs ~bound (collect + hash build + per-task probe
    #: setup) while the shuffle costs ~n_docs; a match set comparable to
    #: the corpus gains nothing from broadcasting (measured at 2M turns:
    #: a 1.9M-row broadcast LOST to the 2M-row shuffle, 2.0 s vs 1.3 s
    #: warm, while an 8x-smaller one wins).
    FACET_BROADCAST_MIN_RATIO = 8

    def _join_docstore(self, scored, cols: list[str], bound: int):
        """Join the scored set to the docstore projection, broadcasting
        the scored side when the df-derived match bound allows — the
        corpus-sized tok scan then never shuffles (one broadcast + the
        consumer's tiny aggregate instead of a full-table exchange).
        Row-identical to the shuffle join either way."""
        docs = self._docstore_docids(cols)
        if (
            bound <= self.FACET_BROADCAST_MAX_DOCS
            and bound * self.FACET_BROADCAST_MIN_RATIO
            <= int(self.stats["n_docs"])
        ):
            return docs.join(F.broadcast(scored), "doc_id")
        return scored.join(docs, "doc_id")

    def facet_counts(
        self, query: str, by: str = "role", k: int = 20,
        mode: str = "pruned", window: int = 8,
    ) -> list[tuple[object, int]]:
        """Matched-document counts per value of a docstore column
        ('role', 'conv_id', 'turn_idx') over ALL documents matching the
        query (any mode, incl. 'bool') -> [(value, count)] by
        (count desc, value asc), top ``k`` values.

        Two-tier like everything else: when the matched postings payload
        clears the serving nbytes gate AND the matched set is small, the
        counts come from a driver point-read of the matched tok rows
        (k-row IO, no Spark job); otherwise a distributed plan joins the
        full scored set to the docstore (doc_id derived from local_idx +
        a broadcast shard-offset map — the scored side never leaves its
        shard until the tiny per-value aggregate)."""
        if by not in ("role", "conv_id", "turn_idx"):
            raise ValueError(
                f"facet column {by!r} not in the docstore "
                "(role / conv_id / turn_idx)"
            )
        plan = self._plan(query, mode, 1 << 30, window)
        if plan is None:
            return []
        hits = self._route(plan, whole=True)
        if hits == []:
            return []
        if hits is not None and len(hits) <= self.FACET_DRIVER_MAX_DOCS:
            loc, rows = self._tok_rows(hits, [by])
            val_of = {
                (s, li): v
                for s, li, v in zip(rows["shard"], rows["local_idx"],
                                    rows[by])
            }
            counts: dict = {}
            for d, _s in hits:
                key = loc.get(int(d))
                if key is None or key not in val_of:
                    continue
                v = val_of[key]
                counts[v] = counts.get(v, 0) + 1
            out = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            return out[:k]
        # distributed: full scored set, no global order, tiny final agg
        rows = (
            self._join_docstore(
                self._distributed(plan, _all=True).select("doc_id"), [by],
                plan.bound,
            )
            .groupBy(by)
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc(by))
            .limit(k)
            .collect()
        )
        return [(r[by], int(r["n"])) for r in rows]

    def export_matches(
        self, query: str, out_path: str, mode: str = "pruned",
        window: int = 8, with_scores: bool = True,
    ) -> int:
        """Materialize EVERY document matching the query (any mode,
        incl. 'bool') as parquet at ``out_path`` with columns (conv_id,
        turn_idx, doc_id[, score]) — the curation primitive: "give me
        all turns matching this boolean query" as a dataset, not a
        top-k. Returns the row count.

        Fully distributed and unordered end-to-end: the full scored set
        (no global sort — an export has no rank) joins the docstore on a
        doc_id derived from local_idx + a broadcast shard-offset map, so
        nothing corpus-sized ever reaches the driver."""
        plan = self._plan(query, mode, 1 << 30, window)
        if plan is None:
            # empty by construction: write an empty frame with the same
            # schema so downstream readers see a dataset either way
            schema = "conv_id string, turn_idx int, doc_id long" + (
                ", score double" if with_scores else ""
            )
            empty = self.spark.createDataFrame([], schema)
            empty.write.mode("overwrite").parquet(out_path)
            return 0
        cols = ["conv_id", "turn_idx", "doc_id"] + (
            ["score"] if with_scores else []
        )
        out = self._join_docstore(
            self._distributed(plan, _all=True), ["conv_id", "turn_idx"],
            plan.bound,
        ).select(*cols)
        out.write.mode("overwrite").parquet(out_path)
        return self.spark.read.parquet(out_path).count()

    def search_where(
        self, query: str, where: dict, k: int = 10,
        mode: str = "pruned", window: int = 8,
    ) -> list[tuple[int, float]]:
        """BM25 top-k restricted by docstore attributes: ``where`` maps
        a docstore column ('role', 'conv_id', 'turn_idx') to a required
        value or list of values — e.g. {"role": "assistant"} searches
        only assistant turns. Any query mode, incl. 'bool'. Scores are
        the UNFILTERED BM25 scores (the filter narrows the candidate
        set, it does not re-weight).

        Driver path (payload gate + small matched set): filter the full
        matched list through one point-read of the matched rows'
        attribute columns. Distributed: the unordered full scored set
        joins the docstore attributes (broadcast shard-offset map),
        filters, and ends in TakeOrderedAndProject — the filter never
        touches postings, and nothing corpus-sized reaches the driver."""
        cols = sorted(where)
        for c in cols:
            if c not in ("role", "conv_id", "turn_idx"):
                raise ValueError(
                    f"filter column {c!r} not in the docstore "
                    "(role / conv_id / turn_idx)"
                )
        allow = {
            c: set(v) if isinstance(v, (list, tuple, set)) else {v}
            for c, v in where.items()
        }
        plan = self._plan(query, mode, 1 << 30, window)
        if plan is None:
            return []
        hits = self._route(plan, whole=True)
        if hits == []:
            return []
        if hits is not None and len(hits) <= self.FACET_DRIVER_MAX_DOCS:
            loc, rows = self._tok_rows(hits, cols)
            attr = {
                (s, li): vals
                for s, li, *vals in zip(
                    rows["shard"], rows["local_idx"],
                    *[rows[c] for c in cols],
                )
            }
            out = []
            for d, s in hits:  # hits arrive (score desc, doc_id asc)
                key = loc.get(int(d))
                vals = attr.get(key) if key is not None else None
                if vals is None:
                    continue
                if all(v in allow[c] for c, v in zip(cols, vals)):
                    out.append((int(d), float(s)))
                    if len(out) >= k:
                        break
            return out
        cond = None
        for c in cols:
            clause = F.col(c).isin([v for v in allow[c]])
            cond = clause if cond is None else (cond & clause)
        rows = (
            self._join_docstore(
                self._distributed(plan, _all=True), cols, plan.bound,
            )
            .filter(cond)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def positive_terms(self, query: str, mode: str = "pruned") -> set[str]:
        """The distinct index terms a query scores on — what a snippet
        highlighter should mark. Plain modes: every query term; boolean
        mode: positive atoms only (a NOT-ed term is evidence of
        non-match), with prefix atoms expanded against the dictionary."""
        if mode == "bool":
            pq = parse(query)
            if pq.root is None:
                return set()
            if pq.has_prefix:
                pq = from_root(
                    rewrite_prefixes(pq.root, self.expand_prefix)
                )
            return set(pq.pos_terms)
        return set(tokenize(query))

    def _plan(self, query: str, mode: str, k: int | None, window: int = 8,
              max_expansions: int | None = None,
              kind: str = "bm25") -> _Plan | None:
        """Pass 1 of the reference search (tree.rs:395-416), once per
        query for every route: lex the query (or parse it as boolean,
        expanding prefix atoms), look its terms' dfs up, weight the
        scored terms and build the driver scorer. None when the query
        matches nothing by construction. ``kind='tfidf'`` plans the
        reference TF-IDF (mode 'exhaustive'; ``k`` None = every match).
        Raises ValueError on an unknown mode, a boolean syntax error or
        pure-negative query, and a positional query on a position-less
        index — checked before any early return, so a caller pointing
        phrase queries at such an index hears about it even when this
        query would come back empty."""
        if mode not in ("pruned", "exhaustive", "and", "phrase", "near",
                        "bool"):
            raise ValueError(
                f"unknown search mode {mode!r}: valid modes are pruned, "
                "exhaustive, and, phrase, near and bool"
            )
        pq = parse(query) if mode == "bool" else None
        positional = (pq.has_phrase if pq is not None
                      else mode in ("phrase", "near"))
        if positional and not self.stats.get("positions"):
            what = ("a quoted phrase in a boolean query" if pq is not None
                    else f"{mode} search")
            raise ValueError(
                f"{what} needs an index built with "
                "BuildConfig(positions=True); this index has no "
                "positions payload"
            )
        qoffsets = mult = None
        if pq is not None:
            if pq.has_prefix:
                pq = from_root(rewrite_prefixes(
                    pq.root, lambda p: self.expand_prefix(p, max_expansions)
                ))
            if pq.root is None:
                return None
            terms = sorted(set(pq.pos_terms) | set(pq.neg_terms))
            scored = pq.pos_terms
        elif mode == "phrase":
            qoffsets = {
                t: np.asarray(v, dtype=np.int64)
                for t, v in term_occurrences(query).items()
            }
            terms = scored = sorted(qoffsets)
        elif kind == "tfidf":
            mult = Counter(tokenize(query))
            terms = scored = sorted(mult)
        else:
            terms = scored = sorted(set(tokenize(query)))
        if not terms:
            return None
        dfs = self.global_dfs(terms)
        present = [t for t in terms if dfs[t] > 0]
        if mode in ("and", "phrase", "near") and len(present) < len(terms):
            return None  # a term absent from the corpus empties these
        st = self.stats
        n = st["n_docs"]
        if mult is not None:
            weights = {}
            for t in present:
                m = mult[t]
                weights[t] = m * m * abs(math.log(n / float(m * dfs[t])))
            k1, b, avgdl, k = 0, 0, 1.0, n if k is None else k
        else:
            weights = {t: _bm25_idf(n, dfs[t]) for t in scored if dfs[t]}
            k1, b, avgdl = st["k1"], st["b"], st["avgdl"]
        if not weights:
            return None  # no scored term exists in the corpus
        require = len(present) if mode == "and" else 0
        if pq is not None:
            bound = sum(dfs[t] for t in pq.pos_terms)
        elif mode in ("and", "phrase", "near"):
            bound = min(dfs.values())
        else:
            bound = sum(dfs.values())
        if pq is not None:
            scorer = _make_bool_scorer(pq, weights, k1, b, avgdl, k,
                                       epoch=self._epoch)
        elif mode == "phrase":
            scorer = _make_phrase_scorer(weights, k1, b, avgdl, k, qoffsets,
                                         epoch=self._epoch)
        elif mode == "near":
            scorer = _make_near_scorer(weights, k1, b, avgdl, k, window,
                                       epoch=self._epoch)
        else:
            # the driver always scores exhaustively: with the O(n) dense
            # aggregation + argpartition top-k, one vectorized pass beats
            # the segment-at-a-time pruning loop run serially over every
            # shard (measured 10x on hot terms driver-side; pruning pays
            # off only where per-shard work runs in parallel, i.e. the
            # distributed plan). Results are identical (pruning is exact)
            scorer = _make_exhaustive_scorer(
                weights, k1, b, avgdl, k, kind, epoch=self._epoch,
                require_all=require,
            )
        return _Plan(
            mode, kind, k, present, weights, require, scorer,
            [*_POST_COLS, "poss"] if positional else list(_POST_COLS),
            mode in ("phrase", "near", "bool"), bound,
        )

    def _top_k(self, plan: _Plan | None) -> list[tuple[int, float]]:
        """A planned query's top-k: the first driver route that answers
        (_route), else the distributed plan, collected."""
        if plan is None:
            return []
        hits = self._route(plan)
        if hits is None:
            hits = [(r["doc_id"], r["score"])
                    for r in self._distributed(plan).collect()]
        return hits

    def _distributed(self, plan: _Plan, _all: bool = False) -> DataFrame:
        """The distributed plan of a planned query: its top-k by (score
        desc, doc_id asc), or with ``_all`` every matching doc, unordered
        (facet/export plans — a global sort of the full matched set is
        exactly what those consumers don't want). Pruned and AND queries
        score with their block-max scorers here, which only a
        distributed task runs; with ``_all`` pruning can skip nothing,
        so pruned keeps the exhaustive scorer."""
        st = self.stats
        scorer, cols = plan.scorer, plan.cols
        if plan.mode == "and":
            scorer = _make_and_scorer(
                plan.weights, st["k1"], st["b"], st["avgdl"], plan.k,
                st["block_size"], n_required=plan.require,
                epoch=self._epoch,
            )
            cols = [*cols, "blocks"]
        elif plan.mode == "pruned" and not _all:
            scorer = _make_pruned_scorer(
                plan.weights, st["k1"], st["b"], st["avgdl"], plan.k,
                st["block_size"], shard_ub_scale=self._ub_scale or None,
                epoch=self._epoch,
            )
            cols = [*cols, "blocks"]
        scored = self._apply_scorer(self._postings_for(plan.present, cols),
                                    scorer)
        self.last_path = "distributed"
        if _all:
            return scored
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(plan.k)

    def search_bool(self, query: str, k: int = 10,
                    max_expansions: int | None = None,
                    ) -> list[tuple[int, float]]:
        """Boolean-language BM25 top-k (see boolquery.py): AND / OR /
        NOT, parentheses, quoted phrases, `word*` prefix atoms,
        implicit AND. Matching docs score BM25 over the distinct
        positive terms they contain. Also reachable as
        search(query, k, mode='bool')."""
        return self._top_k(self._plan(query, "bool", k,
                                      max_expansions=max_expansions))

    def search(
        self, query: str, k: int = 10, mode: str = "pruned",
        window: int = 8,
    ) -> list[tuple[int, float]]:
        """BM25 top-k -> [(doc_id, score)].

        mode 'pruned' | 'exhaustive' (disjunctive, reference-parity
        OR semantics) | 'and' (conjunctive: only docs containing ALL
        distinct query terms; BM25 scoring of survivors is unchanged —
        an extension beyond the OR-only reference, SURVEY §2.7) |
        'phrase' (positional: only docs containing the query terms as a
        contiguous phrase, stop-word gaps respected; needs an index
        built with BuildConfig(positions=True)) | 'near' (positional
        proximity: only docs whose distinct query terms co-occur within
        a ``window``-token span, unordered; same positional-index
        requirement). ``window`` applies to mode='near' only.

        mode 'bool' treats the query as the boolean language
        (search_bool): AND / OR / NOT, parentheses, quoted phrases.
        Any other mode raises ValueError.

        Small matched postings sets take a driver route (see _route)
        regardless of mode — its scoring is result-identical to the
        distributed modes."""
        return self._top_k(self._plan(query, mode, k, window))

    def search_df(self, query: str, k: int = 10, mode: str = "pruned",
                  window: int = 8, _all: bool = False):
        """The distributed plan of ``search`` as an uncollected DataFrame
        (doc_id, score), or None when the query matches nothing by
        construction. ``_all``: every matching doc, unordered."""
        plan = self._plan(query, mode, (1 << 30) if _all else k, window)
        return None if plan is None else self._distributed(plan, _all)

    def _apply_scorer(self, postings: DataFrame, scorer):
        """Shuffle-free when whole-file tasks are guaranteed (score in
        place via mapInArrow); otherwise exchange by shard first
        (applyInArrow). Either way the scorer sees each shard's Arrow
        table as _Rows (_table_rows) with the shard's DocLens, which the
        task reads from that shard's tok files (_TaskDocLens)."""
        doc_lens = _TaskDocLens(_tok_path(self.index_dir),
                                self._reads.offsets)
        if self._whole_file_tasks:
            # re-pin the split-size confs on every query: another reader's
            # close() may have restored lower priors session-wide, which
            # would silently split a postings file across tasks and break
            # the per-shard grouping this plan relies on
            if self._need_bytes is not None:
                for key in ("spark.sql.files.maxPartitionBytes",
                            "spark.sql.files.openCostInBytes"):
                    cur = _parse_bytes(self.spark.conf.get(key))
                    if cur is None or cur < self._need_bytes:
                        self.spark.conf.set(key, str(self._need_bytes))
            return postings.mapInArrow(
                _shard_grouped(scorer, doc_lens), schema=_SCORE_SCHEMA
            )
        return postings.groupBy("shard").applyInArrow(
            lambda tbl: pa.Table.from_batches([_score_batch(scorer(
                _attach_doc_lens(_table_rows(tbl), doc_lens)))]),
            schema=_SCORE_SCHEMA,
        )

    def search_tfidf(self, query: str, k: int | None = 10) -> list[tuple[int, float]]:
        """Reference-parity TF-IDF search incl. quirks Q3/Q9 (tree.rs:388-465)."""
        return self._top_k(self._plan(query, "exhaustive", k, kind="tfidf"))

    def _tok_rows(self, hits: list[tuple[int, float]], columns: list[str]):
        """doc_id -> (shard, local_idx) via the stats map, then one point
        read of ``columns`` of the matched tok rows (shard pruning +
        local_idx addressing — k rows, metadata-sized IO, no Spark job).
        Returns (locations, _Rows with shard and local_idx first)."""
        from .build import locate_doc_ids

        def lookup(reads):
            # located inside the retry: a refresh re-derives the bounds
            loc = locate_doc_ids(self.stats, [int(d) for d, _ in hits],
                                 self._doc_bounds)
            want: dict[int, set] = {}
            for s, li in loc.values():
                want.setdefault(s, set()).add(li)
            rows = reads["tok"].read(
                ["shard", "local_idx", *columns],
                shard_keys={s: sorted(v) for s, v in want.items()},
            )
            return loc, rows

        return self._with_reads(lookup)

    def resolve_local(
        self, hits: list[tuple[int, float]]
    ) -> list[dict]:
        """Driver-side resolve for serving paths: one tok point read of
        the matched rows (_tok_rows). Same output rows as resolve(),
        list-of-dict instead of a DataFrame."""
        if not hits:
            return []
        loc, rows = self._tok_rows(hits, ["conv_id", "turn_idx"])
        by_key = {
            (s, li): (c, t)
            for s, li, c, t in zip(rows["shard"], rows["local_idx"],
                                   rows["conv_id"], rows["turn_idx"])
        }
        out = []
        for d, score in hits:
            key = loc.get(int(d))
            if key is None or key not in by_key:
                continue
            conv_id, turn_idx = by_key[key]
            out.append({
                "conv_id": conv_id, "turn_idx": turn_idx,
                "doc_id": int(d), "score": float(score),
            })
        return out

    def resolve(self, hits: list[tuple[int, float]]) -> DataFrame:
        """doc_id -> (conv_id, turn_idx) resolution (J1, tree.rs:454-459):
        broadcast the tiny top-k side; doc_ids are translated driver-side
        to (shard, local_idx) so the tok scan gets shard PARTITION
        pruning + local_idx row-group pruning (better than filtering a
        computed doc_id column)."""
        from .build import _tok_path, locate_doc_ids

        loc = locate_doc_ids(self.stats, [int(d) for d, _ in hits],
                             self._doc_bounds)
        rows = [
            (*loc[int(d)], int(d), float(s)) for d, s in hits if int(d) in loc
        ]
        hits_df = self.spark.createDataFrame(
            rows, "shard int, local_idx long, doc_id long, score double"
        )
        tok = self.spark.read.parquet(_tok_path(self.index_dir)).filter(
            F.col("shard").isin(sorted({r[0] for r in rows}))
            & F.col("local_idx").isin(sorted({r[1] for r in rows}))
        )
        return (
            tok.join(F.broadcast(hits_df), ["shard", "local_idx"])
            .select("conv_id", "turn_idx", "doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )
