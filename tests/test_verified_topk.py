"""Score-ordered positional verification and the per-term decoded
entries it reads.

Phrase and near scorers score every conjunction candidate first and
verify positions only down the (score desc, doc_id asc) order until k
match (_verified_top_k); the driver path keeps ONE merged decoded entry
per term, and a term's positions decode whole at most once, when its
candidates cover enough of it. These tests pin the answers to
exhaustive verification, the driver route to the distributed plan, and
the cache behaviour of repeats. Also here: the bincount aggregation of
_aggregate_scores and the partitioned _topk_merge."""

import itertools
from unittest import mock

import numpy as np
import pyarrow.dataset as pads
import pytest
from hypothesis import given, settings, strategies as st

import indexer_spark.query as Q
from indexer_spark.compress import DocLens, encode_positions
from indexer_spark.lexer import tokenize
from indexer_spark.query import IndexReader

VOCAB = ("ant", "bee", "cat")
K1, B = 1.2, 0.75


def _corpus(rng, n_docs):
    """Per doc: {term: sorted positions} over VOCAB (other slots are
    unindexed fillers) and its length. Short docs over three terms give
    many candidates and many tied scores."""
    docs, lens = [], []
    for _ in range(n_docs):
        n = int(rng.integers(1, 10))
        slots = rng.integers(0, len(VOCAB) + 1, size=n)
        docs.append({t: np.flatnonzero(slots == i).astype(np.int64)
                     for i, t in enumerate(VOCAB)})
        # few distinct lengths: scores tie across docs
        lens.append(int(rng.choice([4, 9])) if rng.random() < 0.7 else n)
    return docs, np.asarray(lens, dtype=np.int32)


def _rows(docs, lens, n_shards, terms):
    """The postings _Rows a point read gives for ``terms`` of a corpus
    split into ``n_shards`` contiguous doc-id ranges (shards partition
    doc ids in shard order), positions payload included."""
    cuts = np.linspace(0, len(docs), n_shards + 1).astype(int)
    cols = {c: [] for c in (*Q._POST_COLS, "poss")}
    for sh, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        doc_len = DocLens(int(lo), [(0, lens[lo:hi])])
        for t in terms:
            ids = [d for d in range(lo, hi) if docs[d][t].size]
            if not ids:
                continue
            ids = np.asarray(ids, dtype=np.int64)
            cols["shard"].append(sh)
            cols["term"].append(t)
            cols["df"].append(ids.size)
            cols["docs"].append(np.diff(ids, prepend=0))
            cols["tfs"].append(np.asarray(
                [docs[d][t].size for d in ids], dtype=np.int32))
            cols["doc_len"].append(doc_len)
            cols["poss"].append(b"".join(
                encode_positions(docs[d][t]) for d in ids))
    return Q._Rows(cols, len(cols["term"]))


def _replay(rows):
    """``rows`` as a cache-fed pass sees them: no payload, the recorded
    payload length ``plen`` instead."""
    n = rows.num_rows
    return Q._Rows(
        {"shard": rows["shard"], "term": rows["term"], "df": rows["df"],
         "plen": [len(d) for d in rows["docs"]]}
        | {c: [None] * n for c in ("docs", "tfs", "doc_len", "poss")}, n)


def _phrase_match(doc, query):
    return any(all(p + off in set(doc[t].tolist())
                   for off, t in enumerate(query))
               for p in doc[query[0]].tolist())


def _near_match(doc, terms, window):
    return any(max(c) - min(c) <= window for c in itertools.product(
        *(doc[t].tolist() for t in terms)))


_EPOCHS = itertools.count()


def _answers(make, rows, k):
    """The scorer's answer without a cache, then through the decoded
    LRU: a reading pass and a cache-fed replay (fresh epoch, so keys of
    other examples never collide). Each of the three runs twice: with
    the default decode policy, and with every term's positions decoded
    per candidate (_POSS_FULL_MIN_FRACTION 0)."""
    out = []
    for frac in (Q._POSS_FULL_MIN_FRACTION, 0):
        with mock.patch.object(Q, "_POSS_FULL_MIN_FRACTION", frac):
            cached = make(k, ("verified_topk", next(_EPOCHS)))
            out += [make(k, None)(rows), cached(rows), cached(_replay(rows))]
    return [(ids.tolist(), scores.tobytes()) for ids, scores in out]


def _check_mode(docs, lens, n_shards, terms, make, match, k):
    """Every k's answer equals the head of the exhaustive one (k=None),
    and that one holds exactly the matching docs, ranked by (score
    desc, doc_id asc)."""
    rows = _rows(docs, lens, n_shards, terms)
    full = _answers(make, rows, None)
    assert full[1:] == full[:1] * (len(full) - 1)
    ids, raw = full[0]
    scores = np.frombuffer(raw, dtype=np.float64)
    assert sorted(ids) == [d for d in range(len(docs)) if match(docs[d])]
    assert sorted(zip(-scores, ids)) == list(zip(-scores, ids))
    for kk in k:
        want = (ids[:kk], scores[:kk].tobytes())
        assert _answers(make, rows, kk) == [want] * len(full), kk


def _idf(docs, terms):
    return {t: Q._bm25_idf(len(docs), sum(bool(d[t].size) for d in docs))
            for t in sorted(set(terms))}


_K = st.lists(st.integers(1, 70), min_size=1, max_size=3)


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**32 - 1), n_docs=st.integers(1, 60),
       n_shards=st.integers(1, 3),
       query=st.lists(st.sampled_from(VOCAB), min_size=1, max_size=3),
       k=_K)
def test_phrase_score_ordered_equals_exhaustive(seed, n_docs, n_shards,
                                                query, k):
    """Ties at the k-th score, fewer than k matches, k >= the candidate
    count and k=None; one and several shards; repeated query terms."""
    docs, lens = _corpus(np.random.default_rng(seed), n_docs)
    idf = _idf(docs, query)
    qoff = {t: [i for i, x in enumerate(query) if x == t] for t in idf}
    avgdl = float(lens.mean())

    def make(kk, epoch):
        return Q._make_phrase_scorer(idf, K1, B, avgdl, kk, qoff,
                                     epoch=epoch)

    _check_mode(docs, lens, n_shards, list(idf), make,
                lambda d: _phrase_match(d, query), k)


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**32 - 1), n_docs=st.integers(1, 60),
       n_shards=st.integers(1, 3),
       terms=st.sets(st.sampled_from(VOCAB), min_size=1),
       window=st.integers(0, 6), k=_K)
def test_near_score_ordered_equals_exhaustive(seed, n_docs, n_shards,
                                              terms, window, k):
    docs, lens = _corpus(np.random.default_rng(seed), n_docs)
    idf = _idf(docs, terms)
    avgdl = float(lens.mean())

    def make(kk, epoch):
        return Q._make_near_scorer(idf, K1, B, avgdl, kk, window,
                                   epoch=epoch)

    _check_mode(docs, lens, n_shards, list(idf), make,
                lambda d: _near_match(d, list(idf), window), k)


@settings(max_examples=200, deadline=None)
@given(seed=st.integers(0, 2**32 - 1), n=st.integers(1, 400),
       k=st.one_of(st.none(), st.integers(1, 450)),
       p_match=st.sampled_from([0.0, 0.02, 0.3, 1.0]))
def test_verified_top_k_verifies_each_candidate_at_most_once(seed, n, k,
                                                             p_match):
    """Against a plain sort of the matches, with scores from four
    values (ties everywhere): the answer is the same and no candidate
    is verified twice."""
    rng = np.random.default_rng(seed)
    cand = np.sort(rng.choice(10 * n, n, replace=False)).astype(np.int64)
    score = rng.integers(0, 4, size=n).astype(np.float64)
    match = rng.random(n) < p_match
    seen = []

    def verify(sub):
        seen.extend(sub.tolist())
        return match[sub]

    ids, sc = Q._verified_top_k(cand, score, k, verify)
    want = sorted(zip(-score[match], cand[match]))[:k]
    assert list(zip(-sc, ids)) == want
    assert len(seen) == len(set(seen))
    if k is None or k >= n:
        assert len(seen) == n


def _loop_aggregate(id_chunks, score_chunks, n_required=0):
    """The per-chunk fancy ``+=`` accumulator _aggregate_scores used
    before the bincount, with nonzero's float scan."""
    nonempty = [c for c in id_chunks if c.size]
    if not nonempty or len(nonempty) < n_required:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    lo = min(int(c[0]) for c in nonempty)
    span = max(int(c[-1]) for c in nonempty) - lo + 1
    acc = np.zeros(span, dtype=np.float64)
    cnt = np.zeros(span, dtype=np.int32)
    for d, s in zip(id_chunks, score_chunks):
        if d.size:
            acc[d - lo] += s
            cnt[d - lo] += 1
    hit = np.nonzero(cnt == n_required if n_required else acc)[0]
    return hit + lo, acc[hit]


@settings(max_examples=200, deadline=None)
@given(seed=st.integers(0, 2**32 - 1), n_chunks=st.integers(0, 16),
       require=st.booleans())
def test_aggregate_scores_bincount_is_bit_identical_to_loop(seed, n_chunks,
                                                            require):
    """OR and AND, with exact cancellations (sums of +x and -x), signed
    zeros and empty chunks among the chunks."""
    rng = np.random.default_rng(seed)
    base = int(rng.integers(0, 1 << 40))
    vals = np.array([0.0, -0.0, 0.1, -0.1, 1.5, -1.5, 1e-17, 3.0])
    ids, scores = [], []
    for _ in range(n_chunks):
        n = int(rng.integers(0, 60))
        ids.append(base + np.sort(rng.choice(200, n, replace=False)))
        s = rng.normal(size=n)
        pick = rng.random(n) < 0.5
        s[pick] = rng.choice(vals, size=int(pick.sum()))
        scores.append(s)
    n_req = len(ids) if require else 0
    got = Q._aggregate_scores(ids, scores, n_req)
    want = _loop_aggregate(ids, scores, n_req)
    assert got[0].tolist() == want[0].tolist()
    assert got[1].tobytes() == want[1].tobytes()


@settings(max_examples=200, deadline=None)
@given(seed=st.integers(0, 2**32 - 1), n=st.integers(1, 300),
       k=st.integers(1, 80))
def test_topk_merge_keeps_ties_at_the_kth_score(seed, n, k):
    """Past 4k candidates the partition runs first; ties across the
    k-th score still resolve doc_id ascending."""
    rng = np.random.default_rng(seed)
    ids = rng.permutation(5 * n)[:n].astype(np.int64)
    scores = rng.integers(0, 3, size=n).astype(np.float64)
    got_ids, got_sc = Q._topk_merge(ids, scores, k)
    want = sorted(zip(-scores, ids))[:k]
    assert list(zip(-got_sc, got_ids)) == want


@pytest.mark.parametrize("cap, whole", [(20_000, False), (1 << 27, True)])
def test_positions_larger_than_the_lru_share_stay_undecoded(monkeypatch, cap,
                                                            whole):
    """Two terms in all of 200 docs over two shards (every doc a phrase
    match): a whole decode of either would take ~38 KB, more than a
    20 KB LRU can spare, so only the candidates' lists decode, and the
    merged entries and raw blobs (~10 KB) stay cached. A 128 MiB LRU
    keeps the decoded positions instead. The answer is the uncached
    one either way."""
    cache = Q._DecodedLRU(cap)
    monkeypatch.setattr(Q, "_DECODED_CACHE", cache)
    docs = [{"ant": np.array([0, 5]), "bee": np.array([1, 9]),
             "cat": np.zeros(0, dtype=np.int64)} for _ in range(200)]
    rows = _rows(docs, np.full(200, 12, dtype=np.int32), 2, ["ant", "bee"])
    idf = _idf(docs, ["ant", "bee"])
    qoff = {"ant": [0], "bee": [1]}

    def make(epoch):
        return Q._make_phrase_scorer(idf, K1, B, 12.0, 10, qoff, epoch=epoch)

    want = make(None)(rows)
    got = make(("lru_share", cap))(rows)
    assert got[0].tolist() == want[0].tolist() == list(range(10))
    assert got[1].tobytes() == want[1].tobytes()
    slots = sorted(key[-1] for key in cache._d)
    assert slots == ([-3, -3, -1, -1] if whole else [-4, -4, -1, -1])


# -- driver route on a multi-shard index ----------------------------------


def _every_shard_pair(index_dir, corpus_pdf):
    """A raw adjacent word pair whose terms both occur in every shard."""
    tbl = pads.dataset(f"{index_dir}/postings", format="parquet",
                       partitioning="hive").to_table(
        columns=["shard", "term"]).to_pandas()
    per = tbl.groupby("term")["shard"].nunique()
    wide = set(per[per == tbl["shard"].nunique()].index)
    for text in corpus_pdf["text"].tolist():
        words = str(text or "").split()
        for w1, w2 in zip(words, words[1:]):
            t1, t2 = tokenize(w1), tokenize(w2)
            if (len(t1) == len(t2) == 1 and t1 != t2
                    and {t1[0], t2[0]} <= wide):
                return f"{w1} {w2}"
    raise AssertionError("no adjacent pair of every-shard terms")


@pytest.fixture
def fresh_cache(monkeypatch):
    """An empty decoded LRU for this test alone."""
    cache = Q._DecodedLRU()
    monkeypatch.setattr(Q, "_DECODED_CACHE", cache)
    return cache


def test_repeated_phrase_reads_no_parquet_and_decodes_no_positions(
        spark, pos_index, corpus_pdf, fresh_cache, monkeypatch):
    """Once a phrase query has decoded each term's positions whole (its
    conjunction covers the terms: the coverage bar is lifted here), its
    repeat gathers from the cached entries: no point read, no positions
    decode, and no raw blob is kept beside the decoded positions."""
    index_dir, _ = pos_index
    q = _every_shard_pair(index_dir, corpus_pdf)
    monkeypatch.setattr(Q, "_POSS_FULL_MIN_FRACTION", 1 << 30)
    reader = IndexReader(spark, index_dir)
    try:
        decodes = []
        for name in ("decode_positions", "decode_positions_select"):
            monkeypatch.setattr(Q, name, lambda *a, _f=getattr(Q, name),
                                _n=name: decodes.append(_n) or _f(*a))
        first = reader.search(q, k=5, mode="phrase")
        assert reader.last_path == "fast_phrase" and first
        assert decodes == ["decode_positions"] * 2
        slots = [key for key in fresh_cache._d if key[-1] in (-3, -4)]
        assert sorted(k[-1] for k in slots) == [-3, -3]
        assert all(len(k[0]) > 1 for k in slots)  # merged over shards
        decodes.clear()
        monkeypatch.setattr(
            reader, "_post_table",
            lambda *a: pytest.fail("the repeat read parquet"))
        assert reader.search(q, k=5, mode="phrase") == first
        assert reader.last_path == "fast_phrase" and decodes == []
    finally:
        reader.close()


@pytest.mark.parametrize("knob, value", [
    ("_POSS_FULL_MIN_FRACTION", 0),  # a conjunction too selective
    ("_POSS_FULL_MAX_SHARE", 1 << 40),  # a decode too large for the LRU
])
def test_positions_decode_per_candidate_unless_worth_keeping(
        spark, pos_index, corpus_pdf, fresh_cache, monkeypatch, knob, value):
    """When the whole decode does not pay (candidates cover too little
    of a term) or would not fit the decoded LRU, only the candidates'
    lists decode: nothing decodes whole, no positions entry is cached,
    the raw blobs are, and the repeat reads no parquet. Answers match
    the whole-decode policy's."""
    index_dir, _ = pos_index
    q = _every_shard_pair(index_dir, corpus_pdf)
    reader = IndexReader(spark, index_dir)
    try:
        want = {mode: reader.search(q, k=5, mode=mode)
                for mode in ("phrase", "near")}
        fresh_cache.clear()
        reader._cached_terms.clear()
        monkeypatch.setattr(Q, knob, value)
        monkeypatch.setattr(Q, "decode_positions",
                            lambda *a: pytest.fail("decoded whole"))
        for mode in ("phrase", "near"):
            assert reader.search(q, k=5, mode=mode) == want[mode]
        keys = [k for k in fresh_cache._d if k[-1] in (-3, -4)]
        assert keys and all(k[-1] == -4 for k in keys)
        monkeypatch.setattr(
            reader, "_post_table",
            lambda *a: pytest.fail("the repeat read parquet"))
        for mode in ("phrase", "near"):
            assert reader.search(q, k=5, mode=mode) == want[mode]
            assert reader.last_path == f"fast_{mode}"
    finally:
        reader.close()


def test_phrase_after_bm25_runs_its_scorer_once(spark, pos_index, corpus_pdf,
                                                fresh_cache, monkeypatch):
    """A BM25 query records the terms' rows with only its normpart
    entries cached: the phrase query that follows goes straight to the
    read instead of a replay that would miss and score twice."""
    index_dir, _ = pos_index
    q = _every_shard_pair(index_dir, corpus_pdf)
    reader = IndexReader(spark, index_dir)
    try:
        reader.search(q, k=5, mode="exhaustive")
        assert all(t in reader._cached_terms for t in tokenize(q))
        passes = []
        real = Q._decode_merged_terms
        monkeypatch.setattr(Q, "_decode_merged_terms",
                            lambda *a: passes.append(1) or real(*a))
        assert reader.search(q, k=5, mode="phrase")
        assert reader.last_path == "fast_phrase" and len(passes) == 1
    finally:
        reader.close()


def test_driver_equals_distributed_when_verification_stops_early(
        spark, pos_index, corpus_pdf):
    """Wide candidate sets (a loose near window, common phrases) with a
    small k: the driver's single merged pass stops verifying early, the
    per-shard tasks of the distributed plan each stop on their own, and
    the answers agree exactly."""
    index_dir, _ = pos_index
    pair = _every_shard_pair(index_dir, corpus_pdf)
    reader = IndexReader(spark, index_dir)
    try:
        for mode, q, kw in (("near", pair, {"window": 30}),
                            ("near", pair, {"window": 2}),
                            ("phrase", pair, {})):
            for k in (1, 3):
                got = reader.search(q, k=k, mode=mode, **kw)
                assert reader.last_path == f"fast_{mode}", (q, mode)
                plan = reader.search_df(q, k=k, mode=mode, **kw)
                want = [(r["doc_id"], r["score"]) for r in plan.collect()]
                assert got == want and got, (q, mode, k)
    finally:
        reader.close()
