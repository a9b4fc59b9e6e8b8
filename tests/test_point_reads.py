"""The reader's driver point-read layer (footer-indexed files + decoded
column-chunk cache) against pyarrow.dataset scans of the same index."""

import os
import sys
import threading

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

import indexer_spark.query as Q
from indexer_spark.build import BuildConfig, append_index, build_index
from indexer_spark.query import IndexReader
from indexer_spark.synth import gen_transcripts

CFG = dict(shard_docs=256, block_size=32, id_partitions=3, positions=True,
           row_group_bytes=8 << 10)
POST_COLS = ["shard", "term", "df", "docs", "tfs", "dls", "poss"]


@pytest.fixture(scope="module")
def small_rg_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("point_reads"))
    build_index(spark, spark.createDataFrame(gen_transcripts(1500, seed=7)),
                d, BuildConfig(**CFG))
    return d


def _dataset(index_dir, table):
    return pads.dataset(os.path.join(index_dir, table), format="parquet",
                        partitioning=None if table == "term_stats" else "hive")


def _vocab(index_dir):
    return sorted(_dataset(index_dir, "term_stats").to_table(
        columns=["term"]).column("term").to_pylist())


def test_several_row_groups_per_postings_file(small_rg_index):
    files = _dataset(small_rg_index, "postings").files
    assert len(files) > 1
    assert max(pq.ParquetFile(f).metadata.num_row_groups for f in files) > 1


def test_term_reads_match_dataset(spark, small_rg_index):
    vocab = _vocab(small_rg_index)
    rng = np.random.default_rng(5)
    post = _dataset(small_rg_index, "postings")
    ts = _dataset(small_rg_index, "term_stats")
    r = IndexReader(spark, small_rg_index)
    try:
        for n in (1, 3, 17, 60):
            terms = [str(t) for t in rng.choice(vocab, n, replace=False)]
            terms.append("zzzz_not_a_term")
            want = post.to_table(columns=POST_COLS,
                                 filter=pads.field("term").isin(terms))
            got = r._post_table(POST_COLS, terms)
            assert got.num_rows > 0
            assert got.schema == want.schema
            assert got.equals(want), n  # same rows, same order
            assert got.nbytes == want.nbytes
            cols = ["term", "df", "nbytes", "poss_nbytes"]
            want_ts = ts.to_table(columns=cols,
                                  filter=pads.field("term").isin(terms))
            got_ts = r._reads["term_stats"].read(cols, keys=sorted(terms))
            assert got_ts.equals(want_ts), n
        lo, hi = vocab[len(vocab) // 3], vocab[len(vocab) // 2]
        want = ts.to_table(
            columns=["term", "df"],
            filter=(pads.field("term") >= lo) & (pads.field("term") < hi))
        got = r._reads["term_stats"].read(["term", "df"], key_range=(lo, hi))
        assert got.num_rows > 0 and got.equals(want)
        want = post.to_table(columns=POST_COLS,
                             filter=pads.field("term").isin(["zzzz_not_a_term"]))
        # nothing requested that exists -> empty table, dataset schema
        empty = r._post_table(POST_COLS, ["zzzz_not_a_term"])
        assert empty.num_rows == 0 and empty.schema == want.schema
    finally:
        r.close()


def test_tok_reads_match_dataset(spark, small_rg_index):
    tok = _dataset(small_rg_index, "tok")
    pairs = tok.to_table(columns=["shard", "local_idx"])
    shards = pairs.column("shard").to_numpy()
    locs = pairs.column("local_idx").to_numpy()
    cols = ["shard", "local_idx", "conv_id", "turn_idx"]
    rng = np.random.default_rng(9)
    r = IndexReader(spark, small_rg_index)
    try:
        for n in (1, 10, 40):
            pick = rng.choice(len(locs), n, replace=False)
            want_keys: dict[int, set] = {}
            for i in pick:
                want_keys.setdefault(int(shards[i]), set()).add(int(locs[i]))
            filt = None
            for s, li in want_keys.items():
                f = (pads.field("shard") == s) & pads.field(
                    "local_idx").isin(sorted(li))
                filt = f if filt is None else (filt | f)
            want = tok.to_table(columns=cols, filter=filt)
            got = r._reads["tok"].read(
                cols, shard_keys={s: sorted(v) for s, v in want_keys.items()})
            assert got.num_rows == len({(int(shards[i]), int(locs[i]))
                                        for i in pick})
            assert got.equals(want), n
    finally:
        r.close()


def test_only_covering_row_groups_are_read(spark, small_rg_index,
                                           monkeypatch):
    """Row-group pruning: a term read touches exactly the (file, row
    group) pairs whose footer term range covers a requested term."""
    touched: list[tuple[str, int]] = []
    orig = Q._chunks

    def counting(f, rg, columns):
        touched.append((f.path, rg))
        return orig(f, rg, columns)

    monkeypatch.setattr(Q, "_chunks", counting)
    vocab = _vocab(small_rg_index)
    terms = sorted([vocab[5], vocab[len(vocab) // 2], vocab[-3]])
    want, total = set(), 0
    for f in _dataset(small_rg_index, "postings").files:
        md = pq.ParquetFile(f).metadata
        ci = md.schema.names.index("term")
        for rg in range(md.num_row_groups):
            total += 1
            st = md.row_group(rg).column(ci).statistics
            if any(st.min <= t <= st.max for t in terms):
                want.add((f, rg))
    r = IndexReader(spark, small_rg_index)
    try:
        tbl = r._post_table(["shard", "term", "df"], terms)
    finally:
        r.close()
    assert set(tbl.column("term").to_pylist()) == set(terms)
    assert set(touched) == want
    assert len(want) < total  # the footer ranges pruned something


def test_chunk_cache_byte_accounting_and_discard():
    import pyarrow as pa

    cache = Q._DecodedLRU(1 << 20)
    a = pa.array(np.arange(1000, dtype=np.int64))
    b = np.arange(10, dtype=np.float64)
    cache.put(("a",), (a,))
    cache.put(("b",), (b, b))
    assert cache._bytes == a.nbytes + 2 * b.nbytes
    assert cache.pin(("a",))
    cache.discard(("a",))
    cache.discard(("missing",))
    assert cache.get(("a",)) is None and ("a",) not in cache._pins
    assert cache._bytes == 2 * b.nbytes
    cache.discard(("b",))
    assert cache._bytes == 0 and not cache._d


def test_reader_refreshes_after_append(spark, tmp_path):
    """A long-lived, warmed reader serves the appended snapshot after its
    next point read (a changed term_stats file), then answers and
    resolves exactly like a fresh reader — even for terms it had warmed
    and cached before the append."""
    a = gen_transcripts(700, seed=31)
    b = gen_transcripts(500, seed=32)
    b["conv_id"] = "zz_" + b["conv_id"]
    d = str(tmp_path / "refresh")
    cfg = BuildConfig(block_size=32, id_partitions=2, positions=True,
                      row_group_bytes=8 << 10)
    build_index(spark, spark.createDataFrame(a), d, cfg)
    words = [w for w in " ".join(a["text"].head(30)).split() if w.isalpha()]
    queries = [words[0], f"{words[1]} {words[2]}", f"{words[3]} {words[4]}"]
    old = IndexReader(spark, d)
    try:
        assert old.warm_hot_terms(4) > 0
        for q in queries:
            old.resolve_local(old.search(q, 10))
            old.search(q, 10, mode="phrase")
            old.search_tfidf(q, 10)
        epoch0 = old._epoch
        append_index(spark, spark.createDataFrame(b), d, cfg)
        old.global_dfs(["qqq_never_indexed"])  # the next point read
        assert old._epoch != epoch0
        fresh = IndexReader(spark, d)
        try:
            for q in queries + [" ".join(b["text"].iloc[0].split()[:2])]:
                hits = fresh.search(q, 10)
                assert old.search(q, 10) == hits, q
                assert old.resolve_local(hits) == fresh.resolve_local(hits)
                assert old.search_tfidf(q, 10) == fresh.search_tfidf(q, 10)
                assert (old.search(q, 10, mode="phrase")
                        == fresh.search(q, 10, mode="phrase"))
        finally:
            fresh.close()
    finally:
        old.close()


def test_first_touch_publishes_complete_shard_set(spark, small_rg_index):
    """Two threads on first touch of the same term: a request that sees
    the term in _cached_terms while the other is still in its reading
    pass must see every shard of it, not the ones recorded so far."""
    want_reader = IndexReader(spark, small_rg_index)
    ts = _dataset(small_rg_index, "term_stats").to_table(
        columns=["term", "df"])
    # a term spread over every shard
    term = ts.column("term")[int(np.argmax(ts.column("df").to_numpy()))].as_py()
    want = want_reader.search(term, 10)
    want_reader.close()
    assert want
    reader = IndexReader(spark, small_rg_index)
    first = threading.current_thread()
    seen: list = []

    class Published(dict):
        """Runs a concurrent request right after the first bookkeeping
        write of the reading thread lands."""
        fired = False

        def __setitem__(self, key, value):
            super().__setitem__(key, value)
            if not Published.fired and threading.current_thread() is first:
                Published.fired = True
                t = threading.Thread(
                    target=lambda: seen.append(reader.search(term, 10)))
                t.start()
                t.join(timeout=120)
                assert not t.is_alive()

    reader._cached_terms = Published()
    try:
        got = reader.search(term, 10)
    finally:
        reader.close()
    assert Published.fired and seen
    assert got == want
    assert seen[0] == want


def test_concurrent_first_touch_stress(spark, small_rg_index):
    """More threads than cores, fast thread switching, one fresh reader:
    every concurrent first-touch answer (fast routes + resolve) equals
    the single-threaded one."""
    vocab = _vocab(small_rg_index)
    rng = np.random.default_rng(13)
    queries = [" ".join(rng.choice(vocab, 2, replace=False))
               for _ in range(6)]
    ref = IndexReader(spark, small_rg_index)
    try:
        want = {}
        for q in queries:
            hits = ref.search(q, 10)
            want[q] = (hits, ref.resolve_local(hits),
                       ref.search(q, 10, mode="phrase"))
    finally:
        ref.close()
    reader = IndexReader(spark, small_rg_index)
    with Q._CHUNK_CACHE._lock:
        Q._CHUNK_CACHE._d.clear()
        Q._CHUNK_CACHE._bytes = 0
    errors: list = []

    def work(i):
        try:
            for q in queries[i % 3:] + queries[:i % 3]:
                hits = reader.search(q, 10)
                got = (hits, reader.resolve_local(hits),
                       reader.search(q, 10, mode="phrase"))
                if got != want[q]:
                    errors.append((q, got))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    prior = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(i,))
                   for i in range(2 * (os.cpu_count() or 2))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(prior)
        reader.close()
    assert not errors, errors[:2]
    with Q._CHUNK_CACHE._lock:
        assert Q._CHUNK_CACHE._bytes == sum(
            a.nbytes for v in Q._CHUNK_CACHE._d.values() for a in v)
