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
POST_COLS = ["shard", "term", "df", "docs", "tfs", "poss"]


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


def _pylists(rows):
    """_Rows as Python lists: a numpy view cell (an integer-list
    column's) as the list of its values, which is what ``to_pylist``
    gives for it."""
    return {c: [v.tolist() if isinstance(v, np.ndarray) else v for v in col]
            for c, col in rows.items()}


def _same(got, want):
    """A point read's _Rows hold the dataset scan's ``want``: the same
    columns in the same order, and the same values in the same row
    order."""
    assert list(got) == want.column_names
    assert got.num_rows == want.num_rows
    return _pylists(got) == want.to_pydict()


def _records(paths):
    """_CHUNK_CACHE's records of the row groups of the files ``paths``."""
    paths = set(paths)
    with Q._CHUNK_CACHE._lock:
        assert Q._CHUNK_CACHE._bytes == sum(
            a.nbytes for v in Q._CHUNK_CACHE._d.values() for a in v)
        return [v[0] for k, v in Q._CHUNK_CACHE._d.items() if k[0] in paths]


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
            assert _same(got, want), n  # same rows, same order
            cols = ["term", "df", "nbytes", "poss_nbytes"]
            want_ts = ts.to_table(columns=cols,
                                  filter=pads.field("term").isin(terms))
            got_ts = r._reads["term_stats"].read(cols, keys=sorted(terms))
            assert _same(got_ts, want_ts), n
        lo, hi = vocab[len(vocab) // 3], vocab[len(vocab) // 2]
        want = ts.to_table(
            columns=["term", "df"],
            filter=(pads.field("term") >= lo) & (pads.field("term") < hi))
        got = r._reads["term_stats"].read(["term", "df"], key_range=(lo, hi))
        assert got.num_rows > 0 and _same(got, want)
        want = post.to_table(columns=POST_COLS,
                             filter=pads.field("term").isin(["zzzz_not_a_term"]))
        # nothing requested that exists -> every column, no rows
        empty = r._post_table(POST_COLS, ["zzzz_not_a_term"])
        assert _same(empty, want) and empty.nbytes == want.nbytes
    finally:
        r.close()


def test_post_read_rows_and_bytes_match_an_arrow_table(spark,
                                                       small_rg_index):
    """The traced post_read figures (_post_table's num_rows and nbytes)
    are those of the same rows as one Arrow table of the dataset types:
    each file's matched rows taken from it, the hive shard column added
    and the parts joined into one chunk per column. That is what the
    read returned when it was an Arrow table, so the figures stay
    comparable across versions. (A tok read of one shard returned a
    slice that kept the validity bitmap the parquet decoder attached,
    so its nbytes could be larger by that bitmap; tok reads are not
    traced.)"""
    import pyarrow as pa
    import pyarrow.compute as pc

    vocab = _vocab(small_rg_index)
    rng = np.random.default_rng(17)
    post = _dataset(small_rg_index, "postings")
    cols = ["term", "df", "docs", "tfs", "poss"]
    r = IndexReader(spark, small_rg_index)
    try:
        for n in (1, 2, 3, 9, 40):
            terms = sorted(str(t) for t in rng.choice(vocab, n,
                                                      replace=False))
            parts = []
            for frag in post.get_fragments():
                shard = pads.get_partition_keys(
                    frag.partition_expression)["shard"]
                tbl = pq.read_table(frag.path, columns=cols)
                rows = np.flatnonzero(pc.is_in(
                    tbl["term"], pa.array(terms)).to_numpy(
                        zero_copy_only=False))
                part = tbl.take(rows)
                parts.append(part.add_column(0, post.schema.field("shard"),
                             pa.array(np.full(len(rows), shard), pa.int32())))
            want = pa.concat_tables(parts).combine_chunks()
            got = r._post_table(["shard", *cols], terms)
            assert got.num_rows == want.num_rows > 0, terms
            assert got.nbytes == want.nbytes, terms
            assert _pylists(got) == want.to_pydict(), terms
    finally:
        r.close()


def test_tok_reads_match_dataset(spark, small_rg_index):
    """Tok reads equal the dataset scan: random requests over several
    shards, a single-shard request of scattered rows and one of a run of
    consecutive local_idx and a single row."""
    tok = _dataset(small_rg_index, "tok")
    pairs = tok.to_table(columns=["shard", "local_idx"])
    shards = pairs.column("shard").to_numpy()
    locs = pairs.column("local_idx").to_numpy()
    cols = ["shard", "local_idx", "conv_id", "turn_idx"]
    rng = np.random.default_rng(9)
    requests = []
    for n in (1, 10, 40):
        pick = rng.choice(len(locs), n, replace=False)
        want_keys: dict[int, set] = {}
        for i in pick:
            want_keys.setdefault(int(shards[i]), set()).add(int(locs[i]))
        requests.append({s: sorted(v) for s, v in want_keys.items()})
    r = IndexReader(spark, small_rg_index)
    fi = r._reads["tok"]
    # a row group holding every local_idx of its footer range
    f = next(f for f in fi.files if f.ranges[0] and f.ranges[0][1]
             - f.ranges[0][0] + 1 >= 16
             and f.md.row_group(0).num_rows
             == f.ranges[0][1] - f.ranges[0][0] + 1)
    lo = f.ranges[0][0]
    requests += [{f.shard: list(range(lo, lo + 16, 2))},  # every other row
                 {f.shard: [lo, lo + 1, lo + 2, lo + 3, lo + 6]}]
    try:
        for req in requests:
            filt = None
            for s, li in req.items():
                flt = (pads.field("shard") == s) & pads.field(
                    "local_idx").isin(li)
                filt = flt if filt is None else (filt | flt)
            want = tok.to_table(columns=cols, filter=filt)
            got = fi.read(cols, shard_keys=req)
            assert got.num_rows == sum(map(len, req.values()))
            assert _same(got, want), req
        # every tok row group holds each local_idx of its range: its
        # rows are addressed by arithmetic, without a key array
        recs = _records(f.path for f in fi.files)
        assert recs and all(type(rec.index) is int for rec in recs)
    finally:
        r.close()


def test_only_covering_row_groups_are_read(spark, small_rg_index,
                                           monkeypatch):
    """Row-group pruning: a term read fetches the record of exactly the
    (file, row group) pairs whose footer term range covers a requested
    term."""
    touched: list[tuple[str, int]] = []
    orig = Q._row_group

    def counting(f, rg, *args):
        touched.append((f.path, rg))
        return orig(f, rg, *args)

    monkeypatch.setattr(Q, "_row_group", counting)
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
        rows = r._post_table(["shard", "term", "df"], terms)
    finally:
        r.close()
    assert set(rows["term"]) == set(terms)
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
    cache.put(("a",), (a,))
    assert cache.pin(("a",))
    cache.clear()
    assert cache._bytes == 0 and not cache._d and not cache._pins


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
    Q._CHUNK_CACHE.clear()
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
        kinds = {type(a).__name__ for v in Q._CHUNK_CACHE._d.values()
                 for a in v}
    # one record per row group: its decoded, conformed arrays and key index
    assert kinds == {"_RowGroup"}, kinds


def test_reads_racing_a_widening_record(small_rg_index):
    """Threads read the same tok rows for different column sets from a
    cold cache, so each row group's record is widened while other
    threads read it: every read equals the dataset scan, and the cache
    ends with one record per row group holding every column read."""
    tok = _dataset(small_rg_index, "tok")
    pairs = tok.to_table(columns=["shard", "local_idx"]).to_pydict()
    rng = np.random.default_rng(23)
    want_keys: dict[int, set] = {}
    for i in rng.choice(len(pairs["shard"]), 60, replace=False):
        want_keys.setdefault(pairs["shard"][i], set()).add(
            pairs["local_idx"][i])
    req = {s: sorted(v) for s, v in want_keys.items()}
    filt = None
    for s, li in req.items():
        flt = (pads.field("shard") == s) & pads.field("local_idx").isin(li)
        filt = flt if filt is None else (filt | flt)
    col_sets = [["shard", "local_idx"], ["shard", "local_idx", "conv_id"],
                ["local_idx", "turn_idx", "role"],
                ["shard", "role", "conv_id", "turn_idx"]]
    want = [tok.to_table(columns=c, filter=filt) for c in col_sets]
    fi = Q._FileIndex(os.path.join(small_rg_index, "tok"), "local_idx",
                      partitioned=True)
    errors: list = []

    def work(i):
        try:
            for j in range(len(col_sets)):
                k = (i + j) % len(col_sets)
                if not _same(fi.read(col_sets[k], shard_keys=req), want[k]):
                    errors.append((i, col_sets[k]))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    prior = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for _round in range(4):
            Q._CHUNK_CACHE.clear()
            threads = [threading.Thread(target=work, args=(i,))
                       for i in range(2 * (os.cpu_count() or 2))]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
                assert not t.is_alive()
    finally:
        sys.setswitchinterval(prior)
    assert not errors, errors[:2]
    recs = _records(f.path for f in fi.files)
    touched = {(f.path, rg) for f in fi.files if f.shard in req
               for rg, r in enumerate(f.ranges)
               if r and any(r[0] <= li <= r[1] for li in req[f.shard])}
    assert len(recs) == len(touched)
    assert all(set(rec.arrays) == {"local_idx", "conv_id", "turn_idx",
                                   "role"} for rec in recs)


def test_scan_of_the_hive_column_alone(small_rg_index):
    """A scan of only the hive shard column decodes nothing: the column
    is built from each file's partition value and footer row counts, and
    equals the dataset scan's. With a stored column beside it, the scan
    equals the dataset scan too."""
    for table, key in (("tok", "local_idx"), ("postings", "term")):
        fi = Q._FileIndex(os.path.join(small_rg_index, table), key,
                          partitioned=True)
        ds = _dataset(small_rg_index, table)
        Q._CHUNK_CACHE.clear()
        got = fi.scan(["shard"])
        assert got.num_rows > 0
        assert got.equals(ds.to_table(columns=["shard"])), table
        assert not _records(f.path for f in fi.files)
        got = fi.scan([key, "shard"])
        assert got.equals(ds.to_table(columns=[key, "shard"])), table


def test_key_range_reads_match_dataset(spark, small_rg_index):
    """A key_range read is a run of rows of each covering row group:
    the same rows, in the same order, as the dataset scan, over postings
    files with several row groups and over term_stats."""
    vocab = _vocab(small_rg_index)
    post = _dataset(small_rg_index, "postings")
    ts = _dataset(small_rg_index, "term_stats")
    r = IndexReader(spark, small_rg_index)
    try:
        for lo, hi in [(vocab[0], vocab[len(vocab) // 4]),
                       (vocab[len(vocab) // 3], vocab[-1] + "\U0010ffff"),
                       (vocab[7], vocab[7] + "\U0010ffff"),
                       (vocab[9], vocab[9]),
                       ("zzzz", "zzzz\U0010ffff")]:
            filt = (pads.field("term") >= lo) & (pads.field("term") < hi)
            want = post.to_table(columns=POST_COLS, filter=filt)
            got = r._reads["postings"].read(POST_COLS, key_range=(lo, hi))
            assert _same(got, want), (lo, hi)
            want = ts.to_table(columns=["term", "df", "nbytes"], filter=filt)
            got = r._reads["term_stats"].read(["term", "df", "nbytes"],
                                              key_range=(lo, hi))
            assert _same(got, want), (lo, hi)
    finally:
        r.close()


def _write_table(path, pdf, row_group_size=None):
    import pyarrow as pa

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   row_group_size=row_group_size)


@pytest.mark.parametrize("key,vals", [
    ("term", ["apple", "cherry", "banana"]),   # out of order
    ("term", ["apple", "banana", "banana"]),   # duplicate key
    ("local_idx", [0, 2, 1]),
    ("local_idx", [0, 1, 1]),
])
def test_unsorted_key_chunk_raises(tmp_path, key, vals):
    """A row group whose key is not strictly increasing fails loudly as
    a fault of the index (not a ValueError, which callers treat as a bad
    query), naming the file and compact_index as the repair."""
    import pandas as pd

    root = str(tmp_path / "table")
    path = os.path.join(root, "shard=0", "part-0.parquet")
    _write_table(path, pd.DataFrame({key: vals, "df": range(len(vals))}))

    def read():
        fi = Q._FileIndex(root, key, partitioned=True)
        return fi.read([key, "df"], shard_keys={0: sorted(set(vals))[:1]})

    for _ in range(2):  # also once the key chunk is cached
        with pytest.raises(Q.UnsortedIndexError,
                           match="part-0.parquet.*compact_index") as exc:
            read()
        assert not isinstance(exc.value, ValueError)


@pytest.mark.parametrize("key,vals", [
    ("term", ["apple", "cherry", "banana", "date"]),
    ("local_idx", [0, 1, 1, 2]),
])
def test_overlapping_row_groups_read_like_dataset(tmp_path, key, vals):
    """Row groups are searched one at a time in file order, so a file
    sorted within each row group but not across them still reads the
    dataset scan's rows, in its order."""
    import pandas as pd

    root = str(tmp_path / "table")
    _write_table(os.path.join(root, "part-0.parquet"),
                 pd.DataFrame({key: vals, "df": range(len(vals))}), 2)
    ds = pads.dataset(root, format="parquet")
    fi = Q._FileIndex(root, key, partitioned=False)
    assert len(fi.files[0].ranges) == 2
    for keys in (sorted(set(vals)), sorted(set(vals))[1:3]):
        want = ds.to_table(columns=[key, "df"],
                           filter=pads.field(key).isin(keys))
        assert _same(fi.read([key, "df"], keys=keys), want), keys


def test_sorted_hand_written_file_reads_by_address(tmp_path):
    """A sorted hand-written file with several row groups reads the same
    rows as the dataset scan: keys that miss, keys in one row group,
    keys spread over row groups, a range and a full scan. A read without
    a filter is refused: the unfiltered read is the scan."""
    import pandas as pd

    root = str(tmp_path / "table")
    terms = [f"t{i:03d}" for i in range(0, 200, 2)]
    pdf = pd.DataFrame({"term": terms, "df": range(len(terms))})
    _write_table(os.path.join(root, "part-0.parquet"), pdf, 16)
    ds = pads.dataset(root, format="parquet")
    fi = Q._FileIndex(root, "term", partitioned=False)
    assert len(fi.files[0].ranges) == 7
    for keys in (["t000"], ["t001", "t005"], ["t010", "t012", "t014"],
                 ["t004", "t040", "t041", "t150", "t198", "t199"],
                 terms):
        want = ds.to_table(columns=["term", "df"],
                           filter=pads.field("term").isin(keys))
        assert _same(fi.read(["term", "df"], keys=sorted(keys)), want), keys
    want = ds.to_table(filter=(pads.field("term") >= "t031")
                       & (pads.field("term") < "t101"))
    assert _same(fi.read(["term", "df"], key_range=("t031", "t101")), want)
    assert fi.scan(["df", "term"]).equals(ds.to_table(columns=["df", "term"]))
    with pytest.raises(TypeError, match="scan"):
        fi.read(["term"])


def test_point_read_cache_entries_are_accounted(tmp_path):
    """A filtered read caches one record per row group: one array per
    decoded column and the key index, here the string keys as a list,
    whose record size counts the list and its str objects. A read of
    one more column widens that record, keeping its arrays and index,
    instead of adding an entry, and _CHUNK_CACHE's byte count stays the
    sum of its entries' nbytes."""
    import pandas as pd

    root = str(tmp_path / "table")
    path = os.path.join(root, "part-0.parquet")
    terms = [f"term{i:04d}" for i in range(300)]
    _write_table(path, pd.DataFrame({"term": terms, "df": range(300),
                                     "extra": np.arange(300) + 0.5}))
    fi = Q._FileIndex(root, "term", partitioned=False)
    assert fi.read(["term", "df"], keys=["term0007"]).num_rows == 1
    mine = _records([path])
    assert len(mine) == 1  # one record for the row group
    rec = mine[0]
    assert isinstance(rec, Q._RowGroup)
    assert list(rec.arrays) == ["term", "df"] and rec.n == 300
    assert rec.index == terms

    def arrays_nbytes(r):
        return sum(a.nbytes for a in r.arrays.values())

    assert rec.nbytes == arrays_nbytes(rec) + sys.getsizeof(rec.index) + sum(
        sys.getsizeof(t) for t in terms)
    assert fi.read(["term", "extra"], keys=["term0009"])["extra"] == [9.5]
    mine = _records([path])
    assert len(mine) == 1
    wide = mine[0]
    assert list(wide.arrays) == ["term", "df", "extra"]
    assert wide.index is rec.index  # carried over, not rebuilt
    assert all(wide.arrays[c] is rec.arrays[c] for c in rec.arrays)
    assert wide.nbytes == arrays_nbytes(wide) + rec.nbytes \
        - arrays_nbytes(rec)


@pytest.mark.parametrize("key,stored,kind", [
    ("local_idx", list(range(100, 300)), int),            # dense
    ("local_idx", list(range(0, 400, 2)), np.ndarray),    # with gaps
    ("term", [f"t{i:03d}" for i in range(0, 400, 2)], list),
])
def test_key_index_cases_read_like_dataset(tmp_path, key, stored, kind):
    """Each key-index case on a file of several row groups: a dense
    integer key (addressed by arithmetic), an integer key with gaps
    (np.searchsorted) and a string key (bisect). Key and key_range
    reads (the shape expand_prefix reads) equal the dataset scan, for
    keys in one and in several row groups,
    between two stored keys and past either end."""
    import pandas as pd

    root = str(tmp_path / "table")
    path = os.path.join(root, "part-0.parquet")
    _write_table(path, pd.DataFrame({key: stored,
                                     "df": range(len(stored))}), 16)
    ds = pads.dataset(root, format="parquet")
    fi = Q._FileIndex(root, key, partitioned=False)
    assert len(fi.files[0].ranges) == 13
    if key == "term":
        below, above = "a", "u"

        def between(v):  # sorts after v, before the next stored key
            return v + "0"
    else:
        below, above = stored[0] - 1, stored[-1] + 1

        def between(v):  # a stored key when the key is dense
            return v + 1
    key_sets = [
        [stored[3]], [stored[0], stored[20], stored[-1]],
        [below, stored[5], between(stored[5]), above], [below, above],
        [between(stored[40]), between(stored[41])], stored]
    for keys in key_sets:
        keys = sorted(set(keys))
        want = ds.to_table(columns=[key, "df"],
                           filter=pads.field(key).isin(keys))
        assert _same(fi.read([key, "df"], keys=keys), want), keys
    for lo, hi in [(stored[10], stored[40]),
                   (between(stored[10]), between(stored[12])),
                   (below, stored[2]), (stored[-3], above), (below, above),
                   (stored[5], stored[5]), (above, below)]:
        want = ds.to_table(columns=[key, "df"], filter=(
            pads.field(key) >= lo) & (pads.field(key) < hi))
        got = fi.read([key, "df"], key_range=(lo, hi))
        assert _same(got, want), (lo, hi)
    recs = _records([path])
    assert len(recs) == 13
    assert all(isinstance(rec.index, kind) for rec in recs), kind


def test_cached_row_groups_follow_the_dataset_types(tmp_path):
    """A snapshot whose dataset schema has other types (inferred from a
    new first file) reads a file another snapshot cached as arrays of
    its own types, not of the old ones."""
    import pandas as pd
    import pyarrow as pa

    root = str(tmp_path / "table")
    old = os.path.join(root, "part-1.parquet")
    os.makedirs(root)
    pq.write_table(pa.table({"term": ["a", "b"],
                             "df": pa.array([1, 2], pa.int32())}), old)
    fi = Q._FileIndex(root, "term", partitioned=False)
    assert fi.read(["term", "df"], keys=["a", "b"])["df"] == [1, 2]
    assert [r.arrays["df"].type for r in _records([old])] == [pa.int32()]
    _write_table(os.path.join(root, "part-0.parquet"),
                 pd.DataFrame({"term": ["c"], "df": [3]}))  # int64
    fi = Q._FileIndex(root, "term", partitioned=False)
    got = fi.read(["term", "df"], keys=["a", "c"])
    want = pads.dataset(root, format="parquet").to_table(
        columns=["term", "df"], filter=pads.field("term").isin(["a", "c"]))
    assert want.schema.field("df").type == pa.int64()
    assert _same(got, want)
    # the old snapshot's record stays; the new one is of the new types
    assert sorted(str(r.arrays["df"].type) for r in _records([old])) == [
        "int32", "int64"]
    assert fi.scan(["term", "df"]).equals(
        pads.dataset(root, format="parquet").to_table(columns=["term", "df"]))


def test_update_keeps_tok_files_sorted(spark, tmp_path):
    """update_index rewrites an affected shard's tok file through a hash
    shuffle; with small input splits the shard's rows reach the writer
    from several tasks. The rewritten file must still be strictly
    local_idx-sorted, and resolve_local must equal resolve."""
    from indexer_spark.build import update_index

    a = gen_transcripts(600, seed=41)
    sa = a.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    d = str(tmp_path / "upd")
    conf = spark.conf
    prior = {k: conf.get(k, None) for k in (
        "parquet.block.size", "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes")}

    def restore():
        for k, v in prior.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)

    try:
        # many row groups: tok rows are the docstore columns only (~30 B
        # each raw), so 300-row shard files need a 2 KiB target for >2
        conf.set("parquet.block.size", str(2 << 10))
        build_index(spark, spark.createDataFrame(a), d,
                    BuildConfig(block_size=32, id_partitions=2))
        restore()
        tok_files = _dataset(d, "tok").files
        assert max(pq.ParquetFile(f).metadata.num_row_groups
                   for f in tok_files) > 2
        conf.set("spark.sql.files.maxPartitionBytes", str(8 << 10))
        conf.set("spark.sql.files.openCostInBytes", "0")
        idx = [3, 150, 299]
        changed = spark.createDataFrame(
            [(sa["conv_id"][i], int(sa["turn_idx"][i]), "zzupd " * 3)
             for i in idx],
            "conv_id string, turn_idx int, text string")
        update_index(spark, changed, d)
    finally:
        restore()
    for f in _dataset(d, "tok").files:
        li = pq.read_table(f, columns=["local_idx"]).column(
            "local_idx").to_numpy()
        assert np.all(np.diff(li) > 0), f
    r = IndexReader(spark, d)
    try:
        hits = r.search("zzupd", 10)
        assert sorted(h[0] for h in hits) == idx
        hits += r.search(sa["text"][200].split()[0], 10)
        want = sorted(
            (row["conv_id"], row["turn_idx"], row["doc_id"])
            for row in r.resolve(hits).collect())
        got = sorted((x["conv_id"], x["turn_idx"], x["doc_id"])
                     for x in r.resolve_local(hits))
        assert got == want and len(got) == len(hits)
    finally:
        r.close()


def test_facets_refresh_after_append(spark, tmp_path):
    """facet_counts and search_where read tok through the point-read
    layer: a reader that served them before append_index answers them
    after it like a fresh reader, for old and appended turns alike."""
    full = gen_transcripts(800, seed=51)  # one vocabulary for a and b
    a, b = full.iloc[:500], full.iloc[500:].copy()
    b["conv_id"] = "zz_" + b["conv_id"]
    d = str(tmp_path / "facets")
    cfg = BuildConfig(block_size=32, id_partitions=2)
    build_index(spark, spark.createDataFrame(a), d, cfg)
    words = a["text"].iloc[0].split()
    q, q0 = words[1], words[3]
    where = {"role": ["user", "assistant"]}
    old = IndexReader(spark, d)
    try:
        # the old snapshot's tok and term_stats footers get indexed
        assert old.facet_counts(q0, by="role")
        assert old.search_where(q0, where)
        append_index(spark, spark.createDataFrame(b), d, cfg)
        fresh = IndexReader(spark, d)
        try:
            for term in (q, q0):
                for by in ("role", "conv_id"):
                    got = old.facet_counts(term, by=by, k=10_000)
                    assert got == fresh.facet_counts(term, by=by, k=10_000)
                convs = [v for v, _ in got]
                assert any(v.startswith("zz_") for v in convs)
                assert any(not v.startswith("zz_") for v in convs)
                for w in (where, {"role": "user"}):
                    got = old.search_where(term, w, k=20)
                    assert got and got == fresh.search_where(term, w, k=20)
        finally:
            fresh.close()
    finally:
        old.close()


def test_doc_lens_read_each_shard_by_address(spark, small_rg_index,
                                             tmp_path):
    """The point-read layer's doc_len accessor equals the dataset scan
    for every shard, also over a hand-written tok file of several row
    groups, and fails loudly on a row group whose local_idx skips."""
    import pyarrow as pa

    tok = _dataset(small_rg_index, "tok")
    r = IndexReader(spark, small_rg_index)
    try:
        offsets = r._reads.offsets
        for shard in sorted(offsets):
            want = tok.to_table(columns=["local_idx", "doc_len"],
                                filter=pads.field("shard") == shard)
            local = want["local_idx"].to_numpy()
            lens = r._reads.doc_lens(shard)
            got = lens(np.sort(local) + offsets[shard])
            assert got.tolist() == want["doc_len"].to_numpy()[
                np.argsort(local)].tolist(), shard
            with pytest.raises(ValueError, match="document lengths"):
                lens(np.array([offsets[shard] + local.size]))
    finally:
        r.close()

    d = tmp_path / "tok" / "shard=3"
    d.mkdir(parents=True)
    lens = np.arange(1000, dtype=np.int32) % 97
    pq.write_table(pa.table({"local_idx": np.arange(1000),
                             "doc_len": lens}), str(d / "part-0.parquet"),
                   row_group_size=300)
    fi = Q._FileIndex(str(tmp_path / "tok"), "local_idx", True)
    runs = fi.runs("doc_len", 3)
    assert [first for first, _ in runs] == [0, 300, 600, 900]
    dl = Q.DocLens(5000, runs)
    ids = np.array([5000, 5299, 5300, 5650, 5999], dtype=np.int64)
    assert dl(ids).tolist() == lens[ids - 5000].tolist()
    assert fi.runs("doc_len", 4) == []
    pq.write_table(pa.table({"local_idx": np.array([0, 1, 3]),
                             "doc_len": np.array([1, 2, 3], np.int32)}),
                   str(d / "part-0.parquet"))
    with pytest.raises(RuntimeError, match="skips"):
        Q._FileIndex(str(tmp_path / "tok"), "local_idx", True).runs(
            "doc_len", 3)
