"""The driver's one-pass scoring of phrase / near / bool queries: every
shard's rows go through ONE scorer call (same-term rows merged across
shards) with a batched postings decode, and must equal the distributed
per-shard plan."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pytest

import indexer_spark.query as Q
from indexer_spark.build import (
    BuildConfig,
    append_index,
    build_index,
    compact_index,
    read_stats,
)
from indexer_spark.compress import BLOCK_SIZE, DocLens, decode_postings
from indexer_spark.lexer import tokenize
from indexer_spark.query import IndexReader
from indexer_spark.synth import gen_transcripts


def _random_rows(rng, n_rows, max_df=300):
    """(docs gaps int64, tfs int32, doc_len DocLens, df) payloads as a
    point read hands them to a scorer, and the (docs, tfs, dls) they
    hold. Every row's docs lie in one shard of ``n_docs`` documents from
    doc id ``base`` (past 2**32), whose int32 lengths the DocLens reads
    as two row-group runs."""
    n_docs, base = 1 << 15, int(rng.integers(1 << 33, 1 << 35))
    lens = rng.integers(0, 1 << 16, size=n_docs).astype(np.int32)
    doc_len = DocLens(base, [(0, lens[:20_000]), (20_000, lens[20_000:])])
    rows, want = [], []
    for i in range(n_rows):
        df = 1 if i % 3 == 0 else int(rng.integers(2, max_df))
        local = np.sort(rng.choice(n_docs, df, replace=False))
        if i % 4 == 0:
            local[0] = 0  # the shard's first document
            local = np.unique(local)
            df = local.size
        docs = base + local
        tfs = rng.integers(1, 1 << int(rng.integers(1, 20)), size=df)
        rows.append((np.diff(docs, prepend=0), tfs.astype(np.int32),
                     doc_len, df))
        want.append((docs, tfs, lens[local].astype(np.int64)))
    return rows, want


def test_decode_rows_matches_per_row_decode():
    """Rows on both sides of BLOCK_SIZE postings, and more rows than
    one block holds."""
    rng = np.random.default_rng(3)
    for n_rows in (1, 2, 7, 40, 400):
        rows, want = _random_rows(rng, n_rows)
        got = Q._decode_rows(rows)
        assert len(got) == n_rows
        for (d_g, tf_v, dl_v, df), g, w in zip(rows, got, want):
            ref = decode_postings(d_g, tf_v, dl_v, df)
            for a, r, orig in zip(g, ref, w):
                assert a.dtype == r.dtype == np.int64
                np.testing.assert_array_equal(a, r)
                np.testing.assert_array_equal(a, orig)
                # owns its memory: the decoded LRU's nbytes accounting
                # must not be pinning the cached row group's buffers
                assert a.base is None and a.flags.owndata
    assert Q._decode_rows([]) == []


def test_decode_rows_decodes_each_row_once(monkeypatch):
    """Every row, small or large, is one decode_postings call, in row
    order: perfbench's decode_postings wrapper sees every decoded
    posting."""
    rows, _ = _random_rows(np.random.default_rng(7), 300, BLOCK_SIZE)
    big, _ = _random_rows(np.random.default_rng(8), 3, 4 * BLOCK_SIZE)
    big = [r for r in big if r[3] > BLOCK_SIZE]
    calls = []
    real = Q.decode_postings
    monkeypatch.setattr(
        Q, "decode_postings", lambda *a: calls.append(a[3]) or real(*a))
    Q._decode_rows(rows + big)
    assert calls == [r[3] for r in rows + big] and big


def test_decode_rows_lru_accounting_is_exact():
    rows, _ = _random_rows(np.random.default_rng(4), 12)
    cache = Q._DecodedLRU(1 << 30)
    for i, tup in enumerate(Q._decode_rows(rows)):
        cache.put(("k", i), tup)
    assert cache._bytes == sum(24 * r[3] for r in rows)


def test_decode_rows_cache_fed_none_row_raises():
    rows, _ = _random_rows(np.random.default_rng(5), 4)
    rows[2] = (None, None, None, rows[2][3])
    with pytest.raises(Q._FastCacheMiss):
        Q._decode_rows(rows)


def test_decode_rows_rejects_misaligned_rows():
    """A row whose lists do not all hold df values fails loudly, also
    when the counts of its neighbours balance it in total."""
    rows, _ = _random_rows(np.random.default_rng(6), 3, BLOCK_SIZE)
    (d0, t0, l0, n0), (d1, t1, l1, n1) = rows[0], rows[1]
    # move one value of the first row into the second: totals unchanged
    moved = [(d0, t0, l0, n0 + 1), (d1, t1, l1, n1 - 1), rows[2]]
    with pytest.raises(ValueError):
        Q._decode_rows(moved)
    # a row one tf short of its df, and one doc gap short
    cut = [(d0, t0[:-1], l0, n0), rows[1]]
    with pytest.raises(ValueError):
        Q._decode_rows(cut)
    with pytest.raises(ValueError):
        Q._decode_rows([(d0[:-1], t0, l0, n0)])


def test_shard_grouped_scores_each_shard_once_on_all_its_rows():
    """One task's batches hold shard 0, then shard 1, then shard 0 again
    (the layout append_index leaves): each shard is scored exactly once,
    on all of its rows, and equals scoring that shard's rows alone."""
    rng = np.random.default_rng(12)
    rows = []  # (shard, term, df, docs, tfs)
    for shard, lo in ((0, 0), (1, 5000)):
        for term in ("alpha", "beta", "gamma"):
            df = int(rng.integers(1, 300))
            docs = np.sort(rng.choice(5000, df, replace=False)) + lo
            tfs = rng.integers(1, 9, size=df)
            rows.append((shard, term, df, np.diff(docs, prepend=0).tolist(),
                         tfs.tolist()))
    lens = rng.integers(1, 60, size=10_000).astype(np.int32)
    opened = []

    def doc_lens(shard):  # what a task reads from the shard's tok files
        opened.append(shard)
        lo = shard * 5000
        return DocLens(lo, [(0, lens[lo:lo + 5000])])

    names = ["shard", "term", "df", "docs", "tfs"]
    schema = pa.schema([("shard", pa.int32()), ("term", pa.string()),
                        ("df", pa.int64()), ("docs", pa.list_(pa.int64())),
                        ("tfs", pa.list_(pa.int32()))])

    def batch(rs):
        return pa.RecordBatch.from_arrays(
            [pa.array([r[i] for r in rs], schema.field(i).type)
             for i in range(len(names))], schema=schema)

    a0, a1, a2, b0, b1, b2 = rows
    batches = [batch([a1, a0]), batch([]), batch([b2, b0]),
               batch([a2, b1])]
    scorer = Q._make_exhaustive_scorer(
        {"alpha": 1.3, "beta": 0.7, "gamma": 2.1}, 1.2, 0.75, 20.0, 50,
        "bm25")
    seen = []

    def recording(rows):
        seen.append(sorted(zip(rows["shard"], rows["term"])))
        return scorer(rows)

    out = list(Q._shard_grouped(recording, doc_lens)(iter(batches)))
    assert seen == [[(0, "alpha"), (0, "beta"), (0, "gamma")],
                    [(1, "alpha"), (1, "beta"), (1, "gamma")]]
    assert opened == [0, 1]  # each shard's lengths loaded once
    assert len(out) == 2
    for got, own in zip(out, ([a0, a1, a2], [b0, b1, b2])):
        own_rows = Q._attach_doc_lens(
            Q._table_rows(pa.Table.from_batches([batch(own)])), doc_lens)
        ids, sc = scorer(own_rows)
        assert got.schema.names == ["doc_id", "score"]
        assert got["doc_id"].to_pylist() == ids.tolist() and ids.size
        assert got["score"].to_pylist() == sc.tolist()
        # and the scores use each posting's own document length
        want = {}
        for _sh, term, _df, gaps, tfs in own:
            w = {"alpha": 1.3, "beta": 0.7, "gamma": 2.1}[term]
            for d, tf in zip(np.cumsum(gaps).tolist(), tfs):
                want[d] = want.get(d, 0.0) + w * tf * 2.2 / (
                    tf + 1.2 * (0.25 + 0.75 * int(lens[d]) / 20.0))
        for d, s in zip(ids.tolist(), sc.tolist()):
            assert abs(want[d] - s) <= 1e-9 * want[d]
    assert list(Q._shard_grouped(recording, doc_lens)(
        iter([batch([])]))) == []


CFG = dict(shard_docs=256, block_size=32, id_partitions=4, positions=True)


def _partial_terms(index_dir):
    """Terms present in some shards but not all (df >= 3), mid-df first."""
    tbl = pads.dataset(f"{index_dir}/postings", format="parquet",
                       partitioning="hive").to_table(
        columns=["shard", "term", "df"]).to_pandas()
    n_shards = tbl["shard"].nunique()
    per = tbl.groupby("term").agg(n=("shard", "nunique"), df=("df", "sum"))
    cand = per[(per["n"] > 1) & (per["n"] < n_shards) & (per["df"] >= 3)]
    terms = list(cand.sort_values("df").index)
    mid = len(terms) // 2
    return terms[mid:] + terms[:mid]


def _queries(corpus, partial_terms):
    rng = np.random.default_rng(11)
    texts = [t for t in corpus["text"].tolist() if t]
    pairs = []
    for i in rng.permutation(len(texts)):
        w = [x for x in texts[int(i)].split() if x.isalpha()]
        if len(w) >= 4:
            pairs.append(w)
        if len(pairs) == 3:
            break
    # a raw word that lexes to a partial-shard term, with its neighbours
    around = None
    for term in partial_terms:
        for t in texts:
            words = t.split()
            js = [j for j, x in enumerate(words) if tokenize(x) == [term]]
            if js:
                around = words[max(js[0] - 1, 0): js[0] + 2]
                partial = words[js[0]]
                break
        if around:
            break
    assert around, "no partial-shard term occurs as a raw word"
    out = [("phrase", f"{w[0]} {w[1]}") for w in pairs]
    out += [("phrase", " ".join(around))]
    out += [("near", f"{w[0]} {w[3]}") for w in pairs]
    out += [("near", f"{partial} {pairs[0][0]}")]
    out += [
        ("bool", f'"{pairs[0][0]} {pairs[0][1]}" OR {pairs[1][2]}'),
        ("bool", f"{pairs[1][0]} AND NOT {pairs[2][1]}"),
        ("bool", f"{partial} OR {pairs[2][0]}"),
        ("bool", f"({partial} OR {pairs[0][2]}) AND NOT {pairs[1][1]}"),
    ]
    return out


def _plan_hits(reader, mode, q):
    plan = reader.search_df(q, k=10, mode=mode)
    return [] if plan is None else [
        (r["doc_id"], r["score"]) for r in plan.collect()]


def _check_state(spark, index_dir, corpus, state):
    assert read_stats(index_dir)["n_shards"] >= 4, state
    queries = _queries(corpus, _partial_terms(index_dir))
    fast = IndexReader(spark, index_dir)
    assert fast._whole_file_tasks, state
    # the same plan with the groupBy(shard).applyInArrow exchange instead
    # of the shuffle-free mapInArrow one
    exchange = IndexReader(spark, index_dir)
    exchange._whole_file_tasks = False
    n_hit = 0
    try:
        for mode, q in queries:
            want = _plan_hits(fast, mode, q)
            assert _plan_hits(exchange, mode, q) == want, (state, q)
            for rep in ("read", "replay"):  # parquet, then cache-fed
                got = fast.search(q, k=10, mode=mode)
                why = (state, q, rep)
                assert fast.last_path == f"fast_{mode}", why
                assert [d for d, _ in got] == [d for d, _ in want], why
                np.testing.assert_allclose(
                    [s for _, s in got], [s for _, s in want],
                    rtol=0, atol=1e-9)
            n_hit += bool(want)
    finally:
        exchange.close()
        fast.close()
    assert n_hit >= 6, state  # queries are sliced from real docs


def test_merged_pass_equals_distributed_plan(spark, tmp_path_factory):
    """As built, after append_index and after compaction: phrase, near
    and bool answers of the driver route (first read and cache-fed
    replay) equal the distributed per-shard plan, whose shuffle-free
    (mapInArrow) and exchange (applyInArrow) forms agree exactly. This
    pins the shard-order / doc-range assumption the merge relies on
    (_decode_merged_terms fails loudly if it breaks)."""
    base = gen_transcripts(900, seed=21)
    extra = gen_transcripts(400, seed=22)
    extra["conv_id"] = "zz_" + extra["conv_id"]
    d = str(tmp_path_factory.mktemp("merged_pass"))
    build_index(spark, spark.createDataFrame(base), d, BuildConfig(**CFG))
    _check_state(spark, d, base, "built")
    append_index(spark, spark.createDataFrame(extra), d)
    both = pd.concat([base, extra], ignore_index=True)
    _check_state(spark, d, both, "appended")
    out = str(tmp_path_factory.mktemp("merged_pass_compact"))
    compact_index(spark, d, out, BuildConfig(**CFG))
    _check_state(spark, out, both, "compacted")
