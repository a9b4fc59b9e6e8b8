"""End-to-end build + query parity: Spark engine vs oracle.

This is the correctness gate from SURVEY.md §5: postings parity, df/N
parity, BM25 and TF-IDF rank identity on the reference query set, and
pruned == exhaustive (the safe-pruning invariant)."""

import math

import pytest
from pyspark.sql import functions as F

from indexer_spark.build import docstore, read_manifest, read_stats
from indexer_spark.query import IndexReader
from indexer_spark.synth import gen_queries

REL_TOL = 1e-9


def test_stats_match_oracle(built_index, oracle_index):
    _, stats = built_index
    assert stats["n_docs"] == oracle_index.n_docs
    assert math.isclose(stats["avgdl"], oracle_index.avgdl, rel_tol=1e-12)


def test_docstore_complete_and_dense(spark, built_index, corpus_pdf):
    index_dir, stats = built_index
    ds = docstore(spark, index_dir)
    n = ds.count()
    assert n == len(corpus_pdf) == stats["n_docs"]
    row = ds.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"),
        F.countDistinct("doc_id").alias("u"),
    ).collect()[0]
    assert row["lo"] == 0 and row["hi"] == n - 1 and row["u"] == n


def test_doc_ids_follow_conv_turn_order(spark, built_index):
    index_dir, _ = built_index
    ds = docstore(spark, index_dir).orderBy("doc_id").collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in ds]
    assert keys == sorted(keys)


def test_doc_len_parity(spark, built_index, oracle_index):
    index_dir, _ = built_index
    ds = docstore(spark, index_dir).select("doc_id", "doc_len").collect()
    got = {r["doc_id"]: r["doc_len"] for r in ds}
    assert got == oracle_index.doc_len


def test_postings_parity(spark, built_index, oracle_index):
    """(term -> sorted [(doc_id, tf)]) from Spark equals oracle exactly."""
    import numpy as np

    from indexer_spark.build import _postings_path
    from indexer_spark.compress import decode_postings

    index_dir, _ = built_index
    from indexer_spark.build import META_TERM

    rows = [
        r for r in spark.read.parquet(_postings_path(index_dir)).collect()
        if r["term"] != META_TERM  # bookkeeping sentinel, not a posting
    ]
    assert "dls" not in rows[0].asDict()

    def doc_len(ids):
        return np.array([oracle_index.doc_len[d] for d in ids.tolist()])

    got: dict[str, list[tuple[int, int]]] = {}
    for r in rows:
        ids, tfs, _dls = decode_postings(r["docs"], r["tfs"], doc_len,
                                         r["df"])
        got.setdefault(r["term"], []).extend(zip(ids.tolist(), tfs.tolist()))
    for t in got:
        got[t].sort()
    assert set(got) == set(oracle_index.postings)
    for t, plist in oracle_index.postings.items():
        assert got[t] == plist, f"postings mismatch for {t!r}"


def test_global_df_parity(spark, built_index, oracle_index):
    from indexer_spark.build import _term_stats_path

    index_dir, _ = built_index
    rows = spark.read.parquet(_term_stats_path(index_dir)).collect()
    got = {r["term"]: r["df"] for r in rows}
    want = {t: len(p) for t, p in oracle_index.postings.items()}
    assert got == want


def test_dl_stream_matches_docstore(spark, built_index, oracle_index):
    """The length the reader gathers for every posting of the index (its
    shard's tok doc_len, through the point-read layer) is the
    docstore's doc_len of the posting's document."""
    from indexer_spark.compress import decode_postings
    from indexer_spark.query import _POST_COLS

    index_dir, _ = built_index
    dl_of = {r["doc_id"]: r["doc_len"] for r in docstore(spark, index_dir)
             .select("doc_id", "doc_len").collect()}
    assert dl_of == oracle_index.doc_len
    reader = IndexReader(spark, index_dir)
    try:
        rows = reader._post_table(list(_POST_COLS),
                                  sorted(oracle_index.postings))
        n = 0
        for _sh, _t, df, docs, tfs, lens in zip(
                *(rows[c] for c in _POST_COLS)):
            ids, _tfs, dls = decode_postings(docs, tfs, lens, df)
            assert dls.tolist() == [dl_of[d] for d in ids.tolist()]
            n += df
        assert n == sum(len(p) for p in oracle_index.postings.values())
    finally:
        reader.close()


@pytest.mark.parametrize("mode", ["exhaustive", "pruned"])
def test_bm25_rank_identity(spark, built_index, oracle_index, mode):
    index_dir, _ = built_index
    # fast_path_bytes=0: this test must exercise the DISTRIBUTED scorers
    reader = IndexReader(spark, index_dir, fast_path_bytes=0)
    for qid, q, k in gen_queries():
        want = oracle_index.search_bm25(q, k)
        got = reader.search(q, k, mode=mode)
        assert [d for d, _ in got] == [d for d, _ in want], (
            f"q{qid} {q!r} ({mode}): doc ranks differ\n got {got}\nwant {want}"
        )
        for (gd, gs), (wd, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=REL_TOL), (qid, q, gd, gs, ws)


def test_bm25_and_rank_identity(spark, built_index, oracle_index):
    """Conjunctive (AND) mode vs the oracle, on both the distributed and
    the driver-fast paths, plus the repeat (decoded-cache) pass."""
    index_dir, _ = built_index
    dist = IndexReader(spark, index_dir, fast_path_bytes=0)
    fast = IndexReader(spark, index_dir)
    queries = [q for _, q, _ in gen_queries() if q.strip()]
    queries += ["run dog", "the", "zzznotaword run", "fox lazy dog"]
    try:
        for q in queries:
            want = oracle_index.search_bm25_and(q, 10)
            for reader in (dist, fast):
                for _rep in range(2):  # second pass hits decoded caches
                    got = reader.search(q, 10, mode="and")
                    assert [d for d, _ in got] == [d for d, _ in want], (
                        f"{q!r}: AND ranks differ\n got {got}\nwant {want}"
                    )
                    for (gd, gs), (wd, ws) in zip(got, want):
                        assert math.isclose(gs, ws, rel_tol=REL_TOL), (q, gd, gs, ws)
            # AND results are a subset of OR results' doc universe with
            # every query term present
            assert all(
                h in dict(oracle_index.search_bm25(q, None)) for h, _ in want
            )
    finally:
        dist.close()
        fast.close()


def test_and_candidate_scorer_identity(spark, built_index, oracle_index,
                                       monkeypatch):
    """With the small-shard fallback disabled, every shard runs the
    candidate-driven AND scorer (rarest term seeds candidates, wider
    terms decode only covering blocks) — results must stay rank- and
    score-identical to the oracle conjunction."""
    import indexer_spark.query as qmod

    monkeypatch.setattr(qmod, "SMALL_SHARD_THRESHOLD", 0)
    index_dir, _ = built_index
    dist = IndexReader(spark, index_dir, fast_path_bytes=0)
    try:
        queries = [q for _, q, _ in gen_queries() if q.strip()]
        queries += ["run dog", "fox lazy dog", "the fox", "zzznotaword run"]
        for q in queries:
            want = oracle_index.search_bm25_and(q, 10)
            got = dist.search(q, 10, mode="and")
            assert [d for d, _ in got] == [d for d, _ in want], (
                f"{q!r}: candidate-AND ranks differ\n got {got}\nwant {want}"
            )
            for (gd, gs), (wd, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=REL_TOL), (q, gd, gs, ws)
    finally:
        dist.close()


def test_and_scorer_skips_hot_term_blocks(built_index, monkeypatch):
    """A selective AND (rare term AND hot term) must decode only the hot
    term's candidate-covering blocks — the point of the candidate-driven
    scorer at scale — while matching the exhaustive conjunction."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    import indexer_spark.query as qmod
    from indexer_spark.build import META_TERM, read_stats

    index_dir, _ = built_index
    st = read_stats(index_dir)
    ds = pads.dataset(os.path.join(index_dir, "postings"),
                      format="parquet", partitioning="hive")
    tbl = ds.to_table(
        columns=["shard", "term", "df", "docs", "tfs", "blocks"])
    tbl = tbl.filter(pc.not_equal(tbl["term"], META_TERM))
    totals: dict = {}
    for t, df in zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()):
        totals[t] = totals.get(t, 0) + df
    by_term = sorted(totals)  # ties go to the smallest term
    hot = max(by_term, key=totals.get)
    rare = min((t for t in by_term if t != hot), key=totals.get)
    sub = tbl.filter(pc.is_in(tbl["term"], pa.array([hot, rare])))
    rows = list(zip(sub["term"].to_pylist(), sub["docs"].to_pylist(),
                    sub["blocks"].to_pylist()))
    n_hot_blocks = sum(len(blocks) for t, _, blocks in rows if t == hot)
    assert n_hot_blocks > 1

    # the scorer reads payloads as numpy views, so match them by value
    docs_to_term = {tuple(docs): t for t, docs, _ in rows}
    decoded = []
    real = qmod.decode_block_slice

    def counting(docs, tfs, lens, blocks, i, j, n, block_size=128):
        decoded.append(docs_to_term.get(tuple(docs.tolist()), "?"))
        return real(docs, tfs, lens, blocks, i, j, n, block_size=block_size)

    monkeypatch.setattr(qmod, "decode_block_slice", counting)
    monkeypatch.setattr(qmod, "SMALL_SHARD_THRESHOLD", 0)
    n = st["n_docs"]
    from indexer_spark.query import _bm25_idf
    idf = {t: _bm25_idf(n, int(totals[t])) for t in (hot, rare)}
    scorer = qmod._make_and_scorer(
        idf, st["k1"], st["b"], st["avgdl"], 10, st["block_size"],
        n_required=2, epoch=None,
    )
    exhaustive = qmod._make_exhaustive_scorer(
        idf, st["k1"], st["b"], st["avgdl"], 10, "bm25", require_all=2,
    )
    doc_lens = qmod._TaskDocLens(
        os.path.join(index_dir, "tok"),
        {int(s): int(o) for s, o in st["shard_offsets"].items()})
    got_parts, want_parts = [], []
    for sh in sorted(set(sub["shard"].to_pylist())):
        g = sub.filter(pc.equal(sub["shard"], sh))
        # a Spark task hands each shard's table to its scorer this way
        rows = qmod._attach_doc_lens(qmod._table_rows(g), doc_lens)
        got_parts.append(scorer(rows))
        want_parts.append(exhaustive(rows))
    for i in (0, 1):  # doc_ids, then scores
        got = np.concatenate([p[i] for p in got_parts])
        want = np.concatenate([p[i] for p in want_parts])
        assert got.tolist() == want.tolist()
    hot_decodes = decoded.count(hot)
    assert hot_decodes < n_hot_blocks, (
        f"decoded {hot_decodes}/{n_hot_blocks} hot-term blocks — "
        "candidate pruning is not skipping anything"
    )


def test_tfidf_rank_identity(spark, built_index, oracle_index):
    index_dir, _ = built_index
    reader = IndexReader(spark, index_dir, fast_path_bytes=0)
    for qid, q, k in gen_queries():
        want = oracle_index.search_tfidf(q, k)
        got = reader.search_tfidf(q, k)
        assert [d for d, _ in got] == [d for d, _ in want], (
            f"q{qid} {q!r}: tfidf ranks differ\n got {got}\nwant {want}"
        )
        for (gd, gs), (wd, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=REL_TOL), (qid, q, gd, gs, ws)


def test_resolve_join(spark, built_index, corpus_pdf, oracle_index):
    index_dir, _ = built_index
    reader = IndexReader(spark, index_dir)
    q = gen_queries()[3][1]
    hits = reader.search(q, 5)
    assert hits
    resolved = reader.resolve(hits).collect()
    assert len(resolved) == len(hits)
    sorted_pdf = corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for r in resolved:
        row = sorted_pdf.iloc[r["doc_id"]]
        assert (row["conv_id"], row["turn_idx"]) == (r["conv_id"], r["turn_idx"])


def test_manifest_covers_all_shards(built_index):
    index_dir, stats = built_index
    m = read_manifest(index_dir)
    shards = {r["shard"] for r in m if r["stage"] == "postings"}
    assert shards == set(range(stats["n_shards"]))
    for r in m:
        if r["stage"] == "postings":
            assert r["status"] == "done"
            assert r["n_bytes"] >= 0 and r["wall_ms"] >= 0
    # stats file round-trips
    assert read_stats(index_dir)["n_docs"] == stats["n_docs"]


def test_manifest_records_stage_walls(built_index):
    """Every build writes its stage walls into the manifest rows: the
    ids row the tokenize job's and the shard-stats read's, each postings
    row the build-and-write job's and the meta-row guard's."""
    index_dir, _ = built_index
    m = read_manifest(index_dir)
    ids = [r for r in m if r["stage"] == "ids"]
    assert len(ids) == 1
    for key in ("tokenize_ms", "shard_stats_ms"):
        assert type(ids[0][key]) is int and 0 <= ids[0][key]
    assert ids[0]["tokenize_ms"] <= ids[0]["wall_ms"]
    post = [r for r in m if r["stage"] == "postings"]
    assert post
    for r in post:
        assert type(r["postings_ms"]) is int and type(r["meta_ms"]) is int
        assert 0 < r["postings_ms"] <= r["wall_ms"] and r["meta_ms"] >= 0


def test_postings_layout_v5(spark, pos_index, tmp_path):
    """On disk, postings docs/tfs are integer lists (doc-id gaps as
    int64, tfs as int32) and store no dls (document lengths live once
    per document, in tok doc_len), blocks carry no byte offsets, tok
    holds exactly the docstore columns (no terms/tfs/poss payload), and
    a postings row whose docs/tfs lists do not hold df values fails the
    query loudly instead of scoring garbage."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    from indexer_spark.build import FORMAT_VERSION, META_TERM

    index_dir, stats = pos_index
    assert FORMAT_VERSION == 5 and stats["format_version"] == 5
    post = pads.dataset(os.path.join(index_dir, "postings"),
                        format="parquet", partitioning="hive").schema
    assert post.field("docs").type == pa.list_(pa.field("element",
                                                        pa.int64()))
    assert post.field("tfs").type == pa.list_(pa.field("element",
                                                       pa.int32()))
    assert "dls" not in post.names
    blk = post.field("blocks").type.value_type
    assert [blk.field(i).name for i in range(blk.num_fields)] == [
        "last_doc_id", "max_tf", "max_norm"]
    assert post.field("poss").type == pa.binary()
    tok = pads.dataset(os.path.join(index_dir, "tok"), format="parquet",
                       partitioning="hive").schema
    assert sorted(tok.names) == sorted([
        "local_idx", "shard", "conv_id", "turn_idx", "role", "doc_len"])
    assert tok.field("doc_len").type == pa.int32()

    # one row's df off by one, in a copy of the index
    bad = str(tmp_path / "bad")
    shutil.copytree(index_dir, bad)
    path = sorted(pads.dataset(os.path.join(bad, "postings"),
                               format="parquet").files)[0]
    tbl = pq.read_table(path)
    terms = tbl.column("term").to_pylist()
    i = next(j for j, t in enumerate(terms)
             if t != META_TERM and t.isalpha())
    df = tbl.column("df").to_numpy().copy()
    df[i] += 1
    pq.write_table(tbl.set_column(tbl.schema.get_field_index("df"), "df",
                                  pa.array(df)), path)
    r = IndexReader(spark, bad)
    try:
        with pytest.raises(ValueError, match="df"):
            r.search(terms[i], 10)
    finally:
        r.close()


def test_older_format_is_refused(spark, built_index, corpus_pdf, tmp_path):
    """An index whose stats.json says format v2, v3 (the v3 postings
    still carry dls) or v4 (the v4 tok still carries the terms payload)
    is refused by the reader and by append_index, with the rebuild
    message naming v5."""
    import json
    import os
    import shutil

    from indexer_spark.build import append_index

    batch = spark.createDataFrame(corpus_pdf.head(5))
    for version in (2, 3, 4):
        old = str(tmp_path / f"v{version}")
        shutil.copytree(built_index[0], old)
        with open(os.path.join(old, "stats.json")) as f:
            st = json.load(f)
        st["format_version"] = version
        with open(os.path.join(old, "stats.json"), "w") as f:
            json.dump(st, f)
        want = rf"format v{version}.*reads/writes v5"
        with pytest.raises(RuntimeError, match=want):
            IndexReader(spark, old)
        with pytest.raises(RuntimeError, match=want):
            append_index(spark, batch, old)


def test_shuffle_free_scorer_matches_exchange_path(spark, built_index):
    """The mapInArrow whole-file-task scorer (no query-time shuffle)
    must be result-identical to the groupBy(shard).applyInArrow exchange
    fallback, for BM25 (pruned, exhaustive and and) and TF-IDF, on
    every reference query. The positional scorers (phrase, near, bool)
    are checked the same way in test_merged_pass.py."""
    index_dir, _ = built_index
    fast = IndexReader(spark, index_dir, fast_path_bytes=0)
    assert fast._whole_file_tasks, "invariant not recorded / conf not set"
    slow = IndexReader(spark, index_dir, fast_path_bytes=0)
    slow._whole_file_tasks = False
    for _, q, k in gen_queries():
        for mode in ("pruned", "exhaustive", "and"):
            assert fast.search(q, k, mode=mode) == slow.search(q, k, mode=mode)
        assert fast.search_tfidf(q, k) == slow.search_tfidf(q, k)


def test_driver_fast_path_identity(spark, built_index, oracle_index):
    """The driver fast path (pyarrow read + same numpy scorer, no Spark
    job) must be result-identical to the distributed plan for BM25 and
    TF-IDF on every reference query, and must actually engage / disengage
    on the nbytes threshold."""
    index_dir, _ = built_index
    fast = IndexReader(spark, index_dir)  # default threshold: engages
    dist = IndexReader(spark, index_dir, fast_path_bytes=0)
    for _, q, k in gen_queries():
        got = fast.search(q, k)
        if got:
            assert fast.last_path == "fast"
        want = dist.search(q, k, mode="exhaustive")
        assert dist.last_path == "distributed"
        assert got == want, q
        assert fast.search_tfidf(q, k) == dist.search_tfidf(q, k), q
        assert fast.search(q, k, mode="pruned") == want  # mode-independent
    # a 1-byte budget can never cover matched postings -> distributed
    tiny = IndexReader(spark, index_dir, fast_path_bytes=1)
    q = gen_queries()[0][1]
    if tiny.search(q, 5):
        assert tiny.last_path == "distributed"


def test_presorted_source_no_shuffle_doc_parity(spark, tmp_path):
    """presorted_source=True skips the ids-stage range shuffle (shard ==
    scan partition). Fed the SAME range-partitioned files the shuffle
    would produce, the no-shuffle build must be byte-identical — and an
    unsorted input must fail loudly, not mis-assign ids."""
    from indexer_spark.build import BuildConfig, META_TERM, build_index
    from indexer_spark.synth import gen_transcripts

    pdf = gen_transcripts(1200, seed=21)
    src = str(tmp_path / "sorted_src")
    (
        spark.createDataFrame(pdf)
        .repartitionByRange(4, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.parquet(src)
    )
    # one scan partition per file (no small-file packing). NOTE: Spark
    # assigns files to scan partitions by SIZE, not name, so shard
    # NUMBERING differs from the shuffle build — the invariant is
    # doc-level parity (same docs, same postings, same scores), which is
    # what a user observes; raw ids are an internal detail in this mode.
    prior = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", str(256 << 20))
    try:
        sdf = spark.read.parquet(src)
        d1, d2 = str(tmp_path / "i_shuffle"), str(tmp_path / "i_presorted")
        build_index(spark, sdf, d1, BuildConfig(block_size=32, id_partitions=4))
        build_index(
            spark, sdf, d2, BuildConfig(block_size=32, presorted_source=True)
        )
        s1, s2 = read_stats(d1), read_stats(d2)
        assert s1["n_docs"] == s2["n_docs"] == 1200
        assert s1["avgdl"] == s2["avgdl"]
        r1 = IndexReader(spark, d1)
        r2 = IndexReader(spark, d2)
        vocab = sorted({w for t in pdf["text"].head(50) for w in t.split()})
        queries = [" ".join(vocab[:3]), vocab[len(vocab) // 2], vocab[-1]]
        for q in queries:
            a = {
                (h["conv_id"], h["turn_idx"], round(h["score"], 9))
                for h in r1.resolve_local(r1.search(q, 20))
            }
            b = {
                (h["conv_id"], h["turn_idx"], round(h["score"], 9))
                for h in r2.resolve_local(r2.search(q, 20))
            }
            assert a == b, q

        # unsorted input under the presorted contract fails loudly
        from py4j.protocol import Py4JJavaError
        from pyspark.errors.exceptions.captured import PythonException

        bad = spark.createDataFrame(pdf).repartition(4)  # hash: unsorted
        with pytest.raises((PythonException, Py4JJavaError), match="not sorted"):
            build_index(
                spark, bad, str(tmp_path / "i_bad"),
                BuildConfig(block_size=32, presorted_source=True),
            )
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", prior)


def test_warm_hot_terms_identity(spark, built_index, oracle_index):
    """Pre-decoding the hottest posting lists (query-service startup
    warm) must change latency only — results stay rank- and
    score-identical on every reference query."""
    from indexer_spark.query import _DECODED_CACHE

    index_dir, _ = built_index
    reader = IndexReader(spark, index_dir)
    warmed = reader.warm_hot_terms(8)
    assert warmed > 0
    # the cache now holds entries under this reader's namespace
    assert any(k[0] == reader._epoch for k in _DECODED_CACHE._d)
    for qid, q, k in gen_queries():
        want = oracle_index.search_bm25(q, k)
        got = reader.search(q, k)
        assert [d for d, _ in got] == [d for d, _ in want], (qid, q)
        for (gd, gs), (wd, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=REL_TOL), (qid, q)


def test_hybrid_partial_coverage_path(spark, built_index, oracle_index,
                                      corpus_pdf):
    """A query mixing a cache-covered term with an uncovered one, whose
    FULL payload exceeds fast_path_bytes but whose uncovered remainder
    fits, must be served by the hybrid driver path (no Spark job),
    oracle-identical — and the repeat must come purely from the cache."""
    from indexer_spark.lexer import tokenize

    index_dir, _ = built_index
    reader = IndexReader(spark, index_dir)
    # pick two corpus words mapping to distinct indexed terms
    cands: dict[str, str] = {}
    for text in corpus_pdf["text"].head(40):
        for w in str(text).split():
            toks = tokenize(w)
            if len(toks) == 1 and oracle_index.df(toks[0]) >= 3:
                cands.setdefault(toks[0], w)
    terms = sorted(cands, key=lambda t: oracle_index.df(t))
    assert len(terms) >= 2
    wa, wb = cands[terms[-1]], cands[terms[0]]  # hot word, smaller word
    q = f"{wa} {wb}"
    # prime coverage for the hot word via a single-term driver query
    first = reader.search(wa, 10)
    assert first and reader.last_path == "fast"
    reader.search(wb, 1)  # populate _nbytes_cache
    nb_a = reader._nbytes_cache.get(terms[-1], 0)
    nb_b = reader._nbytes_cache.get(terms[0], 0)
    assert nb_a > 1 and nb_b > 0
    # full payload over the threshold, uncovered remainder under it
    reader.fast_path_bytes = nb_b + 1
    reader._cached_terms.pop(terms[0], None)  # drop wb's coverage
    want = oracle_index.search_bm25(q, 10)
    got = reader.search(q, 10)
    assert reader.last_path == "fast"
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=REL_TOL)
    # repeat: fully covered now -> pure cache, no parquet read at all
    orig = reader._post_table
    reader._post_table = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("repeat read parquet"))
    try:
        again = reader.search(q, 10)
    finally:
        reader._post_table = orig
    assert again == got
    # conjunctive flavor through the HYBRID branch specifically: drop
    # wb's coverage again so _fast_from_cache refuses and _fast_hybrid's
    # require_all wiring is the thing under test
    reader._cached_terms.pop(terms[0], None)
    want_and = oracle_index.search_bm25_and(q, 10)
    got_and = reader.search(q, 10, mode="and")
    assert reader.last_path == "fast"
    assert [d for d, _ in got_and] == [d for d, _ in want_and]
    for (gd, gs), (wd, ws) in zip(got_and, want_and):
        assert math.isclose(gs, ws, rel_tol=REL_TOL)


def test_tfidf_all_cached_shortcut_identity(spark, built_index, oracle_index):
    """A repeat TF-IDF query whose raw decoded postings are still
    cache-resident must score with NO parquet read (the tfidf twin of
    the bm25 all-cached path) and stay score-identical to both the first
    run and the oracle; an evicted cache must fall back cleanly."""
    index_dir, _ = built_index
    reader = IndexReader(spark, index_dir)
    qid, q, k = gen_queries()[2]
    first = reader.search_tfidf(q, k)
    assert first and reader.last_path == "fast"
    # second run must come from the decoded cache alone: a parquet-read
    # attempt (_fast_scored) would trip the sentinel
    orig = reader._fast_scored
    reader._fast_scored = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("repeat tfidf query read parquet"))
    try:
        again = reader.search_tfidf(q, k)
    finally:
        reader._fast_scored = orig
    assert again == first
    want = oracle_index.search_tfidf(q, k)
    assert [d for d, _ in again] == [d for d, _ in want], (qid, q)
    for (gd, gs), (wd, ws) in zip(again, want):
        assert math.isclose(gs, ws, rel_tol=REL_TOL), (qid, q, gd, gs, ws)
    # eviction: a cleared cache falls back to the reading path, same result
    from indexer_spark.query import _DECODED_CACHE

    _DECODED_CACHE.clear()
    assert reader.search_tfidf(q, k) == first


def test_warm_worker_caches_identity(spark, built_index, oracle_index):
    """Worker-side warm (block entries decoded into every Python
    worker's cache) must change latency only — distributed pruned
    results stay rank- and score-identical, including under a tiny
    budget that cuts the warm short."""
    index_dir, _ = built_index
    # fast_path_bytes=0 forces the distributed scorers the warm targets
    reader = IndexReader(spark, index_dir, fast_path_bytes=0)
    try:
        warmed = reader.warm_worker_caches(4)
        assert warmed > 0  # every task warmed at least one block
        for qid, q, k in gen_queries()[:8]:
            want = oracle_index.search_bm25(q, k)
            got = reader.search(q, k, mode="pruned")
            assert [d for d, _ in got] == [d for d, _ in want], (qid, q)
            for (gd, gs), (wd, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=REL_TOL), (qid, q)
        # budget too small to hold everything: still safe, still exact
        assert reader.warm_worker_caches(4, budget_bytes=1024) >= 0
        q = gen_queries()[0][1]
        got = reader.search(q, 10, mode="pruned")
        want = oracle_index.search_bm25(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want]
    finally:
        reader.close()


def test_warm_wire_narrowing_roundtrip():
    """The warm broadcast's wire narrowing must be lossless and the
    installer must restore the exact int64 arrays decode_block_slice
    would produce — dtype included — at every dtype boundary."""
    import numpy as np

    from indexer_spark.query import (
        _DECODED_CACHE, _narrow_wire, _warm_install_entries,
    )

    for hi, want_dt in [
        (0, np.uint8), (255, np.uint8), (256, np.uint16),
        (65_535, np.uint16), (65_536, np.uint32),
        ((1 << 32) - 1, np.uint32), (1 << 32, np.int64),
    ]:
        a = np.array([0, 1, hi], dtype=np.int64)
        w = _narrow_wire(a)
        assert w.dtype == want_dt, (hi, w.dtype)
        assert np.array_equal(w.astype(np.int64), a)
    assert _narrow_wire(np.array([], dtype=np.int64)).dtype == np.uint8
    # a negative element passes through unchanged instead of wrapping
    neg = np.array([3, -1, 200], dtype=np.int64)
    w = _narrow_wire(neg)
    assert w.dtype == np.int64 and np.array_equal(w, neg)

    d = np.arange(0, 300, dtype=np.int64) * 7  # spans two 128-blocks
    tf = (d % 250) + 1
    dl = d % 70_000 + 1
    key = ("wire-test-epoch", 0, "t", d.size, 999)
    payload = [(key, _narrow_wire(d), _narrow_wire(tf), _narrow_wire(dl))]
    try:
        n = _warm_install_entries(payload, 128, 1 << 20)
        assert n == 3  # ceil(300/128) blocks
        for bi in range(3):
            got = _DECODED_CACHE.get(key + (bi,))
            assert got is not None
            s, e = bi * 128, min((bi + 1) * 128, d.size)
            for g, want in zip(got, (d[s:e], tf[s:e], dl[s:e])):
                assert g.dtype == np.int64
                assert np.array_equal(g, want)
    finally:
        for bi in range(3):
            _DECODED_CACHE.discard(key + (bi,))


def test_parse_bytes():
    from indexer_spark.query import _parse_bytes

    assert _parse_bytes("33554432") == 33554432
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("128MB") == 128 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("1.5k") == 1536
    assert _parse_bytes("nope") is None


def test_locate_doc_ids_edges(built_index):
    from indexer_spark.build import locate_doc_ids, read_stats

    index_dir, stats = built_index
    n = stats["n_docs"]
    loc = locate_doc_ids(stats, [0, n - 1, n, n + 50, -1])
    assert 0 in loc and (n - 1) in loc
    assert n not in loc and (n + 50) not in loc and -1 not in loc
    # round-trip: every located id maps back to itself
    for d, (shard, local) in loc.items():
        assert int(stats["shard_offsets"][str(shard)]) + local == d


# -- property + cache-safety insurance for the O(n) scoring rewrite -------

def test_aggregate_and_topk_match_naive_reference():
    """Property: the dense-range aggregator (and its sparse sort
    fallback) + argpartition top-k equal a naive dict/full-sort
    reference bit-for-bit, including exact-zero drops and tie-breaks."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from indexer_spark.query import _aggregate_scores, _topk_merge

    @settings(max_examples=80, deadline=None)
    @given(st.data())
    def prop(data):
        # sometimes huge sparse offsets to force the sort fallback
        base = data.draw(st.sampled_from([0, 0, 0, 1 << 24]))
        n_chunks = data.draw(st.integers(1, 5))
        id_chunks, sc_chunks = [], []
        for _ in range(n_chunks):
            ids = sorted(data.draw(st.sets(
                st.integers(0, 4000), min_size=0, max_size=60)))
            vals = data.draw(st.lists(
                st.sampled_from([0.0, 1.0, -1.0, 0.5, 2.25, -0.5]),
                min_size=len(ids), max_size=len(ids)))
            id_chunks.append(np.array(ids, dtype=np.int64) + base)
            sc_chunks.append(np.array(vals, dtype=np.float64))
        got_ids, got_sums = _aggregate_scores(id_chunks, sc_chunks)
        want: dict[int, float] = {}
        for ids, sc in zip(id_chunks, sc_chunks):
            for d, s in zip(ids.tolist(), sc.tolist()):
                want[d] = want.get(d, 0.0) + s
        want = {d: s for d, s in want.items() if s != 0.0}
        assert dict(zip(got_ids.tolist(), got_sums.tolist())) == want

        k = data.draw(st.integers(1, 15))
        gi, gs = _topk_merge(got_ids, got_sums, k)
        order = np.lexsort((got_ids, -got_sums))[:k]
        assert gi.tolist() == got_ids[order].tolist()
        assert gs.tolist() == got_sums[order].tolist()

    prop()


def _assert_lengths_current(spark, index_dir, texts, readers=()):
    """BM25 (exhaustive and pruned), AND and phrase answers equal an
    oracle over ``texts`` (in doc-id order) at 1e-9, on the driver route
    of a new reader, the distributed route and each of ``readers``: no
    scorer reads a stale document length."""
    from indexer_spark.oracle import OracleIndex

    oracle = OracleIndex(list(enumerate(texts)))
    queries = ["run dog"]
    for i in (3, 5, 17, len(texts) - 1):
        w = [x for x in texts[i].split() if x.isalpha()]
        if len(w) >= 2:
            queries += [w[0], f"{w[0]} {w[-1]}", f"{w[0]} {w[1]}"]
    fresh = IndexReader(spark, index_dir)
    dist = IndexReader(spark, index_dir, fast_path_bytes=0)
    want_of = {
        "exhaustive": oracle.search_bm25, "pruned": oracle.search_bm25,
        "and": oracle.search_bm25_and, "phrase": oracle.search_bm25_phrase,
    }
    n_hits = 0
    try:
        for r in (fresh, dist, *readers):
            for q in queries:
                for mode, search in want_of.items():
                    want = search(q, 10)
                    got = r.search(q, 10, mode=mode)
                    why = (index_dir, q, mode, r.fast_path_bytes)
                    assert [d for d, _ in got] == [d for d, _ in want], why
                    for (_, gs), (_, ws) in zip(got, want):
                        assert math.isclose(gs, ws, rel_tol=REL_TOL), why
                    n_hits += len(got)
    finally:
        dist.close()
        fresh.close()
    assert n_hits


def test_update_invalidates_decoded_cache(spark, tmp_path, monkeypatch):
    """An in-place update bumps the stats epoch, so a FRESH reader can
    never be served pre-update decoded postings from the shared cache —
    even when a prior reader warmed the same terms. And the document
    lengths scorers gather from tok are never stale: after an update
    that changes turns' lengths, a delete that sets one to 0, an append
    (new shards) and a compaction, a refreshed reader, a new one and the
    distributed plan all answer like the oracle of the current corpus."""
    import indexer_spark.query as qmod
    from indexer_spark.build import (
        BuildConfig, append_index, build_index, compact_index, delete_turns,
        update_index,
    )
    from indexer_spark.synth import gen_transcripts

    # pruned and AND walk their blocks even on this small index
    monkeypatch.setattr(qmod, "SMALL_SHARD_THRESHOLD", 0)
    pdf = gen_transcripts(400, seed=33)
    texts = pdf.sort_values(["conv_id", "turn_idx"])["text"].tolist()
    d = str(tmp_path / "cacheidx")
    build_index(spark, spark.createDataFrame(pdf), d,
                BuildConfig(block_size=32, id_partitions=2, positions=True))
    r1 = IndexReader(spark, d)
    w = pdf["text"].iloc[0].split()[0]
    before = r1.search(w, 400)
    assert before
    r1.search(w, 400)  # repeat: populates + uses the decoded cache
    top = r1.resolve_local(before[:1])[0]
    # a second hit keeps its words and grows 8 tokens longer
    grow = r1.resolve_local([h for h in before
                             if h[0] != top["doc_id"]][:1])[0]
    texts[grow["doc_id"]] += " filler" * 8
    texts[top["doc_id"]] = "completelydifferent words"

    # rewrite the top hit's text so it no longer contains w
    up = spark.createDataFrame(
        [(top["conv_id"], top["turn_idx"], texts[top["doc_id"]]),
         (grow["conv_id"], grow["turn_idx"], texts[grow["doc_id"]])],
        "conv_id string, turn_idx int, text string",
    )
    update_index(spark, up, d, BuildConfig(block_size=32))

    r2 = IndexReader(spark, d)
    assert r2._epoch != r1._epoch  # namespace rotated
    after = r2.search(w, 400)
    gone = {h["doc_id"] for h in [dict(doc_id=x[0]) for x in after]}
    assert top["doc_id"] not in gone
    # and the updated doc is findable under its new token
    hit = r2.search("completelydifferent", 5)
    assert [h[0] for h in hit] == [top["doc_id"]]
    r2.close()
    try:
        r1._refresh_snapshot()
        _assert_lengths_current(spark, d, texts, [r1])

        # tombstone the grown turn: its length drops to 0
        texts[grow["doc_id"]] = ""
        delete_turns(spark, spark.createDataFrame(
            [(grow["conv_id"], grow["turn_idx"])],
            "conv_id string, turn_idx int"), d)
        r1._refresh_snapshot()
        _assert_lengths_current(spark, d, texts, [r1])

        # new shards: their lengths come from their own tok files
        extra = gen_transcripts(150, seed=34, mean_turn_len=60)
        extra["conv_id"] = "zz_" + extra["conv_id"]
        append_index(spark, spark.createDataFrame(extra), d)
        texts += extra.sort_values(["conv_id", "turn_idx"])["text"].tolist()
        r1._refresh_snapshot()
        _assert_lengths_current(spark, d, texts, [r1])
    finally:
        r1.close()
    out = str(tmp_path / "cacheidx_compact")
    compact_index(spark, d, out)
    _assert_lengths_current(spark, out, texts)


def test_sharded_aggregation_bit_identity():
    """_aggregate_scores_sharded must produce byte-identical sums to the
    flat aggregation: shards partition the doc_id space so per-doc
    addition order is unchanged, and per-shard >=kth narrowing keeps
    every global top-k candidate incl. boundary ties."""
    import numpy as np

    import indexer_spark.query as Q

    rng = np.random.default_rng(3)
    span = 1000
    by_shard = {}
    flat_ids, flat_sc = [], []
    for sh in range(6):
        idc, scc = [], []
        for _t in range(3):  # 3 "terms" per shard, term-ordered
            n = int(rng.integers(10, 400))
            ids = np.sort(rng.choice(span, n, replace=False)) + sh * span
            sc = rng.random(n)
            # duplicate some scores to create boundary ties
            sc[: n // 4] = 0.5
            idc.append(ids.astype(np.int64))
            scc.append(sc)
        by_shard[sh] = (idc, scc)
        flat_ids.extend(idc)
        flat_sc.extend(scc)
    want_ids, want_sums = Q._aggregate_scores(flat_ids, flat_sc)
    want = dict(zip(want_ids.tolist(), want_sums.tolist()))
    for k in (5, 50):
        # force BOTH branches: threaded (min=0) and flat fallback
        orig = Q._SHARDED_MIN_POSTINGS
        try:
            for min_postings in (0, 10**9):
                Q._SHARDED_MIN_POSTINGS = min_postings
                gids, gsums = Q._aggregate_scores_sharded(by_shard, k)
                got = dict(zip(gids.tolist(), gsums.tolist()))
                # every candidate's sum is exactly the flat sum
                for d, s in got.items():
                    assert want[d] == s  # bit-identical, no isclose
                # top-k through _topk_merge identical on both inputs
                wi, ws = Q._topk_merge(want_ids, want_sums, k)
                gi, gs = Q._topk_merge(gids, gsums, k)
                assert wi.tolist() == gi.tolist()
                assert ws.tolist() == gs.tolist()
        finally:
            Q._SHARDED_MIN_POSTINGS = orig


def test_sharded_aggregation_and_mode_identity():
    """AND-mode sharded aggregation: same bit-identity + membership
    filtering as the flat conjunctive accumulator."""
    import numpy as np

    import indexer_spark.query as Q

    rng = np.random.default_rng(7)
    span = 500
    by_shard = {}
    flat_ids, flat_sc = [], []
    for sh in range(4):
        idc, scc = [], []
        for _t in range(2):
            n = int(rng.integers(50, 300))
            ids = np.sort(rng.choice(span, n, replace=False)) + sh * span
            idc.append(ids.astype(np.int64))
            scc.append(rng.random(n))
        by_shard[sh] = (idc, scc)
        flat_ids.extend(idc)
        flat_sc.extend(scc)
    want_ids, want_sums = Q._aggregate_scores(flat_ids, flat_sc, 2)
    want = dict(zip(want_ids.tolist(), want_sums.tolist()))
    orig = Q._SHARDED_MIN_POSTINGS
    try:
        Q._SHARDED_MIN_POSTINGS = 0
        gids, gsums = Q._aggregate_scores_sharded(by_shard, 10, require_all=2)
        got = dict(zip(gids.tolist(), gsums.tolist()))
        for d, s in got.items():
            assert want[d] == s
        wi, ws = Q._topk_merge(want_ids, want_sums, 10)
        gi, gs = Q._topk_merge(gids, gsums, 10)
        assert wi.tolist() == gi.tolist() and ws.tolist() == gs.tolist()
    finally:
        Q._SHARDED_MIN_POSTINGS = orig


def test_fast_paths_sharded_threaded_identity(spark, built_index, oracle_index):
    """End-to-end: with the sharded threshold forced to 0 (every driver
    fast-path query takes the threaded per-shard branch), warm + repeat
    searches stay rank- and score-identical to the oracle."""
    import math

    import indexer_spark.query as Q
    from indexer_spark.query import IndexReader

    index_dir, _ = built_index
    r = IndexReader(spark, index_dir)
    orig = Q._SHARDED_MIN_POSTINGS
    try:
        Q._SHARDED_MIN_POSTINGS = 0
        r.warm_hot_terms(4)
        for q in ["run dog", "don't", "the dog fox"]:
            want = oracle_index.search_bm25(q, 10)
            for _rep in (0, 1):  # hybrid pass then all-cached pass
                got = r.search(q, 10)
                assert [x[0] for x in got] == [x[0] for x in want], q
                for g, w in zip(got, want):
                    assert math.isclose(g[1], w[1], rel_tol=1e-9)
            wt = oracle_index.search_tfidf(q, 10)
            gt = r.search_tfidf(q, 10)
            assert [x[0] for x in gt] == [x[0] for x in wt], q
    finally:
        Q._SHARDED_MIN_POSTINGS = orig
        r.close()


def test_tfidf_hybrid_raw_warm_identity(spark, built_index, oracle_index):
    """warm_hot_terms(raw=True) also stores raw (-1) tuples, so a tfidf
    query mixing a warmed hot term with unwarmed ones takes the hybrid
    driver path (kind='tfidf') with oracle-identical results; the repeat
    serves all-cached."""
    import math

    from indexer_spark.query import IndexReader

    index_dir, _ = built_index
    r = IndexReader(spark, index_dir)
    try:
        assert r.warm_hot_terms(4, raw=True) == 4
        hot = r._top_terms(1)[0][0]  # a warmed (stemmed) term
        for q in [f"{hot} zebra", f"{hot} dog run"]:
            want = oracle_index.search_tfidf(q, 10)
            for _rep in (0, 1):
                got = r.search_tfidf(q, 10)
                assert r.last_path == "fast", q
                assert [x[0] for x in got] == [x[0] for x in want], q
                for g, w in zip(got, want):
                    assert math.isclose(g[1], w[1], rel_tol=1e-9)
    finally:
        r.close()


def test_warm_pinned_hot_set_survives_eviction_pressure(spark, built_index):
    """warm_hot_terms pins the warmed entries: flooding the decoded LRU
    past its cap evicts unpinned entries but never the warmed hot set
    (steady hot latency stays bounded regardless of query mix); close()
    drops this reader's pin shares."""
    import numpy as np

    from indexer_spark import query as Q

    index_dir, _ = built_index
    pre_counts = dict(Q._DECODED_CACHE._pins)  # other readers' shares
    r = Q.IndexReader(spark, index_dir)
    try:
        assert r.warm_hot_terms(4, raw=True) == 4
        pinned = set(r._pinned_keys)
        assert pinned
        cap = Q._DECODED_CACHE.max_bytes
        filler = np.zeros(1 << 16, dtype=np.int64)  # 512 KiB each
        n_fill = int(cap // filler.nbytes) + 8
        for i in range(n_fill):
            Q._DECODED_CACHE.put(("flood", i), (filler,))
        # every pinned entry survived the flood...
        for k in pinned:
            assert Q._DECODED_CACHE.get(k) is not None, k
        # ...and early flood entries were evicted in their place
        assert Q._DECODED_CACHE.get(("flood", 0)) is None
        # the warmed term still serves from cache
        hot = r._top_terms(1)[0][0]
        assert r.search(hot, 10)
        assert r.last_path == "fast"
    finally:
        r.close()
    # close() released exactly this reader's shares (refcounts back to
    # their pre-test values; keys other readers never pinned are gone)
    for k in pinned:
        assert Q._DECODED_CACHE._pins.get(k, 0) == pre_counts.get(k, 0)


def test_routes_agree_on_gathered_lengths(spark, pos_index, monkeypatch):
    """bm25 (exhaustive and pruned), tfidf, and, phrase, near and bool
    answer alike on the driver route (lengths from the point-read layer), the
    shuffle-free mapInArrow plan and the applyInArrow exchange (lengths
    read by each task for its own shard) of a multi-shard positional
    index; and the task-side loader, given one shard, opens only that
    shard's tok files."""
    import os

    import numpy as np
    import pyarrow.dataset as pads

    import indexer_spark.query as qmod
    from indexer_spark.synth import gen_queries

    monkeypatch.setattr(qmod, "SMALL_SHARD_THRESHOLD", 0)
    index_dir, stats = pos_index
    assert stats["n_shards"] > 2
    driver = IndexReader(spark, index_dir)
    mapped = IndexReader(spark, index_dir, fast_path_bytes=0)
    exchange = IndexReader(spark, index_dir, fast_path_bytes=0)
    exchange._whole_file_tasks = False
    queries = [q for _, q, _ in gen_queries() if q.strip()][:6]
    queries += ["run dog", "the dog", "fox lazy dog"]
    cases = [(q, mode) for q in queries
             for mode in ("exhaustive", "pruned", "and", "phrase", "near",
                          "tfidf")]
    # boolean: OR, a quoted phrase, AND NOT and a prefix atom
    cases += [(q, "bool") for q in (
        "url OR amyeh", '"url wcsfcn" OR hkzw', "wcsfcn AND NOT url",
        "yu* AND rxtjzkix", '("url wcsfcn" OR hq*) AND NOT yuqk')]
    n_hits = n_bool = 0
    try:
        assert mapped._whole_file_tasks
        for q, mode in cases:
            def run(r):
                r.last_path = None  # an empty-by-construction
                if mode == "tfidf":  # query sets no route
                    return r.search_tfidf(q, 10)
                return r.search(q, 10, mode=mode)
            want = run(driver)
            assert driver.last_path in (None, "fast",
                                        f"fast_{mode}"), (q, mode)
            got_map, got_ex = run(mapped), run(exchange)
            assert mapped.last_path == exchange.last_path
            assert got_map == got_ex, (q, mode)
            if want:
                assert mapped.last_path == "distributed", (q, mode)
            assert [d for d, _ in got_map] == [d for d, _ in want], (
                q, mode)
            np.testing.assert_allclose(
                [s for _, s in got_map], [s for _, s in want],
                rtol=REL_TOL, atol=0)
            n_hits += len(want)
            n_bool += mode == "bool" and bool(want)
    finally:
        for r in (driver, mapped, exchange):
            r.close()
    assert n_hits and n_bool >= 4

    tok_root = os.path.join(index_dir, "tok")
    offsets = {int(s): int(o) for s, o in stats["shard_offsets"].items()}
    tok = pads.dataset(tok_root, format="parquet", partitioning="hive")
    made, opened = [], []

    class Recording(qmod._FileIndex):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            made.append(self)

    real_open = open
    monkeypatch.setattr(qmod, "_FileIndex", Recording)
    monkeypatch.setattr(
        qmod, "open", lambda p, *a, **kw: opened.append(p)
        or real_open(p, *a, **kw), raising=False)
    loader = qmod._TaskDocLens(tok_root, offsets)
    for shard in (0, 2):
        made.clear()
        opened.clear()
        lens = loader(shard)
        own = os.path.join(tok_root, f"shard={shard}") + os.sep
        assert len(made) == 1 and made[0].files
        assert all(f.path.startswith(own) for f in made[0].files)
        assert opened and all(p.startswith(own) for p in opened), opened
        want = tok.to_table(columns=["local_idx", "doc_len"],
                            filter=pads.field("shard") == shard)
        local = want["local_idx"].to_numpy()
        got = lens(np.sort(local) + offsets[shard])
        assert got.tolist() == want["doc_len"].to_numpy()[
            np.argsort(local)].tolist()


def test_unknown_mode_is_rejected(spark, built_index):
    """A mistyped mode raises ValueError naming the valid modes on every
    entry point that takes one, instead of answering as OR-BM25."""
    index_dir, _ = built_index
    r = IndexReader(spark, index_dir)
    try:
        for fn in (
            lambda: r.search("url", 10, mode="phrse"),
            lambda: r.search_df("url", 10, mode="phrse"),
            lambda: r.facet_counts("url", mode="phrse"),
            lambda: r.export_matches("url", "/nonexistent", mode="phrse"),
            lambda: r.search_where("url", {"role": "user"}, mode="phrse"),
            lambda: r.search_rerank("url", "/nonexistent", mode="phrse",
                                    query_vec=[1.0]),
        ):
            with pytest.raises(ValueError, match="valid modes"):
                fn()
    finally:
        r.close()


def test_distributed_route_plans_once(spark, pos_index, corpus_pdf,
                                      monkeypatch):
    """A phrase query and a pruned query that fall through to the
    distributed plan (fast_path_bytes=0) lex the query once, look the
    dfs up once and build their scorer once."""
    import indexer_spark.query as qmod

    calls = {}

    def counted(name, fn):
        def wrapper(*a, **kw):
            calls[name] = calls.get(name, 0) + 1
            return fn(*a, **kw)
        return wrapper

    for name in ("tokenize", "term_occurrences", "_make_phrase_scorer",
                 "_make_pruned_scorer"):
        monkeypatch.setattr(qmod, name, counted(name, getattr(qmod, name)))
    monkeypatch.setattr(IndexReader, "global_dfs", counted(
        "global_dfs", IndexReader.global_dfs))
    words = str(corpus_pdf["text"].iloc[0]).split()
    phrase = f"{words[0]} {words[1]}"
    index_dir, _ = pos_index
    r = IndexReader(spark, index_dir, fast_path_bytes=0)
    try:
        for mode, scorer in (("phrase", "_make_phrase_scorer"),
                             ("pruned", "_make_pruned_scorer")):
            calls.clear()
            assert r.search(phrase, 10, mode=mode), mode
            assert r.last_path == "distributed", mode
            lexed = calls.get("tokenize", 0) + calls.get("term_occurrences", 0)
            assert lexed == 1, (mode, calls)
            assert calls["global_dfs"] == 1, (mode, calls)
            assert calls[scorer] == 1, (mode, calls)
    finally:
        r.close()
