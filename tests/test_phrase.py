"""Positional postings + phrase search (BuildConfig(positions=True)).

No reference analog (the reference is OR-only, SURVEY §2.7); the oracle
twin re-derives positions from raw text per doc, independently of the
index's delta-varint payload, so agreement checks the whole chain:
lexer positions -> tok poss columns -> per-term payload concat ->
vectorized decode -> shard-local verify -> BM25 scoring.
"""

import numpy as np
import pytest

from indexer_spark.build import BuildConfig, append_index, build_index, update_index
from indexer_spark.compress import (
    decode_positions,
    encode_positions,
    varint_ends,
)
from indexer_spark.lexer import term_counts, term_occurrences
from indexer_spark.query import IndexReader


def test_term_occurrences_matches_term_counts():
    texts = [
        "the state of the art is great",
        "State THE art of great states!",
        "café au lait, café crème ٣٤٥",
        "", None, "the of is a an",  # stop-words only
    ]
    for t in texts:
        occ = term_occurrences(t)
        assert {k: len(v) for k, v in occ.items()} == term_counts(t)
        for v in occ.values():
            assert list(v) == sorted(set(v))  # strictly increasing


def test_positions_codec_roundtrip():
    rng = np.random.default_rng(0)
    blobs, tfs, ref = [], [], []
    for _ in range(200):
        n = int(rng.integers(1, 30))
        p = np.sort(rng.choice(10_000, size=n, replace=False)).astype(np.int64)
        blobs.append(encode_positions(p))
        tfs.append(n)
        ref.append(p)
    pos, starts = decode_positions(b"".join(blobs), np.array(tfs))
    for i in range(len(tfs)):
        assert np.array_equal(pos[starts[i] : starts[i + 1]], ref[i])
    with pytest.raises(ValueError):
        encode_positions([5, 5, 7])


def test_decode_positions_select_matches_full_decode():
    """Candidate-driven decode == slicing the full decode at the
    selected segments, across random payloads and selections."""
    from indexer_spark.compress import decode_positions_select

    rng = np.random.default_rng(5)
    for _ in range(60):
        n_docs = int(rng.integers(1, 40))
        blobs, tfs = [], []
        for _d in range(n_docs):
            tf = int(rng.integers(1, 12))
            p = np.sort(rng.choice(50_000, size=tf, replace=False)
                        ).astype(np.int64)
            blobs.append(encode_positions(p))
            tfs.append(tf)
        blob, tfs = b"".join(blobs), np.array(tfs, dtype=np.int64)
        full_pos, full_starts = decode_positions(blob, tfs)
        k = int(rng.integers(0, n_docs + 1))
        sel = np.sort(rng.choice(n_docs, size=k, replace=False))
        pos, starts = decode_positions_select(blob, tfs, sel)
        assert starts[-1] == int(tfs[sel].sum())
        for i, d in enumerate(sel):
            assert np.array_equal(
                pos[starts[i]:starts[i + 1]],
                full_pos[full_starts[d]:full_starts[d + 1]],
            )
    # full selection == full decode
    pos, starts = decode_positions_select(blob, tfs, np.arange(n_docs))
    assert np.array_equal(pos, full_pos)
    assert np.array_equal(starts, full_starts)
    # empty selection
    pos0, starts0 = decode_positions_select(blob, tfs, np.array([], int))
    assert pos0.size == 0 and list(starts0) == [0]
    with pytest.raises(ValueError, match="varints"):
        decode_positions_select(blob, tfs[:-1], np.array([0]))


def test_encode_positions_doc_batch_identity():
    """The one-pass per-doc batch encoder (what the tokenizer actually
    uses) is byte-identical to per-list encode_positions."""
    from indexer_spark.compress import encode_positions_doc

    rng = np.random.default_rng(3)
    for _ in range(100):
        lists = [
            np.sort(rng.choice(3000, size=int(rng.integers(1, 12)),
                               replace=False)).astype(np.int64)
            for _ in range(int(rng.integers(1, 15)))
        ]
        blob = encode_positions_doc(lists)
        ref = [encode_positions(v) for v in lists]
        assert blob == b"".join(ref)
        # each list's blob ends at the end of its last varint: how the
        # postings builder splits a doc's blob without a length table
        ends = varint_ends(np.frombuffer(blob, dtype=np.uint8))[
            np.cumsum([len(v) for v in lists]) - 1]
        assert list(np.diff(ends, prepend=0)) == [len(b) for b in ref]
    assert encode_positions_doc([]) == b""
    with pytest.raises(ValueError):
        encode_positions_doc([[1, 5], [3, 3, 4]])


def _phrases_from_corpus(corpus_pdf, n=12, width=3, seed=7):
    """Real phrases sliced out of documents (guaranteed matchable) plus
    shuffled variants (usually not)."""
    rng = np.random.default_rng(seed)
    pdf = corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    out = []
    for i in rng.choice(len(pdf), size=n * 3, replace=False):
        words = str(pdf["text"].iloc[int(i)] or "").split()
        if len(words) < width + 1:
            continue
        s = int(rng.integers(0, len(words) - width))
        out.append(" ".join(words[s : s + width]))
        if len(out) >= n:
            break
    return out


def test_phrase_positions_payload_parity(spark, pos_index, corpus_pdf):
    """The stored poss payload decodes to exactly the lexer's positions
    for every (term, doc) of a few sampled shards."""
    index_dir, stats = pos_index
    pdf = corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    expected = [term_occurrences(t) for t in pdf["text"].tolist()]
    post = spark.read.parquet(index_dir + "/postings").filter(
        "shard = 0 and not startswith(term, '\x00')"
    ).collect()
    assert len(post) > 50
    for r in post:
        assert len(r["tfs"]) == len(r["docs"]) == r["df"]
        tfs = np.asarray(r["tfs"], dtype=np.int64)
        doc_ids = np.cumsum(np.asarray(r["docs"], dtype=np.int64))
        pos, starts = decode_positions(bytes(r["poss"]), tfs)
        for i, d in enumerate(doc_ids):
            assert list(pos[starts[i] : starts[i + 1]]) == \
                expected[int(d)][r["term"]], (r["term"], int(d))


def test_phrase_rank_identity_vs_oracle(spark, pos_index, corpus_pdf,
                                        oracle_index):
    """Both execution paths — driver fast path (pyarrow point-read) and
    the distributed plan (fast paths disabled) — are rank-identical to
    the naive oracle on real corpus-sliced phrases."""
    index_dir, _ = pos_index
    phrases = _phrases_from_corpus(corpus_pdf)
    assert len(phrases) >= 8
    r_fast = IndexReader(spark, index_dir)
    r_dist = IndexReader(spark, index_dir, fast_path_bytes=0)
    n_nonempty = 0
    try:
        for q in phrases:
            want = oracle_index.search_bm25_phrase(q, k=10)
            want_r = [(d, round(s, 9)) for d, s in want]
            got_f = r_fast.search(q, k=10, mode="phrase")
            assert r_fast.last_path == "fast_phrase", q
            got_d = r_dist.search(q, k=10, mode="phrase")
            assert r_dist.last_path == "distributed", q
            assert [(d, round(s, 9)) for d, s in got_f] == want_r, q
            assert [(d, round(s, 9)) for d, s in got_d] == want_r, q
            n_nonempty += bool(got_f)
    finally:
        r_fast.close()
        r_dist.close()
    assert n_nonempty >= len(phrases) // 2  # sliced from real docs


def test_phrase_edge_cases(spark, pos_index, oracle_index, corpus_pdf):
    index_dir, _ = pos_index
    pdf = corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    words = str(pdf["text"].iloc[5]).split()
    r = IndexReader(spark, index_dir)
    try:
        # single-word phrase == conjunction of itself
        got = r.search(words[0], k=10, mode="phrase")
        assert got == [
            (d, pytest.approx(s)) for d, s in
            oracle_index.search_bm25_and(words[0], k=10)
        ]
        # stop-word-only and empty queries
        assert r.search("the of and is", k=10, mode="phrase") == []
        assert r.search("", k=10, mode="phrase") == []
        # absent term empties the phrase
        assert r.search(words[0] + " zzqqxxyyzz", k=10, mode="phrase") == []
        # reversed bigram should not equal the forward bigram everywhere
        fwd = f"{words[0]} {words[1]}"
        rev = f"{words[1]} {words[0]}"
        got_f = {d for d, _ in r.search(fwd, k=None or 1000, mode="phrase")}
        got_r = {d for d, _ in r.search(rev, k=1000, mode="phrase")}
        want_f = {d for d, _ in oracle_index.search_bm25_phrase(fwd, k=1000)}
        want_r = {d for d, _ in oracle_index.search_bm25_phrase(rev, k=1000)}
        assert got_f == want_f and got_r == want_r
    finally:
        r.close()


def test_phrase_requires_positional_index(spark, built_index):
    index_dir, _ = built_index
    r = IndexReader(spark, index_dir)
    try:
        with pytest.raises(ValueError, match="positions=True"):
            r.search("hello world", k=10, mode="phrase")
    finally:
        r.close()


def test_phrase_plan_prunes_poss_for_other_modes(spark, pos_index):
    """Non-phrase queries on a positional index must NOT read the poss
    payload column (parquet column pruning keeps positions free)."""
    index_dir, _ = pos_index
    r = IndexReader(spark, index_dir)
    try:
        df = r.search_df("the quick brown fox", k=10, mode="pruned")
        plan = df._jdf.queryExecution().executedPlan().toString() \
            if df is not None else ""
        if df is not None:
            assert "poss" not in plan
        df2 = r.search_df("the quick brown fox", k=10, mode="phrase")
        plan2 = df2._jdf.queryExecution().executedPlan().toString() \
            if df2 is not None else "poss"
        assert "poss" in plan2
    finally:
        r.close()


def test_phrase_survives_append_and_update(spark, tmp_path):
    """Appended and updated turns are phrase-searchable; positions stay
    sticky without the caller re-passing the flag."""
    import pandas as pd

    index_dir = str(tmp_path / "pidx")
    base = pd.DataFrame({
        "conv_id": ["a", "a", "b"],
        "turn_idx": [0, 1, 0],
        "role": ["user"] * 3,
        "text": [
            "green tea with lemon zest",
            "black coffee no sugar",
            "sparkling water with lemon",
        ],
    })
    sdf = spark.createDataFrame(base)
    build_index(spark, sdf, index_dir,
                BuildConfig(shard_docs=2, positions=True))
    extra = pd.DataFrame({
        "conv_id": ["c"], "turn_idx": [0], "role": ["user"],
        "text": ["lemon zest on green tea cake"],
    })
    append_index(spark, spark.createDataFrame(extra), index_dir,
                 batch_label="b1")
    r = IndexReader(spark, index_dir)
    try:
        hits = {d for d, _ in r.search("lemon zest", k=10, mode="phrase")}
        assert hits == {0, 3}  # original doc 0 + appended doc 3
        hits2 = {d for d, _ in r.search("green tea", k=10, mode="phrase")}
        assert hits2 == {0, 3}
    finally:
        r.close()
    update_index(
        spark,
        spark.createDataFrame(pd.DataFrame({
            "conv_id": ["a"], "turn_idx": [0], "role": ["user"],
            "text": ["zest of lemon over green tea"],
        })),
        index_dir,
    )
    r = IndexReader(spark, index_dir)
    try:
        # "lemon zest" is no longer contiguous in doc 0 ("zest of lemon")
        hits = {d for d, _ in r.search("lemon zest", k=10, mode="phrase")}
        assert hits == {3}
        # but the new phrasing matches (stop-word gap: "zest of lemon")
        hits3 = {d for d, _ in r.search("zest of lemon", k=10, mode="phrase")}
        assert hits3 == {0}
    finally:
        r.close()


def test_phrase_survives_streaming(spark, tmp_path):
    """Structured-Streaming maintenance of a positional index keeps
    writing positions (stream_index -> append_index reads the sticky
    flag from stats.json); phrases in streamed docs are findable."""
    import os

    import pandas as pd

    from indexer_spark.streaming import stream_index

    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    d = str(tmp_path / "spidx")
    seed = pd.DataFrame({
        "conv_id": ["a"], "turn_idx": [0], "role": ["user"],
        "text": ["green tea with lemon zest"],
        "tool": [None], "ts": [pd.Timestamp("2026-01-01")],
    })
    build_index(spark, spark.createDataFrame(seed, schema=schema), d,
                BuildConfig(shard_docs=4, positions=True))
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    batch = pd.DataFrame({
        "conv_id": ["z"], "turn_idx": [0], "role": ["user"],
        "text": ["iced lemon zest cookies"],
        "tool": [None], "ts": [pd.Timestamp("2026-01-02")],
    })
    (spark.createDataFrame(batch, schema=schema)
     .coalesce(1).write.mode("append").parquet(src_dir))
    stream = spark.readStream.schema(
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    ).parquet(src_dir)
    q = stream_index(spark, stream, d, BuildConfig(shard_docs=4),
                     checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    r = IndexReader(spark, d)
    try:
        hits = {doc for doc, _ in r.search("lemon zest", k=10, mode="phrase")}
        assert hits == {0, 1}  # seed doc + streamed doc
    finally:
        r.close()


def test_positions_slice_matches_select():
    """The full-decode+gather path (_positions_slice over a term's cached
    decode_positions) must produce exactly what the candidate-driven
    varint decode produces, for random payloads and selections."""
    from indexer_spark.compress import decode_positions_select
    from indexer_spark.query import _positions_slice

    rng = np.random.default_rng(11)
    for _ in range(40):
        n_docs = int(rng.integers(1, 50))
        blobs, tfs = [], []
        for _d in range(n_docs):
            n = int(rng.integers(1, 12))
            p = np.sort(
                rng.choice(5_000, size=n, replace=False)
            ).astype(np.int64)
            blobs.append(encode_positions(p))
            tfs.append(n)
        blob, tfs = b"".join(blobs), np.array(tfs, dtype=np.int64)
        sel = np.sort(rng.choice(
            n_docs, size=int(rng.integers(0, n_docs + 1)), replace=False
        ))
        want = decode_positions_select(blob, tfs, sel)
        pos_full, starts_full = decode_positions(blob, tfs)
        got = _positions_slice(pos_full, starts_full, tfs, sel)
        assert np.array_equal(got[0], want[0])
        assert np.array_equal(got[1], want[1])


def test_fast_phrase_gate_counts_positions_payload(spark, pos_index):
    """The fast-path admission gate must count poss_nbytes: a budget
    sized between the postings payload alone and postings+positions
    admits the driver path WITHOUT the positions column counted, but
    must route to the distributed plan once it is (results identical
    either way — only last_path flips)."""
    index_dir, _ = pos_index
    reader = IndexReader(spark, index_dir)
    try:
        # pick a phrase of two present terms from term_stats
        import pyarrow.dataset as pads

        ts = pads.dataset(index_dir + "/term_stats").to_table()
        assert "poss_nbytes" in ts.schema.names  # new builds record it
        # hottest term by payload: guaranteed present
        import pyarrow.compute as pc
        idx = pc.sort_indices(ts, sort_keys=[("nbytes", "descending")])
        t0 = ts.column("term").to_pylist()[idx[0].as_py()]
        nb = reader.global_dfs([t0]) and reader._nbytes_cache[t0]
        pnb = reader._poss_nbytes_cache[t0]
        assert pnb > 0
        q = t0  # single-term phrase exercises the same gate
        # budget between nbytes and nbytes+poss_nbytes -> must go
        # distributed now that poss is counted
        reader.fast_path_bytes = nb + pnb // 2
        hits_dist = reader.search(q, 10, mode="phrase")
        assert reader.last_path == "distributed"
        # budget above nbytes+poss_nbytes -> driver fast path
        reader.fast_path_bytes = nb + pnb + 1024
        hits_fast = reader.search(q, 10, mode="phrase")
        assert reader.last_path == "fast_phrase"
        assert hits_fast == hits_dist
    finally:
        reader.close()
