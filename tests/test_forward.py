"""Forward rows at format v5: the index at rest is the docstore (tok)
plus the postings. The build stages each document's terms payload
(terms, tfs, poss) only while its postings are built; compaction and
update regenerate it by inverting the postings (build._invert_postings,
build._forward_rows). These tests pin the inversion to the tokenizer's
own per-document maps and check that no operation leaves a payload or a
staging dir behind."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from indexer_spark.build import (
    BuildConfig,
    _forward_cells,
    _forward_rows,
    _invert_postings,
    _make_postings_builder,
    append_index,
    build_index,
    compact_index,
    delete_turns,
    read_stats,
    update_index,
)
from indexer_spark.compress import decode_positions
from indexer_spark.lexer import term_counts, term_occurrences
from indexer_spark.synth import gen_transcripts

STOPWORDS_ONLY = "the and of it was"
NON_ASCII = "Straße café naïve ٣٤٥ Ⅻ zebra Œuvre ångström"


def _want(text, positions):
    """The tokenizer's map for one text: term -> tf, or term -> (tf,
    positions) when positional."""
    if positions:
        return {t: (len(v), list(v)) for t, v in term_occurrences(text).items()}
    return dict(term_counts(text))


def _got(terms, tfs, poss, positions):
    """One forward row's payload as the same map."""
    ts = terms.split("\n") if terms else []
    tf = np.frombuffer(tfs, dtype=np.int32).astype(np.int64)
    assert len(ts) == tf.size
    if not positions:
        return dict(zip(ts, tf.tolist()))
    pos, starts = decode_positions(bytes(poss), tf)
    return {t: (int(n), pos[starts[i]:starts[i + 1]].tolist())
            for i, (t, n) in enumerate(zip(ts, tf))}


def _texts():
    rng = np.random.default_rng(5)
    words = ["alpha", "beta", "gamma", "delta", "omega", "run", "dogs"]
    out = ["", None, STOPWORDS_ONLY, NON_ASCII]
    for i in range(40):
        # "common" in every one: df 41 (with the last text) spans 11
        # 4-posting blocks
        out.append(" ".join(["common", *rng.choice(words, size=i % 9 + 1),
                             "common" if i % 3 else ""]))
    out.append(NON_ASCII + " common " + NON_ASCII)
    return out


@pytest.mark.parametrize("positions", [False, True])
def test_invert_postings_round_trip(positions):
    """builder -> inverter gives back, for every document, its docstore
    row and the term -> (tf, positions) map of its text, with terms in
    UTF-8 order, at doc ids past 2**32; the empty, None and
    stop-word-only turns get an empty payload. Postings rebuilt from the
    inverted rows equal the originals."""
    texts = _texts()
    shard, base = 3, 2**32 + 5
    cells = list(zip(*(_forward_cells(t, positions) for t in texts)))
    n = len(texts)
    tok = pa.table({
        "local_idx": pa.array(np.arange(n, dtype=np.int64)),
        "conv_id": pa.array([f"c{i // 7}" for i in range(n)]),
        "turn_idx": pa.array([i % 7 for i in range(n)], pa.int32()),
        "role": pa.array(["user", "assistant"] * (n // 2) + ["user"] * (n % 2)),
        "doc_len": pa.array(cells[0], pa.int32()),
    })
    cols = {"shard": pa.array([shard] * n, pa.int32()),
            "local_idx": tok["local_idx"], "doc_len": tok["doc_len"],
            "terms": pa.array(cells[1], pa.string()),
            "tfs": pa.array(cells[2], pa.binary())}
    if positions:
        cols["poss"] = pa.array(cells[3], pa.binary())
    fwd = pa.table(cols)
    offsets = {shard: base}
    avgdl = float(np.mean(cells[0]))
    build = _make_postings_builder(avgdl, 1.2, 0.75, 4, offsets,
                                   positions=positions)
    post = pa.Table.from_batches(list(build(fwd)))
    common = post.filter(pa.compute.equal(post["term"], "common"))
    assert common["df"][0].as_py() == 41 and len(common["blocks"][0]) > 1
    assert min(b["last_doc_id"] for b in common["blocks"][0].as_py()) > 2**32

    # the docstore rows in any order: the inverter sorts them
    inv = pa.table(_invert_postings(
        tok.take(pa.array(np.arange(n)[::-1])), post, shard, base,
        positions))
    assert inv.select(tok.column_names).equals(tok)
    rows = inv.to_pylist()
    for r in rows:
        text = texts[r["local_idx"]]
        assert _got(r["terms"], r["tfs"], r.get("poss"), positions) == \
            _want(text, positions)
        terms = r["terms"].split("\n")
        assert terms == sorted(terms, key=lambda t: t.encode("utf-8"))
    assert [i for i, r in enumerate(rows) if not r["terms"]] == [0, 1, 2]
    assert any(not t.isascii() for r in rows for t in r["terms"].split("\n"))

    # the inverted rows rebuild the same postings, block metadata and
    # positions included
    again = pa.Table.from_batches(list(build(
        inv.append_column("shard", pa.array([shard] * n, pa.int32())))))
    assert again.equals(post)

    # a shard whose every document is term-less has no postings at all
    none = _invert_postings(tok.slice(0, 3), None, shard, base, positions)
    assert none["terms"].to_pylist() == [""] * 3
    assert none["tfs"].to_pylist() == [b""] * 3
    if positions:
        assert none["poss"].to_pylist() == [b""] * 3


def _shard_forward_maps(spark, index_dir, positions):
    """doc_id -> the payload map of its regenerated forward row."""
    stats = read_stats(index_dir)
    off = {int(s): int(o) for s, o in stats["shard_offsets"].items()}
    out = {}
    for r in _forward_rows(spark, index_dir, stats, positions).collect():
        m = _got(r["terms"], r["tfs"], r["poss"] if positions else None,
                 positions)
        assert r["doc_len"] == sum(
            v[0] if positions else v for v in m.values())
        out[off[r["shard"]] + r["local_idx"]] = m
    return out


@pytest.mark.parametrize("fixture,positions", [("built_index", False),
                                               ("pos_index", True)])
def test_forward_rows_match_tokenizer(spark, corpus_pdf, request, fixture,
                                      positions):
    """_forward_rows over a built index gives every document (empty ones
    included) the map its text tokenizes to."""
    index_dir, stats = request.getfixturevalue(fixture)
    texts = corpus_pdf.sort_values(["conv_id", "turn_idx"])["text"].tolist()
    got = _shard_forward_maps(spark, index_dir, positions)
    assert len(got) == len(texts) == stats["n_docs"]
    assert any(not m for m in got.values())
    for i, text in enumerate(texts):
        assert got[i] == _want(text, positions), i


REQUIRED = {"tok", "postings", "term_stats", "stats.json", "manifest.jsonl"}


def _assert_at_rest(d):
    """Only the index's named parts, and no terms payload in tok."""
    names = set(os.listdir(d))
    assert REQUIRED <= names <= REQUIRED | {"shard_map"}, names
    files = pads.dataset(os.path.join(d, "tok"), format="parquet").files
    assert files
    for f in files:
        assert not {"terms", "tfs", "poss"} & set(pq.read_schema(f).names), f


def test_nothing_left_on_disk(spark, tmp_path):
    """After build, resume, append, update, delete and compaction, the
    index dir holds only its named parts; the tombstoned and updated
    turns' regenerated rows follow their new text."""
    a = gen_transcripts(300, seed=61)
    b = gen_transcripts(120, seed=62)
    b["conv_id"] = "zz_" + b["conv_id"]
    a.loc[a.index[7], "text"] = STOPWORDS_ONLY
    a.loc[a.index[9], "text"] = NON_ASCII
    cfg = BuildConfig(block_size=16, id_partitions=3, positions=True,
                      shard_map_json_max=2)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(a), d, cfg)
    _assert_at_rest(d)
    assert "shard_map" in os.listdir(d)

    part = str(tmp_path / "part")
    build_index(spark, spark.createDataFrame(a), part, cfg, _only_shards=[1])
    assert os.path.isdir(os.path.join(part, "_staging"))
    build_index(spark, spark.createDataFrame(a), part, cfg, resume=True)
    _assert_at_rest(part)

    append_index(spark, spark.createDataFrame(b), d, batch_label="b")
    _assert_at_rest(d)

    sa = a.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    update_index(spark, spark.createDataFrame(
        [(sa["conv_id"][4], int(sa["turn_idx"][4]), "zzupd café zzupd")],
        "conv_id string, turn_idx int, text string"), d)
    _assert_at_rest(d)
    delete_turns(spark, spark.createDataFrame(
        [(sa["conv_id"][5], int(sa["turn_idx"][5]))],
        "conv_id string, turn_idx int"), d)
    _assert_at_rest(d)
    got = _shard_forward_maps(spark, d, True)
    assert got[4] == _want("zzupd café zzupd", True)
    assert got[5] == {}

    out = str(tmp_path / "compacted")
    compact_index(spark, d, out, BuildConfig(shard_docs=256,
                                             positions=True))
    _assert_at_rest(out)
    _assert_at_rest(d)
    texts = sa["text"].tolist()
    texts[4], texts[5] = "zzupd café zzupd", ""
    sb = b.sort_values(["conv_id", "turn_idx"])["text"].tolist()
    want = [_want(t, True) for t in texts + sb]
    got = _shard_forward_maps(spark, out, True)
    assert [got[i] for i in range(len(want))] == want
