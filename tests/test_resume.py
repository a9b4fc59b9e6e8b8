"""Checkpoint/resume tests (SURVEY.md §5 test 6): kill after P of N
shards; re-run completes; results identical to a clean build; manifest
metrics complete."""

import os

import pytest
from pyspark.sql import functions as F

from indexer_spark.build import (
    BuildConfig,
    _list_shards,
    _postings_path,
    _staging_path,
    build_index,
    read_manifest,
    read_stats,
)
from indexer_spark.query import IndexReader
from indexer_spark.synth import gen_transcripts

CFG = dict(shard_docs=256, block_size=32, id_partitions=4)


@pytest.fixture(scope="module")
def small_corpus(spark):
    pdf = gen_transcripts(1000, seed=11)
    return spark.createDataFrame(pdf)


def _postings_signature(spark, index_dir):
    """Every postings row's content (doc gaps, tfs, block metadata and
    nbytes, the last two computed from the document lengths) and every
    document's length (tok doc_len, which the reader gathers)."""
    from indexer_spark.build import _tok_path

    rows = (
        spark.read.parquet(_postings_path(index_dir))
        .select("shard", "term", "df",
                F.md5(F.to_json(F.struct("docs", "tfs", "blocks",
                                         "nbytes"))).alias("h"))
        .collect()
    )
    lens = (
        spark.read.parquet(_tok_path(index_dir))
        .select("shard", "local_idx", "doc_len")
        .collect()
    )
    return (sorted((r["shard"], r["term"], r["df"], r["h"]) for r in rows),
            sorted(tuple(r) for r in lens))


def test_partial_then_resume_equals_fresh(spark, small_corpus, tmp_path):
    fresh_dir = str(tmp_path / "fresh")
    part_dir = str(tmp_path / "partial")
    cfg = BuildConfig(**CFG)

    stats = build_index(spark, small_corpus, fresh_dir, cfg)
    assert stats["n_shards"] == 4

    # simulate a crash after one shard
    build_index(spark, small_corpus, part_dir, cfg, _only_shards=[0])
    m = read_manifest(part_dir)
    done = {r["shard"] for r in m if r["stage"] == "postings"}
    assert done == {0}
    # the staged forward rows of the shards still pending are kept for
    # the resume; the committed shard's are gone
    assert _list_shards(_staging_path(part_dir)) == [1, 2, 3]

    # resume completes the remaining shards only. epoch is a monotonic
    # commit counter (like a txid): a crash+resume history has more
    # commits than a fresh build, so it is excluded from the equality.
    stats2 = build_index(spark, small_corpus, part_dir, cfg, resume=True)
    drop_epoch = lambda d: {k: v for k, v in d.items() if k != "epoch"}  # noqa: E731
    assert drop_epoch(stats2) == drop_epoch(stats)
    m2 = read_manifest(part_dir)
    assert {r["shard"] for r in m2 if r["stage"] == "postings"} == {0, 1, 2, 3}
    # the ids stage ran once (manifest has a single ids row)
    assert sum(1 for r in m2 if r["stage"] == "ids") == 1

    # identical postings content (per-term doc gaps, tfs, blocks) and
    # document lengths
    assert _postings_signature(spark, part_dir) == _postings_signature(
        spark, fresh_dir
    )
    assert not os.path.exists(os.path.join(part_dir, "_staging"))


def test_resume_without_staging_refuses(spark, small_corpus, tmp_path):
    """Postings still pending but their staged forward rows gone (the
    index keeps no terms payload at rest): resume raises, naming a
    rebuild, and commits no empty postings."""
    import shutil

    d = str(tmp_path / "lost")
    cfg = BuildConfig(**CFG)
    build_index(spark, small_corpus, d, cfg, _only_shards=[0])
    shutil.rmtree(os.path.join(d, "_staging"))
    with pytest.raises(RuntimeError, match="rebuild the index"):
        build_index(spark, small_corpus, d, cfg, resume=True)
    m = read_manifest(d)
    assert {r["shard"] for r in m if r["stage"] == "postings"} == {0}
    assert _list_shards(_postings_path(d)) == [0]


def test_resume_after_commit_drops_staged_rows(spark, small_corpus, tmp_path,
                                               monkeypatch):
    """A build killed after its postings commit but before the staging
    drop: the manifest lists every shard as done, so the resume has
    nothing pending, and it still removes the staged forward rows."""
    from indexer_spark import build as B

    d = str(tmp_path / "killed")
    cfg = BuildConfig(**CFG)
    drop = B._drop_staged

    def killed(index_dir, shards):
        if shards:
            raise RuntimeError("killed before the staging drop")
        drop(index_dir, shards)

    monkeypatch.setattr(B, "_drop_staged", killed)
    with pytest.raises(RuntimeError, match="killed"):
        build_index(spark, small_corpus, d, cfg)
    monkeypatch.undo()
    m = read_manifest(d)
    assert {r["shard"] for r in m if r["stage"] == "postings"} == {0, 1, 2, 3}
    assert _list_shards(_staging_path(d)) == [0, 1, 2, 3]

    build_index(spark, small_corpus, d, cfg, resume=True)
    assert sorted(os.listdir(d)) == ["manifest.jsonl", "postings",
                                     "stats.json", "term_stats", "tok"]
    assert IndexReader(spark, d).search("run dog", 5)


def test_resume_is_idempotent_when_complete(spark, small_corpus, tmp_path):
    d = str(tmp_path / "idx")
    cfg = BuildConfig(**CFG)
    build_index(spark, small_corpus, d, cfg)
    before = read_manifest(d)
    build_index(spark, small_corpus, d, cfg, resume=True)
    after = read_manifest(d)
    assert before == after  # nothing re-ran, nothing appended


def test_resumed_index_serves_identical_results(spark, small_corpus, tmp_path):
    fresh_dir = str(tmp_path / "f2")
    part_dir = str(tmp_path / "p2")
    cfg = BuildConfig(**CFG)
    build_index(spark, small_corpus, fresh_dir, cfg)
    build_index(spark, small_corpus, part_dir, cfg, _only_shards=[1, 3])
    build_index(spark, small_corpus, part_dir, cfg, resume=True)
    r1 = IndexReader(spark, fresh_dir)
    r2 = IndexReader(spark, part_dir)
    for q in ["run dog", "don't", "3.14"]:
        assert r1.search(q, 10) == r2.search(q, 10)


def test_manifest_lineage_and_metrics(spark, small_corpus, tmp_path):
    d = str(tmp_path / "idx3")
    cfg = BuildConfig(extra_lineage={"snapshot": "test-snap-1"}, **CFG)
    build_index(spark, small_corpus, d, cfg)
    m = read_manifest(d)
    for r in m:
        assert "test-snap-1" in r["lineage"]
        assert r["finished_at"].endswith("Z")
    post = [r for r in m if r["stage"] == "postings"]
    assert sum(r["n_postings"] for r in post) > 0
    assert all(r["n_bytes"] > 0 for r in post)
    assert read_stats(d)["n_docs"] == 1000
