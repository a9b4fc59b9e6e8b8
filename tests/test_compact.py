"""Index compaction (build.compact_index): re-shard an appended index's
accumulated small shards into full-size ones WITHOUT retokenizing —
terms/tfs[/poss] regenerated from the postings, text never read. The compacted
index must be query-identical to a fresh build over the same corpus.
"""

import numpy as np
import pandas as pd
import pytest

from indexer_spark.build import (
    BuildConfig,
    append_index,
    build_index,
    compact_index,
    read_stats,
)
from indexer_spark.query import IndexReader


def _corpus(n, seed, prefix):
    from indexer_spark.synth import gen_transcripts

    pdf = gen_transcripts(n, seed=seed)
    pdf["conv_id"] = prefix + pdf["conv_id"].astype(str)
    return pdf


@pytest.fixture(scope="module")
def appended_index(spark, tmp_path_factory):
    """Base build + three appends: 4 batches of shards to compact."""
    d = str(tmp_path_factory.mktemp("compact_src"))
    base = _corpus(600, 1, "a_")
    batches = [_corpus(150, 2, "b_"), _corpus(150, 3, "c_"),
               _corpus(150, 4, "d_")]
    build_index(spark, spark.createDataFrame(base), d,
                BuildConfig(shard_docs=128, block_size=64, id_partitions=5,
                            positions=True))
    for i, b in enumerate(batches):
        append_index(spark, spark.createDataFrame(b), d,
                     batch_label=f"b{i}")
    full = pd.concat([base] + batches, ignore_index=True)
    return d, full


def _queries_from(full, n=6, seed=8):
    rng = np.random.default_rng(seed)
    pdf = full.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    out = []
    for i in rng.choice(len(pdf), size=n * 2, replace=False):
        words = str(pdf["text"].iloc[int(i)] or "").split()
        if len(words) >= 4:
            out.append((f"{words[0]} {words[2]}", f"{words[0]} {words[1]}"))
        if len(out) >= n:
            break
    return out


def test_compact_is_query_identical_to_fresh_build(
        spark, appended_index, tmp_path_factory):
    src, full = appended_index
    out = str(tmp_path_factory.mktemp("compact_out"))
    fresh = str(tmp_path_factory.mktemp("compact_fresh"))
    cfg = BuildConfig(shard_docs=256, block_size=64, positions=True)
    stats = compact_index(spark, src, out, cfg)
    n_src_shards = read_stats(src)["n_shards"]
    assert stats["n_shards"] < n_src_shards  # actually compacted
    assert stats["n_docs"] == len(full)
    assert stats["positions"] is True
    # fresh build over the combined corpus with the same config
    build_index(spark, spark.createDataFrame(full), fresh,
                BuildConfig(shard_docs=256, block_size=64,
                            positions=True,
                            id_partitions=stats["n_shards"]))
    r_src = IndexReader(spark, src)
    r_cmp = IndexReader(spark, out)
    r_new = IndexReader(spark, fresh)
    try:
        for q, ph in _queries_from(full):
            for mode in ("pruned", "and"):
                got_c = r_cmp.search(q, k=20, mode=mode)
                got_n = r_new.search(q, k=20, mode=mode)
                # doc ids AND scores identical to the fresh build
                assert got_c == got_n, (q, mode)
                # and the same documents as the source index (ids differ:
                # append order vs global sort), same scores
                got_s = r_src.search(q, k=20, mode=mode)
                key = lambda hits, r: sorted(  # noqa: E731
                    (h["conv_id"], h["turn_idx"], round(h["score"], 9))
                    for h in r.resolve_local(hits)
                )
                assert key(got_c, r_cmp) == key(got_s, r_src), (q, mode)
            # phrase survives compaction (positions carried)
            pc = {(h["conv_id"], h["turn_idx"])
                  for h in r_cmp.resolve_local(
                      r_cmp.search(ph, k=50, mode="phrase"))}
            ps = {(h["conv_id"], h["turn_idx"])
                  for h in r_src.resolve_local(
                      r_src.search(ph, k=50, mode="phrase"))}
            assert pc == ps, ph
    finally:
        r_src.close()
        r_cmp.close()
        r_new.close()


def test_compact_can_drop_positions(spark, appended_index,
                                    tmp_path_factory):
    src, full = appended_index
    out = str(tmp_path_factory.mktemp("compact_nopos"))
    stats = compact_index(
        spark, src, out,
        BuildConfig(shard_docs=256, block_size=64, positions=False))
    assert stats["positions"] is False
    import pyarrow.dataset as pads

    import os
    ds = pads.dataset(os.path.join(out, "postings"), format="parquet",
                      partitioning="hive")
    assert "poss" not in ds.schema.names  # payload actually gone
    r = IndexReader(spark, out)
    rs = IndexReader(spark, src)
    try:
        q = str(full["text"].iloc[3]).split()[0]
        got = {(h["conv_id"], h["turn_idx"], round(h["score"], 9))
               for h in r.resolve_local(r.search(q, k=30))}
        want = {(h["conv_id"], h["turn_idx"], round(h["score"], 9))
                for h in rs.resolve_local(rs.search(q, k=30))}
        assert got == want
        with pytest.raises(ValueError, match="positions=True"):
            r.search("green tea", mode="phrase")
    finally:
        r.close()
        rs.close()


def test_compact_errors(spark, appended_index, built_index,
                        tmp_path_factory):
    src, _full = appended_index
    with pytest.raises(ValueError, match="must differ"):
        compact_index(spark, src, src)
    plain_dir, _ = built_index
    out = str(tmp_path_factory.mktemp("compact_err"))
    with pytest.raises(ValueError, match="cannot add positions"):
        compact_index(spark, plain_dir, out,
                      BuildConfig(positions=True))
