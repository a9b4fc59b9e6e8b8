"""Selective-AND probe: candidate-driven vs exhaustive conjunction.

Builds an 8M-turn index at local[32] (the campaign corpus shape), finds
a rare word and a hot word from the corpus itself, and times the
distributed conjunctive query (fast paths disabled so the scorer
provably runs) twice: once with the candidate-driven `_make_and_scorer`
(default) and once with the pre-round-4 exhaustive membership-count
conjunction (reconstructed via `_make_exhaustive_scorer(require_all=)`),
asserting both return identical results. This isolates the block-skip
win for the selective-AND shape (rare term bounds the candidates, hot
term's blocks mostly skipped) from job-launch noise.

Writes one JSON line to stdout and to BENCH/raw/and_bench_<turns>.json,
named after ``SPARK_GRAFT_TURNS`` (``and_bench_8m.json`` for the
default 8M turns, ``and_bench_100k.json`` for 100,000), so a smaller run
never overwrites a larger one.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def _turns_label(n: int) -> str:
    """8000000 -> "8m", 100000 -> "100k", 2500 -> "2500"."""
    for div, unit in ((1_000_000, "m"), (1_000, "k")):
        if n >= div and n % div == 0:
            return f"{n // div}{unit}"
    return str(n)


def main():
    import indexer_spark.query as qmod
    from bench import _calibrate
    from indexer_spark.build import BuildConfig, build_index
    from indexer_spark.lexer import tokenize
    from indexer_spark.query import IndexReader
    from indexer_spark.session import get_spark, warm_workers
    from indexer_spark.synth import transcripts_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_turns = int(os.environ.get("SPARK_GRAFT_TURNS", str(8_000_000)))
    out: dict = {"metric": "selective_and_probe", "turns": n_turns,
                 "cpus": cpus, "calib_gops": _calibrate(cpus)}

    spark = get_spark(cores=cpus, shuffle_partitions=cpus,
                      driver_memory="48g", app_name="indexer_spark_andbench")
    corpus = tempfile.mkdtemp(prefix="andbench_corpus_")
    index_dir = tempfile.mkdtemp(prefix="andbench_index_")
    try:
        transcripts_spark(spark, n_turns, seed=42).write.mode(
            "overwrite").parquet(corpus)
        warm_workers(spark)
        sdf = spark.read.parquet(corpus)
        t0 = time.time()
        build_index(spark, sdf, index_dir,
                    BuildConfig(block_size=128, id_partitions=32))
        out["build_sec"] = round(time.time() - t0, 1)

        reader = IndexReader(spark, index_dir, fast_path_bytes=0)
        # harvest candidate words from real doc texts so tokenize() maps
        # them back to real index terms
        words = set()
        for row in sdf.limit(200).collect():
            words.update(w for w in str(row["text"]).split() if w.isalpha())
        # the synthetic vocabulary is Zipfian over a bounded word list, so
        # "rare" is its rarest member (df ~0.2% of N) and "hot" its most
        # ubiquitous (df ~10-30% of N) — selective enough that candidate
        # coverage skips most of the hot term's blocks
        rare = hot = None
        terms = {w: t for w in words for t in tokenize(w)[:1]}
        dfs = reader.global_dfs(sorted(set(terms.values())))
        for w, t in sorted(terms.items()):
            d = dfs.get(t, 0)
            if d <= 0:
                continue
            if rare is None or d < rare[2]:
                rare = (w, t, d)
            if hot is None or d > hot[2]:
                hot = (w, t, d)
        if rare is None or hot is None or hot[2] < 20 * rare[2]:
            raise RuntimeError(f"no usable rare/hot pair: rare={rare} hot={hot}")
        q = f"{rare[0]} {hot[0]}"
        out["rare_df"], out["hot_df"], out["query"] = rare[2], hot[2], q

        def timed(label):
            walls = []
            res = None
            for _ in range(3):
                t0 = time.time()
                res = reader.search(q, 10, mode="and")
                walls.append(round(time.time() - t0, 3))
            out[label] = min(walls)
            out[label + "_walls"] = walls
            return res

        got_cand = timed("and_candidate_sec")
        # pre-round-4 behavior: exhaustive conjunction (decode everything,
        # membership-count accumulator)
        real = qmod._make_and_scorer
        qmod._make_and_scorer = (
            lambda idf, k1, b, avgdl, k, bs, n_required, epoch=None:
            qmod._make_exhaustive_scorer(
                idf, k1, b, avgdl, k, "bm25", epoch=epoch,
                require_all=n_required)
        )
        try:
            got_exh = timed("and_exhaustive_sec")
        finally:
            qmod._make_and_scorer = real
        if got_cand != got_exh:
            raise RuntimeError("candidate vs exhaustive AND results differ")
        out["results_identical"] = True
        out["n_hits"] = len(got_cand)
        out["speedup"] = round(out["and_exhaustive_sec"]
                               / max(out["and_candidate_sec"], 1e-9), 2)
        line = json.dumps(out)
        print(line, flush=True)
        raw = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "..", "BENCH", "raw",
                           f"and_bench_{_turns_label(n_turns)}.json")
        with open(raw, "w") as f:
            f.write(line + "\n")
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)
        shutil.rmtree(corpus, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
