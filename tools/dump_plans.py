"""Dump physical plans for the engine's key queries -> PLANS.md.

Evidence that the declarative plan shape is right: filters pushed to the
parquet scan (PushedFilters), partition pruning on shard, column pruning
(ReadSchema), broadcast joins where intended, TakeOrderedAndProject for
top-k. Run: python tools/dump_plans.py [index_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    import tempfile

    from pyspark.sql import functions as F

    from indexer_spark.build import BuildConfig, build_index, docstore
    from indexer_spark.query import IndexReader
    from indexer_spark.session import get_spark
    from indexer_spark.synth import transcripts_spark

    spark = get_spark(cores=8, shuffle_partitions=8, driver_memory="8g")
    if len(sys.argv) > 1 and os.path.exists(os.path.join(sys.argv[1], "stats.json")):
        index_dir = sys.argv[1]
    else:
        index_dir = tempfile.mkdtemp(prefix="plans_idx_")
        src = transcripts_spark(spark, 50_000)
        build_index(spark, src, index_dir, BuildConfig(id_partitions=8))

    reader = IndexReader(spark, index_dir)
    sections = []

    q = reader.search_df("run dog fast", 10, mode="pruned")
    sections.append(("BM25 top-k (pruned)", grab(q)))

    hits = reader.search("run dog fast", 5)
    sections.append(("doc_id resolution join", grab(reader.resolve(hits))))

    # phrase needs a positional index; build a small one just for the plan
    pos_dir = tempfile.mkdtemp(prefix="plans_posidx_")
    build_index(spark, transcripts_spark(spark, 50_000), pos_dir,
                BuildConfig(id_partitions=8, positions=True))
    pos_reader = IndexReader(spark, pos_dir)
    pq = pos_reader.search_df("run fast", 10, mode="phrase")
    sections.append((
        "phrase top-k (positional; poss column read ONLY here)", grab(pq)))
    nq = pos_reader.search_df("run fast", 10, mode="pruned")
    sections.append((
        "non-phrase query on the SAME positional index "
        "(ReadSchema must NOT contain poss)", grab(nq)))
    nearq = pos_reader.search_df("run fast", 10, mode="near", window=4)
    sections.append((
        "NEAR top-k (positional; same zero-exchange shape as phrase)",
        grab(nearq)))
    bq = pos_reader.search_df('(run OR dog) NOT fast', 10, mode="bool")
    sections.append((
        "boolean top-k (all expression terms in ONE pushed term IN "
        "filter; zero exchange)", grab(bq)))
    fq = pos_reader.search_df("run", mode="pruned", _all=True)
    sections.append((
        "unordered full match set (_all: facets/export stage 1 — no "
        "TakeOrderedAndProject, no global sort)", grab(fq)))
    pos_reader.close()

    ds = docstore(spark, index_dir)
    sections.append((
        "docstore projection (column pruning over tok)",
        grab(ds.filter(F.col("doc_id").isin([1, 2, 3]))),
    ))

    out = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    with open(out, "w") as f:
        f.write("# PLANS — physical plans of the key queries\n\n")
        f.write("Generated by tools/dump_plans.py. Things to check:\n"
                "- postings scan shows PartitionFilters (shard) and\n"
                "  PushedFilters `term IN (...)` with a pruned ReadSchema\n"
                "- top-k is TakeOrderedAndProject, not a global sort\n"
                "- resolution join broadcasts the tiny hits side\n"
                "- docstore read prunes the terms/tfs columns entirely\n\n")
        for title, plan in sections:
            f.write(f"## {title}\n\n```\n{plan}\n```\n\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
