"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the real engine end-to-end (build a compressed
inverted index over sf0.001 documents, BM25-query it, resolve hits).

``queries()`` / ``oracle_sql()`` expose the SQL-expressible operators of
SURVEY.md §2 (tokenize/tf A1, df A3-A4, idf F2, tf-idf & BM25 scoring
A5/F2-F3, top-k T3-T4, doc-id assignment J2/§2.5, dedup and similarity
demos written inline here, and the extras' SimHash, shingle and text-stats
operators) over the driver's pre-registered tables, each paired with a
DuckDB oracle. Non-SQL-expressible stages (stemming, varint codec,
block-max pruning, resume) are verified in tests/ against the oracle
(SURVEY.md §5); rows-only entries here cover the UDF-backed ones.

Cross-engine determinism rules used throughout:
- floats are round(x, 6) on both sides,
- score sums are written as fixed-order arithmetic over per-term columns
  (not SUM over an exploded set) so float summation order is pinned,
- integer outputs are cast to bigint to match DuckDB's BIGINT defaults,
- every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

# three terms present in the documents vocabulary (driver testdata)
_TERMS = ("scan", "merge", "hash")
_K1, _B = 1.2, 0.75


def _ship_package(spark: SparkSession) -> None:
    """Make indexer_spark importable on executors (idempotent)."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    try:
        from indexer_spark.packaging import make_pyfiles_zip

        spark.sparkContext.addPyFile(make_pyfiles_zip())
    except Exception:
        pass  # already added, or running where the package is importable


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
    )


# --------------------------------------------------------------------------
# flagship: the real engine, end to end
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Build a compressed inverted index over sf0.001 documents with the
    engine (doc per row, doc keyed by synthetic (conv_id, turn_idx)), then
    run a BM25 top-10 query and resolve doc_ids — SURVEY.md §3.1 + §3.2
    reshaped for Spark."""
    _ship_package(spark)
    from indexer_spark.build import BuildConfig, build_index
    from indexer_spark.query import IndexReader

    docs = _docs(spark, "/root/testdata/sf0.001")
    transcripts = docs.select(
        F.format_string("doc_%08d", "doc_id").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("doc").alias("role"),
        "text",
    )
    index_dir = tempfile.mkdtemp(prefix="indexer_spark_entry_")
    cfg = BuildConfig(shard_docs=256, block_size=64,
                      id_partitions=4)
    build_index(spark, transcripts, index_dir, cfg)
    reader = IndexReader(spark, index_dir)
    hits = reader.search("scan merge hash", k=10, mode="pruned")
    return reader.resolve(hits)


# --------------------------------------------------------------------------
# SQL-parity operator demos
# --------------------------------------------------------------------------

def _q_tf_count(spark, sf_dir):
    # A1: per-doc term frequency (hash-agg partial+final)
    return (
        _tokens(spark, sf_dir)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def _q_doc_len(spark, sf_dir):
    # doc_len for BM25 (docstore column; empty docs keep 0)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        .cast("long")
        .alias("doc_len"),
    )


def _q_df(spark, sf_dir):
    # A3/A4: document frequency per term (global final agg)
    return (
        _tokens(spark, sf_dir)
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )


def _q_idf(spark, sf_dir):
    # F2: reference idf = |ln(N/df)| (tree.rs:425-426), rounded 6dp
    docs = _docs(spark, sf_dir)
    n = docs.count()
    return (
        _q_df(spark, sf_dir)
        .select(
            "term",
            "df",
            F.round(F.abs(F.log(F.lit(float(n)) / F.col("df"))), 6).alias("idf"),
        )
    )


def _per_term_tf(spark, sf_dir):
    """doc_id, tf_scan, tf_merge, tf_hash (0 when absent) — fixed-order
    scoring base shared by the tf-idf and BM25 demos."""
    tok = _tokens(spark, sf_dir).filter(F.col("term").isin(list(_TERMS)))
    agg = tok.groupBy("doc_id").pivot("term", list(_TERMS)).count()
    out = agg
    for t in _TERMS:
        out = out.withColumn(f"tf_{t}", F.coalesce(F.col(t), F.lit(0)).cast("long"))
    return out.select("doc_id", *[f"tf_{t}" for t in _TERMS])


def _df_of_terms(spark, sf_dir) -> dict[str, int]:
    rows = (
        _tokens(spark, sf_dir)
        .filter(F.col("term").isin(list(_TERMS)))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .collect()
    )
    dfs = {r["term"]: r["df"] for r in rows}
    return {t: dfs.get(t, 0) for t in _TERMS}


def _q_tfidf_topk(spark, sf_dir):
    # A5 + F2/F3 + P8 + T3/T4: reference scorer, fixed 3-term query,
    # score-desc/doc-id-asc top 10
    import math

    docs = _docs(spark, sf_dir)
    n = docs.count()
    dfs = _df_of_terms(spark, sf_dir)
    idf = {t: abs(math.log(n / dfs[t])) if dfs[t] else 0.0 for t in _TERMS}
    base = _per_term_tf(spark, sf_dir)
    score = sum(
        (F.col(f"tf_{t}") * F.lit(idf[t]) for t in _TERMS), F.lit(0.0)
    )
    return (
        base.withColumn("score", F.round(score, 6))
        .filter(F.col("score") != 0.0)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def _q_bm25_topk(spark, sf_dir):
    # north-star BM25 over the same fixed query, SQL-checkable
    import math

    docs = _docs(spark, sf_dir)
    n = docs.count()
    dfs = _df_of_terms(spark, sf_dir)
    idf = {
        t: math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5)) for t in _TERMS
    }
    dl = _q_doc_len(spark, sf_dir)
    total_len = dl.agg(F.sum("doc_len")).collect()[0][0]
    avgdl = float(total_len) / n
    base = _per_term_tf(spark, sf_dir).join(dl, "doc_id")
    norm = F.lit(_K1) * (
        F.lit(1.0 - _B) + F.lit(_B) * F.col("doc_len") / F.lit(avgdl)
    )
    score = F.lit(0.0)
    for t in _TERMS:
        tf = F.col(f"tf_{t}")
        score = score + F.lit(idf[t]) * tf * F.lit(_K1 + 1.0) / (tf + norm)
    return (
        base.withColumn("score", F.round(score, 6))
        .filter(F.col("score") > 0.0)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def _q_bm25_and_topk(spark, sf_dir):
    # conjunctive (AND) BM25: same scorer as bm25_topk, but only docs
    # containing ALL query terms survive (engine: search(mode="and"),
    # query.py _aggregate_scores(n_required); extension beyond the OR-only
    # reference, SURVEY §2.7)
    import math

    docs = _docs(spark, sf_dir)
    n = docs.count()
    dfs = _df_of_terms(spark, sf_dir)
    idf = {
        t: math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5)) for t in _TERMS
    }
    dl = _q_doc_len(spark, sf_dir)
    total_len = dl.agg(F.sum("doc_len")).collect()[0][0]
    avgdl = float(total_len) / n
    base = _per_term_tf(spark, sf_dir).join(dl, "doc_id")
    norm = F.lit(_K1) * (
        F.lit(1.0 - _B) + F.lit(_B) * F.col("doc_len") / F.lit(avgdl)
    )
    score = F.lit(0.0)
    require = F.lit(True)
    for t in _TERMS:
        tf = F.col(f"tf_{t}")
        score = score + F.lit(idf[t]) * tf * F.lit(_K1 + 1.0) / (tf + norm)
        require = require & (tf > 0)
    return (
        base.filter(require)
        .withColumn("score", F.round(score, 6))
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def _q_docid_assign(spark, sf_dir):
    # J2/§2.5: deterministic dense id assignment. DEMO-ONLY global window
    # (single-task sort — fine at sf0.01, matching the DuckDB oracle's
    # row_number); the ENGINE assigns ids scalably with the two-pass
    # shard_offset + local_idx scheme (build.py _stage_ids), no global sort.
    w = Window.orderBy("source", "doc_id")
    return _docs(spark, sf_dir).select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("long").alias("assigned_id"),
    )


def _q_dedup_exact(spark, sf_dir):
    # exact dedup: hash-groupBy on content, keep min doc_id per group
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


def _q_sim_topk(spark, sf_dir):
    # brute-force cosine top-k over embeddings vs vec_id 0 (ANN baseline)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    emb = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("q"))
    j = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
    dot = F.aggregate(
        F.zip_with("v", "q", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # dot / sqrt(|a|^2 * |b|^2): same expression shape DuckDB's
    # list_cosine_similarity uses, so float results agree bit-for-bit
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        j.select(
            "vec_id",
            F.round(dot / F.sqrt(sq(F.col("v")) * sq(F.col("q"))), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


def _q_text_quality(spark, sf_dir):
    # text-analysis: token counting + quality stats per doc
    tok = _tokens(spark, sf_dir)
    return tok.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("term").alias("n_distinct"),
        F.round(F.avg(F.length("term")), 6).alias("avg_token_len"),
    )


def _q_lang_count(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            # cast to long on BOTH sides: DuckDB sum(BIGINT) is HUGEINT,
            # which hash-mismatches Spark's long even at equal values
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


def _q_events_by_type(spark, sf_dir):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # exact decimal sum -> order-independent across partitions
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 6)
        .alias("total_value"),
    )


def _q_top_users(spark, sf_dir):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (
        ev.groupBy("user_id")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 6)
            .alias("total_value")
        )
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(10)
    )


# -- rows-only demos (not SQL-expressible: UDF / engine-hash based) --------

def _q_minhash_pairs(spark, sf_dir):
    """Near-dup candidates via MinHash+LSH banding. 16 hashes, 4 bands of 4
    (a band matches only when all 4 minhashes agree => candidates need high
    estimated Jaccard). Hash = md5('i#term') hex string (lexicographic min
    over lowercase hex is identical in Spark and DuckDB), so this entry is
    fully oracle-checkable."""
    tok = _tokens(spark, sf_dir).distinct()
    sigs = tok.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat_ws("#", F.lit(str(i)), F.col("term")))).alias(f"h{i}")
            for i in range(16)
        ]
    )
    bands = []
    for bnd in range(4):
        cols = [F.col(f"h{4*bnd + j}") for j in range(4)]
        bands.append(
            sigs.select(
                "doc_id",
                F.lit(bnd).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("bucket"),
            )
        )
    allb = bands[0]
    for x in bands[1:]:
        allb = allb.unionByName(x)
    a = allb.alias("a")
    bb = allb.alias("b")
    return (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _q_neardup_verified(spark, sf_dir):
    """Full near-dup pipeline, end to end: MinHash+LSH banding for
    candidates (md5-portable variant) -> exact token-set Jaccard
    verification at 0.8 — candidates only, never all-pairs. Integer
    intersection/union sizes make the ratio float-order-safe."""
    pairs = _q_minhash_pairs(spark, sf_dir)
    tok = _tokens(spark, sf_dir).distinct()
    sets_ = tok.groupBy("doc_id").agg(F.collect_set("term").alias("terms"))
    j = (
        pairs.join(
            sets_.select(
                F.col("doc_id").alias("doc_a"), F.col("terms").alias("ta")
            ),
            "doc_a",
        ).join(
            sets_.select(
                F.col("doc_id").alias("doc_b"), F.col("terms").alias("tb")
            ),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = F.size(F.array_union("ta", "tb")).cast("double")
    return (
        j.select(
            "doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= 0.8)
    )


def _q_quality_by_lang(spark, sf_dir):
    """Curation-pipeline rollup: predicted language x quality mass —
    the join+aggregate a training-data filter sweep runs per shard.
    Decimal-exact quality sum keeps the double order-independent."""
    _ship_package(spark)
    from indexer_spark.extras.textstats import language_id, quality_scores

    docs = _docs(spark, sf_dir)
    lang = language_id(docs)
    qual = quality_scores(docs).select("doc_id", "quality")
    return (
        lang.join(qual, "doc_id")
        .groupBy("lang_pred")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(
                F.sum(F.col("quality").cast("decimal(18,6)")).cast("double"), 6
            ).alias("total_quality"),
        )
    )


def _q_shingle_stats(spark, sf_dir):
    """Character 5-gram shingle stats per doc — the JVM-side shingle
    generator (sequence + substring) behind n-gram Jaccard dedup,
    mirrored exactly in DuckDB (range + substr)."""
    _ship_package(spark)
    from indexer_spark.extras.dedup import char_shingles

    sh = char_shingles(_docs(spark, sf_dir), n=5)
    return sh.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.countDistinct("term").cast("long").alias("n_distinct_shingles"),
    )


def _q_token_counts(spark, sf_dir):
    """Token counting two ways (whitespace + reference-lexer-class regex
    pieces), fully JVM-side — the BPE-ish counting proxy from
    extras.textstats, mirrored exactly in DuckDB regexp semantics."""
    _ship_package(spark)
    from indexer_spark.extras.textstats import token_counts

    return token_counts(_docs(spark, sf_dir))


def _q_tokenize_udf(spark, sf_dir):
    """The real reference-parity tokenizer (lex+stem+stop) as an Arrow
    pandas UDF — not SQL-expressible (rows-only check; full parity is
    pytest-verified against the oracle)."""
    _ship_package(spark)
    from indexer_spark.udfs import n_index_terms_udf

    return _docs(spark, sf_dir).select(
        "doc_id", n_index_terms_udf("text").alias("n_terms")
    )


def _q_simhash(spark, sf_dir):
    """60-bit SimHash per doc over md5-derived term hashes
    (extras.dedup.simhash_portable); DuckDB computes the identical value
    (full oracle check)."""
    _ship_package(spark)
    from indexer_spark.extras.dedup import simhash_portable

    return simhash_portable(_docs(spark, sf_dir))


def _q_quality(spark, sf_dir):
    """Quality scoring features — fully JVM-side arithmetic over regexp
    counts; the DuckDB oracle mirrors the exact regex classes and the
    fixed-order float arithmetic."""
    _ship_package(spark)
    from indexer_spark.extras.textstats import quality_scores

    return quality_scores(_docs(spark, sf_dir))


def _q_lang_id(spark, sf_dir):
    """Heuristic language ID (JVM expressions; DuckDB mirrors the
    stopword/char scoring and the first-wins tie-break)."""
    _ship_package(spark)
    from indexer_spark.extras.textstats import language_id

    return language_id(_docs(spark, sf_dir))


def _q_fingerprints(spark, sf_dir):
    """Document fingerprints: 60-bit md5 over whitespace-normalized text
    (extras.textstats.fingerprints_portable), fully oracle-checkable in
    DuckDB."""
    _ship_package(spark)
    from indexer_spark.extras.textstats import fingerprints_portable

    return fingerprints_portable(_docs(spark, sf_dir))


def _q_multimodal(spark, sf_dir):
    """REAL image decode (pure-numpy PPM/BMP codec) -> feature extraction
    over a deterministic synthetic asset fixture, through the Arrow
    mapInPandas plumbing. The feature vector is flattened to rounded
    scalar columns f0..f15 so the driver's rows-only canonicalizer can
    sort rows (array<double> is unhashable in its pandas sort). Codec
    output => rows-only by necessity; decode correctness is
    pytest-verified (round-trip + feature recompute)."""
    _ship_package(spark)
    from indexer_spark.extras import multimodal

    pdf = multimodal.synth_image_assets(64, seed=3)
    df = spark.createDataFrame(pdf, schema=multimodal.ASSET_SCHEMA)
    feats = multimodal.extract_features(df, decoder=multimodal.image_decoder)
    return feats.select(
        "asset_id",
        "kind",
        "n_bytes",
        *[
            F.round(F.col("feature")[i], 6).alias(f"f{i}")
            for i in range(multimodal.FEATURE_DIM)
        ],
    )


def _q_phrase_topk(spark, sf_dir):
    # positional phrase BM25 (engine: search(mode="phrase") over a
    # BuildConfig(positions=True) index, query.py _make_phrase_scorer;
    # pytest-oracle-verified in tests/test_phrase.py). This SQL-parity
    # demo expresses the same semantics on the documents table: docs
    # containing the contiguous bigram "scan merge" (single-space token
    # adjacency == raw-stream position adjacency), scored with the same
    # BM25 formula over the two phrase terms.
    import math

    docs = _docs(spark, sf_dir)
    n = docs.count()
    dfs = _df_of_terms(spark, sf_dir)
    idf = {
        t: math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
        for t in ("scan", "merge")
    }
    dl = _q_doc_len(spark, sf_dir)
    total_len = dl.agg(F.sum("doc_len")).collect()[0][0]
    avgdl = float(total_len) / n
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    contig = docs.filter(padded.contains(" scan merge ")).select("doc_id")
    base = (
        _per_term_tf(spark, sf_dir)
        .join(dl, "doc_id")
        .join(contig, "doc_id")
    )
    norm = F.lit(_K1) * (
        F.lit(1.0 - _B) + F.lit(_B) * F.col("doc_len") / F.lit(avgdl)
    )
    score = F.lit(0.0)
    for t in ("scan", "merge"):
        tf = F.col(f"tf_{t}")
        score = score + F.lit(idf[t]) * tf * F.lit(_K1 + 1.0) / (tf + norm)
    return (
        base.withColumn("score", F.round(score, 6))
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def _q_near_topk(spark, sf_dir):
    # positional proximity BM25 (engine: search(mode="near", window=W)
    # over a BuildConfig(positions=True) index, query.py
    # _make_near_scorer; pytest-oracle-verified in tests/test_near.py).
    # This SQL-parity demo expresses the same semantics on the documents
    # table: docs where 'scan' and 'hash' co-occur within a 4-token
    # window (single-space tokens == raw-stream positions), scored with
    # the same BM25 formula over the two terms.
    import math

    docs = _docs(spark, sf_dir)
    n = docs.count()
    dfs = _df_of_terms(spark, sf_dir)
    idf = {
        t: math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
        for t in ("hash", "scan")
    }
    dl = _q_doc_len(spark, sf_dir)
    total_len = dl.agg(F.sum("doc_len")).collect()[0][0]
    avgdl = float(total_len) / n
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    a = toks.filter(F.col("tok") == "scan").select("doc_id", F.col("pos").alias("pa"))
    b = toks.filter(F.col("tok") == "hash").select("doc_id", F.col("pos").alias("pb"))
    cand = (
        a.join(b, "doc_id")
        .filter(F.abs(F.col("pa") - F.col("pb")) <= 4)
        .select("doc_id")
        .distinct()
    )
    base = (
        _per_term_tf(spark, sf_dir)
        .join(dl, "doc_id")
        .join(cand, "doc_id")
    )
    norm = F.lit(_K1) * (
        F.lit(1.0 - _B) + F.lit(_B) * F.col("doc_len") / F.lit(avgdl)
    )
    score = F.lit(0.0)
    for t in ("hash", "scan"):  # sorted-term order pins float addition
        tf = F.col(f"tf_{t}")
        score = score + F.lit(idf[t]) * tf * F.lit(_K1 + 1.0) / (tf + norm)
    return (
        base.withColumn("score", F.round(score, 6))
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def _q_bool_topk(spark, sf_dir):
    # boolean query language BM25 (engine: search_bool / mode="bool",
    # indexer_spark/boolquery.py parser + query.py _make_bool_scorer;
    # pytest-oracle-verified in tests/test_bool.py). This SQL-parity
    # demo expresses "(scan OR merge) AND NOT hash" on the documents
    # table: docs containing scan or merge but not hash, scored BM25
    # over the positive terms they contain (zero-tf terms contribute 0).
    import math

    docs = _docs(spark, sf_dir)
    n = docs.count()
    dfs = _df_of_terms(spark, sf_dir)
    idf = {
        t: math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
        for t in ("merge", "scan")
    }
    dl = _q_doc_len(spark, sf_dir)
    total_len = dl.agg(F.sum("doc_len")).collect()[0][0]
    avgdl = float(total_len) / n
    base = (
        _per_term_tf(spark, sf_dir)
        .filter(
            ((F.col("tf_scan") > 0) | (F.col("tf_merge") > 0))
            & (F.col("tf_hash") == 0)
        )
        .join(dl, "doc_id")
    )
    norm = F.lit(_K1) * (
        F.lit(1.0 - _B) + F.lit(_B) * F.col("doc_len") / F.lit(avgdl)
    )
    score = F.lit(0.0)
    for t in ("merge", "scan"):  # sorted-term order pins float addition
        tf = F.col(f"tf_{t}")
        score = score + F.lit(idf[t]) * tf * F.lit(_K1 + 1.0) / (tf + norm)
    return (
        base.withColumn("score", F.round(score, 6))
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def _q_prefix_topk(spark, sf_dir):
    # prefix (wildcard) query BM25 (engine: search_bool("s*") — boolquery
    # Prefix atoms expand against the term-sorted term_stats dictionary
    # via a row-group-pruned range scan, query.py expand_prefix;
    # pytest-oracle-verified in tests/test_bool.py). This SQL-parity demo
    # expresses the same OR-of-expansions semantics on the documents
    # table: every token with prefix 's' scores BM25 with its own df;
    # per-doc contributions are summed in ascending-term order on BOTH
    # sides (Spark: left fold over a sorted array; DuckDB: ordered
    # aggregate) so float addition is bit-determined.
    docs = _docs(spark, sf_dir)
    n = docs.count()
    dl = _q_doc_len(spark, sf_dir)
    total_len = dl.agg(F.sum("doc_len")).collect()[0][0]
    avgdl = float(total_len) / n
    tok = _tokens(spark, sf_dir).filter(F.col("term").startswith("s"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfs = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = dfs.withColumn(
        "idf",
        F.log(F.lit(1.0) + (F.lit(float(n)) - F.col("df") + F.lit(0.5))
              / (F.col("df") + F.lit(0.5))),
    ).select("term", "idf")
    norm = F.lit(_K1) * (
        F.lit(1.0 - _B) + F.lit(_B) * F.col("doc_len") / F.lit(avgdl)
    )
    contrib = (
        F.col("idf") * F.col("tf") * F.lit(_K1 + 1.0) / (F.col("tf") + norm)
    )
    per = (
        tf.join(idf, "term")
        .join(dl, "doc_id")
        .select("doc_id", F.struct(F.col("term"), contrib.alias("c")).alias("tc"))
    )
    score = F.aggregate(
        F.array_sort(F.collect_list("tc")),
        F.lit(0.0),
        lambda acc, x: acc + x["c"],
    )
    return (
        per.groupBy("doc_id")
        .agg(F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def _q_hybrid_topk(spark, sf_dir):
    # hybrid retrieval: BM25 top-50 candidates -> embedding-cosine rerank
    # (engine: IndexReader.search_rerank — stage 2 is a driver-side
    # point-read of candidate vectors + numpy cosine, no Spark job;
    # pytest-oracle-verified in tests/test_hybrid.py). Demo: the
    # bm25_topk pipeline cut at 50, joined to embeddings on
    # doc_id = vec_id, reranked by cosine to vec 0 (same double-cast
    # dot/sqrt expression DuckDB's list_cosine_similarity uses — the
    # sim_topk pair established bit-for-bit agreement).
    import math

    docs = _docs(spark, sf_dir)
    n = docs.count()
    dfs = _df_of_terms(spark, sf_dir)
    idf = {
        t: math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5)) for t in _TERMS
    }
    dl = _q_doc_len(spark, sf_dir)
    total_len = dl.agg(F.sum("doc_len")).collect()[0][0]
    avgdl = float(total_len) / n
    base = _per_term_tf(spark, sf_dir).join(dl, "doc_id")
    norm = F.lit(_K1) * (
        F.lit(1.0 - _B) + F.lit(_B) * F.col("doc_len") / F.lit(avgdl)
    )
    score = F.lit(0.0)
    for t in _TERMS:
        tf = F.col(f"tf_{t}")
        score = score + F.lit(idf[t]) * tf * F.lit(_K1 + 1.0) / (tf + norm)
    cand = (
        base.withColumn("bm25", F.round(score, 6))
        .filter(F.col("bm25") > 0.0)
        .select("doc_id", "bm25")
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(50)
    )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    emb = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("q"))
    j = cand.join(emb, cand.doc_id == emb.vec_id).crossJoin(F.broadcast(qv))
    dot = F.aggregate(
        F.zip_with("v", "q", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        j.select(
            "doc_id", "bm25",
            F.round(dot / F.sqrt(sq(F.col("v")) * sq(F.col("q"))), 6)
            .alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        .limit(10)
    )


def _q_facet_topk(spark, sf_dir):
    # facet counts over query matches (engine: IndexReader.facet_counts —
    # driver point-read when the matched set is small, distributed
    # scored-set join + tiny per-value agg otherwise; pytest-verified in
    # tests/test_facets.py on both paths). Demo: docs containing 'scan'
    # counted by lang.
    docs = _docs(spark, sf_dir)
    matched = (
        _tokens(spark, sf_dir)
        .filter(F.col("term") == "scan")
        .select("doc_id")
        .distinct()
    )
    return (
        matched.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("lang"))
        .limit(5)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tf_count": _q_tf_count,
        "doc_len": _q_doc_len,
        "df": _q_df,
        "idf": _q_idf,
        "tfidf_topk": _q_tfidf_topk,
        "bm25_topk": _q_bm25_topk,
        "bm25_and_topk": _q_bm25_and_topk,
        "phrase_topk": _q_phrase_topk,
        "near_topk": _q_near_topk,
        "bool_topk": _q_bool_topk,
        "prefix_topk": _q_prefix_topk,
        "hybrid_topk": _q_hybrid_topk,
        "facet_topk": _q_facet_topk,
        "docid_assign": _q_docid_assign,
        "dedup_exact": _q_dedup_exact,
        "sim_topk": _q_sim_topk,
        "text_quality": _q_text_quality,
        "lang_count": _q_lang_count,
        "events_by_type": _q_events_by_type,
        "top_users": _q_top_users,
        "minhash_pairs": _q_minhash_pairs,
        "neardup_verified": _q_neardup_verified,
        "quality_by_lang": _q_quality_by_lang,
        "token_counts": _q_token_counts,
        "shingle_stats": _q_shingle_stats,
        "tokenize_udf": _q_tokenize_udf,
        "simhash": _q_simhash,
        "quality_scores": _q_quality,
        "lang_id": _q_lang_id,
        "fingerprints": _q_fingerprints,
        "multimodal_features": _q_multimodal,
    }


def oracle_sql() -> dict[str, str]:
    terms_in = ", ".join(f"'{t}'" for t in _TERMS)
    tok = (
        "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents"
    )
    tf_pivot = f"""
      SELECT doc_id,
             coalesce(max(CASE WHEN term='scan'  THEN tf END), 0) AS tf_scan,
             coalesce(max(CASE WHEN term='merge' THEN tf END), 0) AS tf_merge,
             coalesce(max(CASE WHEN term='hash'  THEN tf END), 0) AS tf_hash
      FROM (SELECT doc_id, term, count(*) AS tf
            FROM ({tok}) WHERE term IN ({terms_in}) GROUP BY doc_id, term)
      GROUP BY doc_id
    """
    dfs = f"""
      SELECT term, count(DISTINCT doc_id) AS df
      FROM ({tok}) WHERE term IN ({terms_in}) GROUP BY term
    """
    return {
        "tf_count": f"""
            SELECT doc_id, term, count(*) AS tf
            FROM ({tok}) t WHERE term <> '' GROUP BY doc_id, term
        """,
        "doc_len": """
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
                     AS doc_len
            FROM documents
        """,
        "df": f"""
            SELECT term, count(DISTINCT doc_id) AS df
            FROM ({tok}) t WHERE term <> '' GROUP BY term
        """,
        "idf": f"""
            WITH n AS (SELECT count(*)::DOUBLE AS n FROM documents)
            SELECT term, df, round(abs(ln(n.n / df)), 6) AS idf
            FROM (SELECT term, count(DISTINCT doc_id) AS df
                  FROM ({tok}) t WHERE term <> '' GROUP BY term), n
        """,
        "tfidf_topk": f"""
            WITH n AS (SELECT count(*)::DOUBLE AS n FROM documents),
            d AS ({dfs}),
            idf AS (SELECT term, abs(ln((SELECT n FROM n) / df)) AS idf FROM d),
            base AS ({tf_pivot})
            SELECT doc_id,
                   round(  tf_scan  * coalesce((SELECT idf FROM idf WHERE term='scan'), 0)
                         + tf_merge * coalesce((SELECT idf FROM idf WHERE term='merge'), 0)
                         + tf_hash  * coalesce((SELECT idf FROM idf WHERE term='hash'), 0), 6)
                     AS score
            FROM base
            WHERE round(  tf_scan  * coalesce((SELECT idf FROM idf WHERE term='scan'), 0)
                        + tf_merge * coalesce((SELECT idf FROM idf WHERE term='merge'), 0)
                        + tf_hash  * coalesce((SELECT idf FROM idf WHERE term='hash'), 0), 6) <> 0.0
            ORDER BY score DESC, doc_id ASC LIMIT 10
        """,
        "bm25_topk": f"""
            WITH n AS (SELECT count(*)::DOUBLE AS n FROM documents),
            dl AS (SELECT doc_id,
                          len(list_filter(string_split(text,' '), x -> x <> ''))::BIGINT AS doc_len
                   FROM documents),
            avg_dl AS (SELECT sum(doc_len)::DOUBLE / (SELECT n FROM n) AS avgdl FROM dl),
            d AS ({dfs}),
            idf AS (SELECT term,
                           ln(1.0 + ((SELECT n FROM n) - df + 0.5) / (df + 0.5)) AS idf
                    FROM d),
            base AS ({tf_pivot})
            SELECT b.doc_id AS doc_id,
                   round(  coalesce((SELECT idf FROM idf WHERE term='scan'),0)
                             * b.tf_scan * 2.2
                             / (b.tf_scan + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl)))
                         + coalesce((SELECT idf FROM idf WHERE term='merge'),0)
                             * b.tf_merge * 2.2
                             / (b.tf_merge + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl)))
                         + coalesce((SELECT idf FROM idf WHERE term='hash'),0)
                             * b.tf_hash * 2.2
                             / (b.tf_hash + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl))), 6)
                     AS score
            FROM base b JOIN dl ON b.doc_id = dl.doc_id
            WHERE   coalesce((SELECT idf FROM idf WHERE term='scan'),0)
                      * b.tf_scan * 2.2
                      / (b.tf_scan + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl)))
                  + coalesce((SELECT idf FROM idf WHERE term='merge'),0)
                      * b.tf_merge * 2.2
                      / (b.tf_merge + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl)))
                  + coalesce((SELECT idf FROM idf WHERE term='hash'),0)
                      * b.tf_hash * 2.2
                      / (b.tf_hash + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl))) > 0.0
            ORDER BY score DESC, b.doc_id ASC LIMIT 10
        """,
        "bm25_and_topk": f"""
            WITH n AS (SELECT count(*)::DOUBLE AS n FROM documents),
            dl AS (SELECT doc_id,
                          len(list_filter(string_split(text,' '), x -> x <> ''))::BIGINT AS doc_len
                   FROM documents),
            avg_dl AS (SELECT sum(doc_len)::DOUBLE / (SELECT n FROM n) AS avgdl FROM dl),
            d AS ({dfs}),
            idf AS (SELECT term,
                           ln(1.0 + ((SELECT n FROM n) - df + 0.5) / (df + 0.5)) AS idf
                    FROM d),
            base AS ({tf_pivot})
            SELECT b.doc_id AS doc_id,
                   round(  coalesce((SELECT idf FROM idf WHERE term='scan'),0)
                             * b.tf_scan * 2.2
                             / (b.tf_scan + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl)))
                         + coalesce((SELECT idf FROM idf WHERE term='merge'),0)
                             * b.tf_merge * 2.2
                             / (b.tf_merge + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl)))
                         + coalesce((SELECT idf FROM idf WHERE term='hash'),0)
                             * b.tf_hash * 2.2
                             / (b.tf_hash + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl))), 6)
                     AS score
            FROM base b JOIN dl ON b.doc_id = dl.doc_id
            WHERE b.tf_scan > 0 AND b.tf_merge > 0 AND b.tf_hash > 0
            ORDER BY score DESC, b.doc_id ASC LIMIT 10
        """,
        "phrase_topk": f"""
            WITH n AS (SELECT count(*)::DOUBLE AS n FROM documents),
            dl AS (SELECT doc_id,
                          len(list_filter(string_split(text,' '), x -> x <> ''))::BIGINT AS doc_len
                   FROM documents),
            avg_dl AS (SELECT sum(doc_len)::DOUBLE / (SELECT n FROM n) AS avgdl FROM dl),
            d AS ({dfs}),
            idf AS (SELECT term,
                           ln(1.0 + ((SELECT n FROM n) - df + 0.5) / (df + 0.5)) AS idf
                    FROM d),
            contig AS (SELECT doc_id FROM documents
                       WHERE ' ' || text || ' ' LIKE '% scan merge %'),
            base AS ({tf_pivot})
            SELECT b.doc_id AS doc_id,
                   round(  coalesce((SELECT idf FROM idf WHERE term='scan'),0)
                             * b.tf_scan * 2.2
                             / (b.tf_scan + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl)))
                         + coalesce((SELECT idf FROM idf WHERE term='merge'),0)
                             * b.tf_merge * 2.2
                             / (b.tf_merge + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl))), 6)
                     AS score
            FROM base b
            JOIN dl ON b.doc_id = dl.doc_id
            JOIN contig c ON b.doc_id = c.doc_id
            ORDER BY score DESC, b.doc_id ASC LIMIT 10
        """,
        "near_topk": f"""
            WITH n AS (SELECT count(*)::DOUBLE AS n FROM documents),
            dl AS (SELECT doc_id,
                          len(list_filter(string_split(text,' '), x -> x <> ''))::BIGINT AS doc_len
                   FROM documents),
            avg_dl AS (SELECT sum(doc_len)::DOUBLE / (SELECT n FROM n) AS avgdl FROM dl),
            d AS ({dfs}),
            idf AS (SELECT term,
                           ln(1.0 + ((SELECT n FROM n) - df + 0.5) / (df + 0.5)) AS idf
                    FROM d),
            toks AS (SELECT doc_id,
                            unnest(string_split(text,' ')) AS tok,
                            unnest(range(1, len(string_split(text,' ')) + 1)) AS pos
                     FROM documents),
            cand AS (SELECT DISTINCT a.doc_id
                     FROM toks a JOIN toks b ON a.doc_id = b.doc_id
                     WHERE a.tok = 'scan' AND b.tok = 'hash'
                       AND abs(a.pos - b.pos) <= 4),
            base AS ({tf_pivot})
            SELECT b.doc_id AS doc_id,
                   round(  coalesce((SELECT idf FROM idf WHERE term='hash'),0)
                             * b.tf_hash * 2.2
                             / (b.tf_hash + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl)))
                         + coalesce((SELECT idf FROM idf WHERE term='scan'),0)
                             * b.tf_scan * 2.2
                             / (b.tf_scan + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl))), 6)
                     AS score
            FROM base b
            JOIN dl ON b.doc_id = dl.doc_id
            JOIN cand c ON b.doc_id = c.doc_id
            ORDER BY score DESC, b.doc_id ASC LIMIT 10
        """,
        "bool_topk": f"""
            WITH n AS (SELECT count(*)::DOUBLE AS n FROM documents),
            dl AS (SELECT doc_id,
                          len(list_filter(string_split(text,' '), x -> x <> ''))::BIGINT AS doc_len
                   FROM documents),
            avg_dl AS (SELECT sum(doc_len)::DOUBLE / (SELECT n FROM n) AS avgdl FROM dl),
            d AS ({dfs}),
            idf AS (SELECT term,
                           ln(1.0 + ((SELECT n FROM n) - df + 0.5) / (df + 0.5)) AS idf
                    FROM d),
            base AS ({tf_pivot})
            SELECT b.doc_id AS doc_id,
                   round(  coalesce((SELECT idf FROM idf WHERE term='merge'),0)
                             * b.tf_merge * 2.2
                             / (b.tf_merge + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl)))
                         + coalesce((SELECT idf FROM idf WHERE term='scan'),0)
                             * b.tf_scan * 2.2
                             / (b.tf_scan + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl))), 6)
                     AS score
            FROM base b
            JOIN dl ON b.doc_id = dl.doc_id
            WHERE (b.tf_scan > 0 OR b.tf_merge > 0) AND b.tf_hash = 0
            ORDER BY score DESC, b.doc_id ASC LIMIT 10
        """,
        "prefix_topk": """
            WITH n AS (SELECT count(*)::DOUBLE AS n FROM documents),
            dl AS (SELECT doc_id,
                          len(list_filter(string_split(text,' '), x -> x <> ''))::BIGINT AS doc_len
                   FROM documents),
            avg_dl AS (SELECT sum(doc_len)::DOUBLE / (SELECT n FROM n) AS avgdl FROM dl),
            tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
                   WHERE term LIKE 's%' GROUP BY doc_id, term),
            d AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
            idf AS (SELECT term,
                           ln(1.0 + ((SELECT n FROM n) - df + 0.5) / (df + 0.5)) AS idf
                    FROM d),
            per AS (SELECT tf.doc_id, tf.term,
                           idf.idf * tf.tf * 2.2
                             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl)))
                             AS c
                    FROM tf JOIN idf USING (term) JOIN dl USING (doc_id))
            SELECT doc_id, round(sum(c ORDER BY term), 6) AS score
            FROM per GROUP BY doc_id
            ORDER BY score DESC, doc_id ASC LIMIT 10
        """,
        "hybrid_topk": f"""
            WITH n AS (SELECT count(*)::DOUBLE AS n FROM documents),
            dl AS (SELECT doc_id,
                          len(list_filter(string_split(text,' '), x -> x <> ''))::BIGINT AS doc_len
                   FROM documents),
            avg_dl AS (SELECT sum(doc_len)::DOUBLE / (SELECT n FROM n) AS avgdl FROM dl),
            d AS ({dfs}),
            idf AS (SELECT term,
                           ln(1.0 + ((SELECT n FROM n) - df + 0.5) / (df + 0.5)) AS idf
                    FROM d),
            base AS ({tf_pivot}),
            scored AS (
              SELECT b.doc_id AS doc_id,
                     round(  coalesce((SELECT idf FROM idf WHERE term='scan'),0)
                               * b.tf_scan * 2.2
                               / (b.tf_scan + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl)))
                           + coalesce((SELECT idf FROM idf WHERE term='merge'),0)
                               * b.tf_merge * 2.2
                               / (b.tf_merge + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl)))
                           + coalesce((SELECT idf FROM idf WHERE term='hash'),0)
                               * b.tf_hash * 2.2
                               / (b.tf_hash + 1.2 * (0.25 + 0.75 * dl.doc_len / (SELECT avgdl FROM avg_dl))), 6)
                       AS bm25
              FROM base b JOIN dl ON b.doc_id = dl.doc_id),
            cand AS (SELECT doc_id, bm25 FROM scored WHERE bm25 > 0.0
                     ORDER BY bm25 DESC, doc_id ASC LIMIT 50),
            q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
            SELECT c.doc_id AS doc_id, c.bm25 AS bm25,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], (SELECT qv FROM q)), 6) AS cos_sim
            FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id
            ORDER BY cos_sim DESC, doc_id ASC LIMIT 10
        """,
        "facet_topk": """
            WITH matched AS (
              SELECT DISTINCT doc_id FROM (
                SELECT doc_id, unnest(string_split(text,' ')) AS term
                FROM documents) WHERE term = 'scan')
            SELECT d.lang AS lang, count(*)::BIGINT AS n
            FROM matched m JOIN documents d USING (doc_id)
            GROUP BY d.lang
            ORDER BY n DESC, lang ASC LIMIT 5
        """,
        "docid_assign": """
            SELECT doc_id,
                   (row_number() OVER (ORDER BY source, doc_id) - 1)::BIGINT
                     AS assigned_id
            FROM documents
        """,
        "dedup_exact": """
            SELECT md5(text) AS content_hash, count(*) AS n_dups,
                   min(doc_id) AS keeper_doc_id
            FROM documents GROUP BY md5(text)
        """,
        "sim_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], (SELECT q FROM q)), 6)
                     AS cos_sim
            FROM embeddings WHERE vec_id <> 0
            ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
        """,
        "text_quality": f"""
            SELECT doc_id, count(*) AS n_tokens,
                   count(DISTINCT term) AS n_distinct,
                   round(avg(length(term)), 6) AS avg_token_len
            FROM ({tok}) t WHERE term <> '' GROUP BY doc_id
        """,
        "lang_count": """
            SELECT lang, count(*) AS n_docs,
                   sum(n_chars)::BIGINT AS total_chars
            FROM documents GROUP BY lang
        """,
        "events_by_type": """
            SELECT event_type, count(*) AS n,
                   round(sum(value::DECIMAL(28,6))::DOUBLE, 6) AS total_value
            FROM events GROUP BY event_type
        """,
        "top_users": """
            SELECT user_id,
                   round(sum(value::DECIMAL(28,6))::DOUBLE, 6) AS total_value
            FROM events GROUP BY user_id
            ORDER BY total_value DESC, user_id ASC LIMIT 10
        """,
        "minhash_pairs": _minhash_oracle_sql(tok),
        "neardup_verified": f"""
            WITH pairs AS ({_minhash_oracle_sql(tok)}),
            sets AS (
                SELECT doc_id, list(term) AS terms
                FROM (SELECT DISTINCT doc_id, term FROM ({tok}) t
                      WHERE term <> '')
                GROUP BY doc_id
            )
            SELECT p.doc_a AS doc_a, p.doc_b AS doc_b,
                   round(len(list_intersect(a.terms, b.terms))::DOUBLE
                         / len(list_distinct(a.terms || b.terms)), 6)
                     AS jaccard
            FROM pairs p
            JOIN sets a ON a.doc_id = p.doc_a
            JOIN sets b ON b.doc_id = p.doc_b
            WHERE round(len(list_intersect(a.terms, b.terms))::DOUBLE
                        / len(list_distinct(a.terms || b.terms)), 6) >= 0.8
        """,
        "quality_by_lang": f"""
            WITH lang AS ({_lang_id_oracle_sql()}),
            qual AS ({_quality_oracle_sql()})
            SELECT l.lang_pred AS lang_pred,
                   count(*)::BIGINT AS n_docs,
                   round(sum(q.quality::DECIMAL(18,6))::DOUBLE, 6)
                     AS total_quality
            FROM lang l JOIN qual q USING (doc_id)
            GROUP BY l.lang_pred
        """,
        "token_counts": r'''
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                   x -> x <> ''))::BIGINT AS n_ws_tokens,
                   len(regexp_extract_all(lower(text),
                       '[0-9]+|[a-z][a-z0-9]*|[^\sa-z0-9]'))::BIGINT
                     AS n_lex_tokens
            FROM documents
        ''',
        "shingle_stats": r'''
            WITH sh AS (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, greatest(length(lower(text)) - 4, 1) + 1),
                           i -> substr(lower(text), i, 5))) AS term
                FROM documents
            )
            SELECT doc_id, count(*)::BIGINT AS n_shingles,
                   count(DISTINCT term)::BIGINT AS n_distinct_shingles
            FROM sh WHERE length(term) = 5 GROUP BY doc_id
        ''',
        "simhash": _simhash_oracle_sql(),
        "quality_scores": _quality_oracle_sql(),
        "lang_id": _lang_id_oracle_sql(),
        "fingerprints": r"""
            WITH n AS (
                SELECT doc_id,
                       array_to_string(
                           list_filter(
                               regexp_split_to_array(coalesce(text, ''), '\s+'),
                               x -> x <> ''),
                           ' ') AS norm
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN norm = '' THEN 0::BIGINT
                        ELSE ('0x' || substr(md5(norm), 1, 15))::BIGINT
                   END AS fingerprint
            FROM n
        """,
        # rows-only by necessity:
        #  - tokenize_udf: Porter2 stemming + reference lexer quirks have no
        #    SQL equivalent (pytest parity vs the oracle instead)
        #  - multimodal_features: binary image codec (PPM/BMP decode) is not
        #    expressible in SQL (pytest round-trip + feature recompute)
    }


def _minhash_oracle_sql(tok: str) -> str:
    """DuckDB twin of _q_minhash_pairs: identical md5-string minhash
    (lexicographic min over lowercase hex), identical 4x4 banding."""
    h = ",\n                   ".join(
        f"min(md5('{i}#' || term)) AS h{i}" for i in range(16)
    )
    bands = "\n              UNION ALL ".join(
        "SELECT doc_id, {b} AS band, "
        "md5(h{i0} || '|' || h{i1} || '|' || h{i2} || '|' || h{i3}) AS bucket "
        "FROM sigs".format(b=b, i0=4 * b, i1=4 * b + 1, i2=4 * b + 2, i3=4 * b + 3)
        for b in range(4)
    )
    return f"""
        WITH tok AS (
            SELECT DISTINCT doc_id, term FROM ({tok}) t WHERE term <> ''
        ), sigs AS (
            SELECT doc_id,
                   {h}
            FROM tok GROUP BY doc_id
        ), bands AS (
            {bands}
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """


def _simhash_oracle_sql(bits: int = 60) -> str:
    """DuckDB twin of extras.dedup.simhash_portable (md5-derived 60-bit
    term hashes; tokens = lowercase whitespace split, matching
    dedup._tokens)."""
    sums = ",\n                   ".join(
        f"sum(CASE WHEN ((h >> {i}) & 1) = 1 THEN tf ELSE -tf END) AS s{i}"
        for i in range(bits)
    )
    bitsum = "\n                 + ".join(
        f"CASE WHEN s{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END"
        for i in range(bits)
    )
    return f"""
        WITH tok AS (
            SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id,
                         unnest(list_filter(
                             regexp_split_to_array(lower(text), '\\s+'),
                             x -> x <> '')) AS term
                  FROM documents) t
            GROUP BY doc_id, term
        ), h AS (
            SELECT doc_id, tf,
                   ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
            FROM tok
        ), s AS (
            SELECT doc_id,
                   {sums}
            FROM h GROUP BY doc_id
        )
        SELECT doc_id,
               ({bitsum})::BIGINT AS simhash
        FROM s
    """


def _quality_oracle_sql() -> str:
    """DuckDB twin of extras.textstats.quality_scores: same regex classes,
    same fixed-order float arithmetic, round(x, 6) both sides."""
    return r"""
        WITH base AS (
            SELECT doc_id,
                   greatest(length(text), 1) AS safe_chars,
                   list_filter(regexp_split_to_array(lower(text), '\s+'),
                               x -> x <> '') AS words,
                   length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g'))
                     AS punct,
                   length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits
            FROM documents
        ), w AS (
            SELECT doc_id, punct, digits, safe_chars,
                   len(words) AS n_words,
                   len(list_distinct(words)) AS n_distinct,
                   len(list_intersect(words,
                       ['the','and','of','to','a','in','is','it','that']))
                     AS n_stop,
                   greatest(len(words), 1) AS safe_words
            FROM base
        )
        SELECT doc_id,
               n_words::BIGINT AS n_words,
               n_distinct::BIGINT AS n_distinct,
               round(n_distinct / safe_words, 6) AS rep_ratio,
               round(n_stop / safe_words, 6) AS stop_ratio,
               round(punct / safe_chars, 6) AS punct_ratio,
               round(digits / safe_chars, 6) AS digit_ratio,
               round(  least(n_words / 100.0, 1.0) * 0.3
                     + (n_distinct / safe_words) * 0.3
                     + least((n_stop / safe_words) * 5.0, 1.0) * 0.2
                     + (1.0 - least((punct / safe_chars) * 4.0, 1.0)) * 0.1
                     + (1.0 - least((digits / safe_chars) * 4.0, 1.0)) * 0.1,
                     6) AS quality
        FROM w
    """


def _lang_id_oracle_sql() -> str:
    """DuckDB twin of extras.textstats.language_id: stopword hits (x2) +
    distinctive-char hits, first-wins tie-break in (en, fr, de, es) order,
    CJK by Unicode range over the first 200 chars."""
    profiles = {
        "en": (["and", "for", "in", "is", "it", "of", "that", "the", "to"], ""),
        "fr": (["de", "des", "est", "et", "la", "le", "les", "que", "un", "une"],
               "éèêàçù"),
        "de": (["das", "der", "die", "ein", "eine", "ist", "mit", "nicht", "und"],
               "äöüß"),
        "es": (["de", "el", "es", "la", "las", "los", "por", "que", "una", "y"],
               "ñáéíóú¿¡"),
    }
    score_cols = []
    for lang, (stops, chars) in profiles.items():
        lst = ", ".join(f"'{w}'" for w in stops)
        expr = f"2 * len(list_intersect(w, [{lst}]))"
        if chars:
            expr += (f" + length(low) - "
                     f"length(regexp_replace(low, '[{chars}]', '', 'g'))")
        score_cols.append(f"{expr} AS s_{lang}")
    scores = ",\n                   ".join(score_cols)
    return f"""
        WITH base AS (
            SELECT doc_id, lower(text) AS low,
                   (list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> ''))[1:200] AS w
            FROM documents
        ), sc AS (
            SELECT doc_id, low,
                   {scores}
            FROM base
        )
        SELECT doc_id,
               CASE WHEN regexp_matches(substr(low, 1, 200), '[一-鿿]')
                      THEN 'zh'
                    WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es
                         AND s_en > 0 THEN 'en'
                    WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr > 0 THEN 'fr'
                    WHEN s_de >= s_es AND s_de > 0 THEN 'de'
                    WHEN s_es > 0 THEN 'es'
                    ELSE 'und' END AS lang_pred
        FROM sc
    """
