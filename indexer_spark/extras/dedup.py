"""Near-duplicate operators the driver harness declares: SimHash over
md5-derived term hashes and character n-gram shingles. Both are JVM-side
and mirrorable in ANSI SQL, so a DuckDB oracle checks them bit for bit."""

from pyspark.sql import DataFrame, functions as F


def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return (
        df.select(id_col, F.explode(F.split(F.lower(text_col), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
    )


def simhash_portable(
    df: DataFrame, text_col="text", id_col="doc_id", bits: int = 60
) -> DataFrame:
    """SimHash over md5-derived term hashes (first 15 hex chars -> 60-bit
    int): per bit i, sum(tf * (+1 if bit set else -1)); bit i of the
    output is 1 iff that sum > 0. Every step is expressible in ANSI SQL,
    so a DuckDB oracle can hash-match it (the driver harness's `simhash`
    entry)."""
    tok = (
        _tokens(df, text_col, id_col)
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
        .withColumn(
            "h", F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("long")
        )
    )
    aggs = []
    for i in range(bits):
        bit = F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1))
        aggs.append(
            F.sum(F.when(bit == 1, F.col("tf")).otherwise(-F.col("tf"))).alias(f"s{i}")
        )
    sums = tok.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("long")
    for i in range(bits):
        sim = sim + F.when(
            F.col(f"s{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return sums.select(id_col, sim.alias("simhash"))


def char_shingles(
    df: DataFrame, text_col="text", id_col="doc_id", n: int = 5
) -> DataFrame:
    """Character n-gram shingles, JVM-side (sequence + substring): the
    shingle sets behind n-gram Jaccard dedup, one row per (doc, term)."""
    s = F.lower(F.col(text_col))
    idx = F.sequence(F.lit(1), F.greatest(F.length(s) - (n - 1), F.lit(1)))
    return df.select(
        id_col,
        F.explode(F.transform(idx, lambda i: s.substr(i, F.lit(n)))).alias("term"),
    ).filter(F.length("term") == n)

