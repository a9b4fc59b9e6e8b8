"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All are JVM-side expressions mirrorable in ANSI
SQL; language ID scores a tiny deterministic character/stopword profile
(no external model)."""

from pyspark.sql import DataFrame, functions as F

# minimal, deterministic per-language profiles: distinctive stopwords +
# distinctive characters. An n-gram heuristic, not a trained model.
_LANG_PROFILES = {
    "en": ({"the", "and", "of", "to", "is", "in", "that", "it", "for"}, ""),
    "fr": ({"le", "la", "les", "et", "de", "des", "un", "une", "est", "que"}, "éèêàçù"),
    "de": ({"der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit"}, "äöüß"),
    "es": ({"el", "la", "los", "las", "y", "de", "que", "es", "una", "por"}, "ñáéíóú¿¡"),
}


def language_id(df: DataFrame, text_col="text", id_col="doc_id") -> DataFrame:
    """Heuristic language ID: stopword hits (weight 2) + distinctive
    character hits (weight 1); 'und' (undetermined) when nothing scores.
    CJK is detected by Unicode range (first 200 chars).

    Fully JVM-side (whole-stage codegen, no Python in the loop) and
    mirrorable in ANSI SQL."""
    low = F.lower(F.col(text_col))
    words = F.slice(
        F.filter(F.split(low, r"\s+"), lambda x: x != ""), 1, 200
    )

    def score(lang):
        stops, chars = _LANG_PROFILES[lang]
        s = F.size(
            F.array_intersect(words, F.array(*[F.lit(w) for w in sorted(stops)]))
        ) * 2
        if chars:
            s = s + F.length(low) - F.length(
                F.regexp_replace(low, f"[{chars}]", "")
            )
        return s

    s_en, s_fr, s_de, s_es = (score(x) for x in ("en", "fr", "de", "es"))
    is_zh = F.substring(low, 1, 200).rlike("[一-鿿]")
    # first-wins tie-break in profile order (en, fr, de, es), require > 0
    pred = (
        F.when(is_zh, "zh")
        .when((s_en >= s_fr) & (s_en >= s_de) & (s_en >= s_es) & (s_en > 0), "en")
        .when((s_fr >= s_de) & (s_fr >= s_es) & (s_fr > 0), "fr")
        .when((s_de >= s_es) & (s_de > 0), "de")
        .when(s_es > 0, "es")
        .otherwise("und")
    )
    return df.select(id_col, pred.alias("lang_pred"))


def quality_scores(df: DataFrame, text_col="text", id_col="doc_id") -> DataFrame:
    """Per-doc quality features + a composite score, fully JVM-side
    (whole-stage codegen; no UDF): length, word stats, punctuation/digit
    ratios, stopword ratio, repetition (distinct/total words)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    words = F.filter(F.split(F.lower(t), r"\s+"), lambda x: x != "")
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    stop = F.array(*[F.lit(w) for w in
                     ("the", "and", "of", "to", "a", "in", "is", "it", "that")])
    n_stop = F.size(F.array_intersect(words, stop))
    punct = F.length(F.regexp_replace(t, r"[^!-/:-@\[-`{-~]", ""))
    digits = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    safe_words = F.greatest(n_words, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    rep_ratio = n_distinct / safe_words
    stop_ratio = n_stop / safe_words
    punct_ratio = punct / safe_chars
    digit_ratio = digits / safe_chars
    score = (
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.3
        + rep_ratio * 0.3
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.2
        + (1.0 - F.least(punct_ratio * F.lit(4.0), F.lit(1.0))) * 0.1
        + (1.0 - F.least(digit_ratio * F.lit(4.0), F.lit(1.0))) * 0.1
    )
    return df.select(
        id_col,
        n_words.cast("long").alias("n_words"),
        n_distinct.cast("long").alias("n_distinct"),
        F.round(rep_ratio, 6).alias("rep_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(score, 6).alias("quality"),
    )


def token_counts(df: DataFrame, text_col="text", id_col="doc_id") -> DataFrame:
    """Token counting two ways, both JVM-side: whitespace tokens and a
    BPE-ish sub-word proxy (regex pieces: letter runs, digit runs,
    punctuation singletons — the reference lexer's classes, SURVEY §2.2
    P2, as a counting approximation)."""
    t = F.lower(F.col(text_col))
    ws = F.size(F.filter(F.split(t, r"\s+"), lambda x: x != ""))
    pieces = F.regexp_count(t, F.lit(r"[0-9]+|[a-z][a-z0-9]*|[^\sa-z0-9]"))
    return df.select(
        id_col,
        ws.cast("long").alias("n_ws_tokens"),
        pieces.cast("long").alias("n_lex_tokens"),
    )


def fingerprints_portable(df: DataFrame, text_col="text", id_col="doc_id") -> DataFrame:
    """Cross-engine-checkable document fingerprint: 60-bit integer from
    md5 over whitespace-normalized text (0 for empty text). Equal
    fingerprints <=> identical normalized text, and the value is
    computable bit-for-bit in DuckDB SQL
    (`('0x' || substr(md5(norm), 1, 15))::BIGINT`), so the driver harness
    can oracle-check it. Fully JVM-side (md5 + conv)."""
    norm = F.array_join(
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
            lambda x: x != "",
        ),
        " ",
    )
    fp = F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long")
    return df.select(
        id_col,
        F.when(F.length(norm) == 0, F.lit(0).cast("long"))
        .otherwise(fp)
        .alias("fingerprint"),
    )
