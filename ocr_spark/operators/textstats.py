"""Text-analysis operators for training-data pipelines (all JVM-native).

Language-ID (stopword heuristic), quality scoring, token counting and
document fingerprinting over a ``documents(doc_id, text, ...)`` table.
Every expression here is a built-in column function — whole-stage
codegen'd, no Python in the hot path — and each has an ANSI-SQL twin in
ocr_spark.queries for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# padded-containment stopword probes per language (dialect-safe: plain
# substring counts over ' '||lower(text)||' ')
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is"],
    "fr": ["le", "la", "les", "et", "de"],
    "de": ["der", "die", "und", "das", "ist"],
}


def _padded(col: Column) -> Column:
    return F.concat(F.lit(" "), F.lower(col), F.lit(" "))


def token_count(col: Column) -> Column:
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def _fix(c: Column, p: int) -> Column:
    """floor-based fixed-point rounding — bit-identical across engines
    (unlike round(), whose HALF_UP-on-decimal-string semantics differ)."""
    return F.floor(c * p + F.lit(0.5)) / p


def alpha_ratio(col: Column) -> Column:
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(col, "[^A-Za-z]", "")) / F.length(col)
    )


def fingerprint(col: Column) -> Column:
    """Canonical content fingerprint: lower, collapse whitespace, md5."""
    norm = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    return F.md5(norm)


def _count_word_in(pad: Column, word: str) -> Column:
    token = f" {word} "
    return (
        (F.length(pad) - F.length(F.replace(pad, F.lit(token), F.lit(""))))
        / F.lit(len(token))
    ).cast("long")


def with_textstats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Staged projections: the padded text and per-language stopword scores
    are materialized once and shared by lang-ID and quality scoring —
    instead of 30 inline count expressions each recomputing
    concat(lower(text)) (the naive single-projection tree compiles to a
    codegen blob ~10× this size)."""
    c = F.col(text_col)
    stage1 = documents.select(
        "doc_id", c.alias("_text"), _padded(c).alias("_pad")
    )
    stage2 = stage1.select(
        "doc_id",
        "_text",
        *[
            sum(
                (_count_word_in(F.col("_pad"), w) for w in words),
                F.lit(0).cast("long"),
            ).alias(f"_sw_{lang}")
            for lang, words in LANG_STOPWORDS.items()
        ],
    )
    sw = {lang: F.col(f"_sw_{lang}") for lang in LANG_STOPWORDS}
    best = F.greatest(*sw.values())
    lang_pred = F.lit("und")
    for lang in ("de", "fr", "en"):
        lang_pred = F.when((sw[lang] == best) & (best > 0), F.lit(lang)).otherwise(lang_pred)
    tokens = token_count(F.col("_text"))
    quality = _fix(
        F.when((tokens >= 10) & (tokens <= 10000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(alpha_ratio(F.col("_text")) >= 0.6, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(sw["en"] + sw["fr"] + sw["de"] >= 3, F.lit(0.3)).otherwise(F.lit(0.0)),
        10,
    )
    return stage2.select(
        "doc_id",
        tokens.alias("n_tokens"),
        lang_pred.alias("lang_pred"),
        _fix(alpha_ratio(F.col("_text")), 10000).alias("alpha_ratio"),
        quality.alias("quality"),
        fingerprint(F.col("_text")).alias("fp"),
    )
