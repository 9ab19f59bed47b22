"""Broadcast enrichment joins — the relational form of the reference's
dimension matching (SURVEY.md §2.3 J1–J6).

The reference loops app-side over in-memory dim rows doing regex
containment with first-match-wins in dim load order
(/root/reference/src/extraction/llm_enhanced_extractor.py:310-370).  Here
the same semantics are a broadcast theta-join + a priority window:

    fact ⨝_broadcast dims  ON containment(text, key)
    row_number() OVER (PARTITION BY fact_id ORDER BY dim_idx) = 1

Dims are tiny (the reference materializes them wholesale at startup), so
Catalyst plans a BroadcastNestedLoopJoin — no shuffle of the fact side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def first_match_containment_join(
    facts: DataFrame,
    dims: DataFrame,
    fact_id: str,
    text_col: str,
    dim_key: str,
    how: str = "left",
) -> DataFrame:
    """J1 analogue: case-insensitive substring containment, first dim (by
    dim_idx) wins per fact row.  `re.search(re.escape(k), text, I)` is
    exactly case-insensitive containment, so no regex is involved."""
    d = dims.select(
        F.col("dim_idx"), F.col(dim_key).alias("_dim_key")
    )
    joined = facts.join(
        F.broadcast(d),
        F.instr(F.lower(F.col(text_col)), F.lower(F.col("_dim_key"))) > 0,
        how="inner",
    )
    w = Window.partitionBy(fact_id).orderBy("dim_idx")
    best = (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(fact_id, F.col("_dim_key").alias(f"matched_{dim_key}"))
    )
    if how == "inner":
        return facts.join(best, on=fact_id, how="inner")
    return facts.join(best, on=fact_id, how="left")


def trigram_top1_join(
    facts: DataFrame,
    dims: DataFrame,
    fact_id: str,
    fact_text: str,
    dim_text: str,
    k: int = 3,
) -> DataFrame:
    """J5 parity with pg_trgm ranking (`similarity(a, b)` = trigram-set
    Jaccard, ml_enhanced_extractor.py:111-121): score = |T(a) ∩ T(b)| /
    |T(a) ∪ T(b)| over character 3-shingles of the canonicalized text,
    top-1 per fact with deterministic tie-break.  Documented deviation:
    unpadded trigrams (pg_trgm pads with two leading/one trailing space);
    the ranking behavior is the same and the construction is portable —
    the DuckDB oracle twin rebuilds the identical shingle sets.

    Dims broadcast (tiny, as in the reference's in-memory dim scan); the
    fact side never shuffles."""
    from ocr_spark.operators.dedup import _shingle_expr, normalized

    f = facts.select(
        fact_id, normalized(F.col(fact_text)).alias("_fn")
    ).select(fact_id, _shingle_expr(F.col("_fn"), k).alias("_fsh"))
    d = F.broadcast(
        dims.select(
            F.col(dim_text).alias("_cand"), normalized(F.col(dim_text)).alias("_dn")
        ).select("_cand", _shingle_expr(F.col("_dn"), k).alias("_dsh"))
    )
    scored = f.join(d, how="cross").withColumn(
        "_sim",
        F.size(F.array_intersect("_fsh", "_dsh"))
        / F.size(F.array_union("_fsh", "_dsh")),
    )
    w = Window.partitionBy(fact_id).orderBy(F.col("_sim").desc(), F.col("_cand").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(fact_id, F.col("_cand").alias("best_match"), F.col("_sim").alias("similarity"))
    )


def fuzzy_top1_join(
    facts: DataFrame,
    dims: DataFrame,
    fact_id: str,
    fact_text: str,
    dim_text: str,
    max_distance: int = 100,
) -> DataFrame:
    """J5 analogue (pg_trgm similarity top-1): Spark has no trigram
    similarity built-in (SURVEY.md §4.2 item 5), so rank by levenshtein
    ascending with a deterministic tie-break; dims broadcast."""
    d = F.broadcast(dims.select(F.col(dim_text).alias("_cand")))
    scored = facts.join(d, how="cross").withColumn(
        "_dist", F.levenshtein(F.col(fact_text), F.col("_cand"))
    ).filter(F.col("_dist") <= max_distance)
    w = Window.partitionBy(fact_id).orderBy(F.col("_dist").asc(), F.col("_cand").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(fact_id, F.col("_cand").alias("best_match"), F.col("_dist").alias("distance"))
    )
