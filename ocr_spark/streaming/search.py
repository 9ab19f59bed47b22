"""Streaming BM25 — score an unbounded document stream against the
index statistics (df, N, avgdl) of a STATIC corpus.

The production shape for "alert me when new docs match this query": the
corpus-level statistics come from the already-indexed collection (a
batch table), so each streamed document is scored row-locally — its
per-term tf is an in-row array count (the term set is query-sized, so a
few HOF passes beat an explode+groupBy, and there is nothing to
aggregate across rows), and the static stats arrive as ONE cached
broadcast row. Stateless: no state store, no watermark, exact batch
semantics per row (tested equal to the batch operator when the static
corpus is the streamed corpus itself).

The live document-frequency table an incremental
``search.hashed_tfidf_apply`` embedding needs is maintained state, not
a writer here: pass the batch ``search.doc_freq_stats`` as the build to
``streaming.sketch.maintained_stats_writer`` (per-delivery df counts are
additive — a doc contributes once per distinct term and never recurs
across deliveries — and the ``tok=''`` doc-count sentinel sums the
same way), and any new document embeds against the warm statistic with
no corpus rescan, equal to a batch rebuild (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators import dedup
from ocr_spark.operators.search import DEFAULT_B, DEFAULT_K1
from ocr_spark.operators.textstats import token_count


def bm25_index_stats(
    corpus: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ONE static row: (N, avgdl, df_<term>... ) for the query's terms
    over the indexed corpus. Cached by the caller's first use; the
    streaming side broadcasts it per micro-batch without recomputing."""
    terms = sorted(set(terms))
    toks = (
        dedup._ensure_parallelism(corpus)
        .select(id_col, dedup.normalized(F.col(text_col)).alias("_norm"))
        .select(id_col, F.explode_outer(F.split(F.col("_norm"), " ")).alias("tok"))
        .filter(F.col("tok").isin(terms))
    )
    df_t = (
        toks.select(id_col, "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    dfs = df_t.groupBy().pivot("tok", terms).sum("df").select(
        *[F.coalesce(F.col(f"`{t}`"), F.lit(0)).alias(f"df_{i}") for i, t in enumerate(terms)]
    )
    lens = corpus.select(token_count(F.col(text_col)).alias("dl"))
    stats = lens.agg(F.count(F.lit(1)).alias("N"), F.avg("dl").alias("avgdl"))
    return stats.crossJoin(dfs).cache()


def bm25_score_stream(
    docs: DataFrame,
    index_stats: DataFrame,
    terms: list[str],
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_terms_hit, score) for each streamed doc with ≥1 hit —
    row-for-row equal to the batch ``bm25_scores`` when ``index_stats``
    comes from the same corpus (tested across micro-batches)."""
    terms = sorted(set(terms))
    staged = docs.withColumn(
        "_w", F.split(dedup.normalized(F.col(text_col)), " ")
    ).crossJoin(F.broadcast(index_stats))
    tf_cols = [
        F.size(F.filter(F.col("_w"), lambda x: x == F.lit(t))).cast("long").alias(f"_tf_{i}")
        for i, t in enumerate(terms)
    ]
    staged = staged.select("*", *tf_cols)
    dl = F.size("_w").cast("long")
    score = F.lit(0.0)
    hits = F.lit(0)
    for i in range(len(terms)):
        tf = F.col(f"_tf_{i}")
        df = F.col(f"df_{i}")
        idf = F.log(
            (F.col("N") - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0)
        )
        term_s = idf * (tf * (k1 + 1)) / (
            tf + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * dl / F.col("avgdl"))
        )
        score = score + F.when(tf > 0, term_s).otherwise(F.lit(0.0))
        hits = hits + F.when(tf > 0, F.lit(1)).otherwise(F.lit(0))
    return (
        staged.select(
            id_col,
            hits.alias("n_terms_hit"),
            score.alias("score"),
        )
        .filter(F.col("n_terms_hit") > 0)
    )

