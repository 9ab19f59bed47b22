"""Streaming corpus curation — the stateless drop-ins and the curation
statistics kept warm as maintained state.

`redact_pii`, `pii_stats`, and `stratified_sample` are pure row-local
column expressions, so they run unchanged on a streaming DataFrame (no
wrapper needed — tested). Decontamination is the one op whose batch form
aggregates (per-pair gram counts), so it gets a dedicated stateless
streaming form here: each row's gram ARRAY is checked against the full
benchmark gram set via a broadcast one-row static frame — no explode, no
aggregation, no state store, exact `min_hits=1` batch semantics.

The additive curation statistics — n-gram window counts (the batch
`ngram_window_counts` as the build), :func:`fp_stats` and
:func:`source_stats` — are builds for
`streaming.sketch.maintained_stats_writer`, which keeps them in one pass
over each delivery; the `*_from_state` readers here derive the batch
artifacts from the committed state with no corpus rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators.curation import DEFAULT_NGRAM, word_ngram_hashes
from ocr_spark.operators.dedup import normalized


def decontaminate_stream(
    docs: DataFrame,
    bench: DataFrame,
    n: int = DEFAULT_NGRAM,
    text_col: str = "text",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Streaming docs minus any row sharing ≥1 word n-gram with the
    (static, batch) benchmark set — identical to batch
    ``decontaminate(min_hits=1)`` row-for-row (tested).

    Shape: the benchmark's grams collapse to ONE static row holding the
    full gram set (cached, so the static plan runs once, not per
    micro-batch); the stream side computes its gram array per row and a
    broadcast cross join + ``arrays_overlap`` filter makes the keep/drop
    decision row-locally. Stateless — works on an unbounded stream with
    zero state store, and the bench side is eval-set-sized by nature so
    the single-row broadcast is bounded.
    """
    bench_set = (
        word_ngram_hashes(bench, text_col, n, bench_id_col)
        .agg(F.collect_set("gram").alias("_bench_grams"))
        .cache()
    )
    staged = (
        docs.withColumn("_norm", normalized(F.col(text_col)))
        .withColumn("_w", F.split(F.col("_norm"), " "))
        .withColumn(
            "_grams",
            F.when(
                F.size("_w") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("_w") - F.lit(n - 1)),
                    lambda i: F.md5(F.array_join(F.slice(F.col("_w"), i, n), " ")),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )
    return (
        staged.crossJoin(F.broadcast(bench_set))
        .filter(~F.arrays_overlap("_grams", "_bench_grams"))
        .drop("_norm", "_w", "_grams", "_bench_grams")
    )


def fp_stats(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Build for ``maintained_stats_writer``: the distinct content-
    fingerprint table ``(src, fp, cnt)`` of a document stream — the
    statistic :func:`ocr_spark.operators.curation.source_overlap`
    audits. Presence is what matters (``cnt`` just rides the additive
    merge): a (src, fp) pair seen in ANY delivery stays in the state,
    so :func:`source_overlap_from_state` audits the WHOLE committed
    corpus after each delivery without rescanning it. State size is the
    distinct (source, content) count."""
    return (
        docs.select(
            F.col(group_col).alias("src"),
            F.md5(normalized(F.col(text_col))).alias("fp"),
        )
        .distinct()
        .withColumn("cnt", F.lit(1).cast("long"))
    )


def source_overlap_from_state(spark, state_dir: str) -> DataFrame | None:
    """The cross-source overlap matrix over the maintained fingerprint
    state — equal to batch ``source_overlap`` over everything committed
    so far (tested), at the cost of the matrix computation only."""
    from ocr_spark.operators.curation import overlap_from_fps
    from ocr_spark.streaming.sketch import read_sketch_state

    fps = read_sketch_state(spark, state_dir)
    if fps is None:
        return None
    return overlap_from_fps(fps.select("src", "fp"))


def source_stats(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Build for ``maintained_stats_writer``: the per-source corpus
    masses of a document stream — the statistic
    :func:`ocr_spark.operators.curation.domain_mixture` plans from — in
    long form ``(grp, metric, cnt)``. Doc and token counts are additive
    across disjoint deliveries; after each delivery
    :func:`mixture_plan_from_state` re-plans the training mix over the
    WHOLE committed corpus with no rescan — the S-row math is the only
    cost."""
    from ocr_spark.operators.curation import source_token_counts

    c = source_token_counts(docs, group_col=group_col, text_col=text_col)
    return c.select(
        "grp", F.lit("docs").alias("metric"), F.col("n_docs").alias("cnt")
    ).unionByName(
        c.select("grp", F.lit("tokens").alias("metric"), F.col("n_tokens").alias("cnt"))
    )


def mixture_plan_from_state(
    spark,
    state_dir: str,
    *,
    token_budget: int,
    temperature: float = 0.7,
    group_col: str = "source",
) -> DataFrame | None:
    """The :func:`domain_mixture` plan over the maintained per-source
    state — equal to the batch plan over everything committed so far
    (tested), at the cost of the S-row mixture math only."""
    from ocr_spark.operators.curation import mixture_from_counts
    from ocr_spark.streaming.sketch import read_sketch_state

    state = read_sketch_state(spark, state_dir)
    if state is None:
        return None
    counts = state.groupBy("grp").agg(
        F.sum(F.when(F.col("metric") == "docs", F.col("cnt"))).alias("n_docs"),
        F.sum(F.when(F.col("metric") == "tokens", F.col("cnt"))).alias("n_tokens"),
    )
    return mixture_from_counts(
        counts,
        token_budget=token_budget,
        temperature=temperature,
        group_col=group_col,
    )
