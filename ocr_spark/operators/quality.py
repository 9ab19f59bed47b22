"""Repetition-quality signals and training-sequence packing.

The Gopher-rule half of a web-corpus quality gate (Rae et al. 2021,
"Scaling Language Models: ... Gopher", §A1.1 repetition filters) plus the
GPT-style concat-and-chunk sequence packer every LLM training pipeline
needs between "curated documents" and "fixed-length training sequences".

All operators are built-in column functions / keyed aggregations — no
Python in any hot path — and each has a DuckDB SQL twin in
ocr_spark.queries, so the driver's hash-equality oracle covers them.

Scale shapes:

* repetition stats and line dedup: row-local array HOFs over the doc's
  own lines/words — no shuffle beyond the parallelism re-split, and the
  same function runs on batch and streaming frames;
* packing: one window per SHARD (deterministic doc_id mod), so the sort
  that defines token order is bounded by corpus/n_shards — pick n_shards
  ≈ cluster parallelism and no task ever sees more than one shard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.operators import dedup
from ocr_spark.operators.textstats import token_count


def split_lines(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, pos, line): one row per physical line, position-preserving.
    Re-splits an under-parallel source first — the explode and the
    per-line hashing downstream are CPU-bound and would otherwise pin to
    one task on a single-file input.

    ``posexplode_outer``, NOT posexplode: the inner form makes Catalyst
    infer a ``size(split(..))>0`` filter that is pushed below the
    repartition with the text expression re-inlined — when the text
    column is itself computed (the catalog's _lined view), the whole
    construction runs twice single-task before the parallel stage (the
    word_ngram_hashes trap). split() never returns null/empty on
    non-null text, so the outer form emits identical rows."""
    documents = dedup._ensure_parallelism(documents)
    return documents.select(
        id_col,
        F.posexplode_outer(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).filter(F.col("line").isNotNull())


def _sumlen(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0), lambda acc, x: acc + F.length(x))


def repetition_stats(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc repetition signals (the Gopher §A1.1 family):

    * ``n_lines``            — physical line count;
    * ``dup_line_frac``      — (n_lines − n_distinct_lines) / n_lines:
      fraction of lines that are repeats of an earlier line;
    * ``dup_line_char_frac`` — characters in repeat occurrences (each
      duplicated line contributes count−1 of its lengths) over all line
      characters;
    * ``top_bigram``/``top_bigram_frac`` — the most frequent word
      2-gram (ties → lexicographically greatest) and the fraction of
      normalized-text characters its occurrences cover.

    Plan shape: zero shuffle beyond the ``_ensure_parallelism`` re-split.
    A document's lines and words are bounded by its row, so the line
    signals are array HOFs (size/array_distinct/aggregate) and the
    top-bigram argmax is array_sort + one linear run-scan (O(w log w) per
    doc — sorted equal bigrams are adjacent, so the longest run IS the
    max count; never the O(w²) count-each-element HOF). Per-doc cost is
    bounded by the doc itself (no hot key at any corpus size), and pure
    column expressions run unchanged on a streaming frame in append mode
    with zero state. The one shape it handles badly is a single
    gigaword document, whose bigrams sort in one task.

    Tie rule: the ascending scan replaces the best only on (run > best)
    or (run = best AND bigram > best's), so on equal counts the
    lexicographically GREATEST bigram wins (the oracle's tie order).
    """
    base = dedup._ensure_parallelism(documents).select(
        id_col,
        F.split(F.col(text_col), "\n").alias("_lines"),
        F.split(
            F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " "
        ).alias("_w"),
    )
    # the raw bigram array is staged to a column so the scan's lambdas
    # reference an attribute, never re-inline the split
    staged = base.select(
        id_col,
        F.size("_lines").cast("long").alias("n_lines"),
        (
            (F.size("_lines") - F.size(F.array_distinct("_lines")))
            / F.size("_lines")
        ).alias("dup_line_frac"),
        (
            (_sumlen(F.col("_lines")) - _sumlen(F.array_distinct("_lines")))
            / F.greatest(_sumlen(F.col("_lines")), F.lit(1))
        ).alias("dup_line_char_frac"),
        F.length(F.array_join("_w", " ")).alias("_nchars"),
        F.when(
            F.size("_w") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("_w") - 1),
                lambda i: F.array_join(F.slice(F.col("_w"), i, 2), " "),
            ),
        ).otherwise(F.array().cast("array<string>")).alias("_bg"),
    )
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
        F.lit(None).cast("string").alias("bestbg"),
    )

    def _step(acc: Column, x: Column) -> Column:
        new_run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        better = (new_run > acc["best"]) | (
            (new_run == acc["best"]) & (x > acc["bestbg"])
        )
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.when(better, new_run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["bestbg"]).alias("bestbg"),
        )

    top = F.aggregate(
        F.array_sort("_bg"),
        init,
        _step,
        lambda acc: F.struct(acc["best"].alias("cnt"), acc["bestbg"].alias("bg")),
    )
    # stage the aggregate once: the final select references _top four
    # times, and each raw reference would re-run the sort+scan
    return (
        staged.withColumn("_top", top)
        .select(
            id_col,
            "n_lines",
            "dup_line_frac",
            "dup_line_char_frac",
            F.col("_top.bg").alias("top_bigram"),
            F.when(F.col("_top.bg").isNull(), F.lit(0.0))
            .otherwise(
                F.col("_top.cnt")
                * F.length("_top.bg")
                / F.greatest(F.col("_nchars"), F.lit(1))
            )
            .alias("top_bigram_frac"),
        )
    )


def dedup_lines(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, text_clean): each document with repeated lines removed,
    keeping the FIRST occurrence and the original line order (the CCNet
    within-document paragraph-dedup step).

    One row-local expression: array_distinct over the split lines is
    hash-based and order-preserving, so per-doc cost is O(lines) and
    the only exchange is the ``_ensure_parallelism`` re-split. Runs
    unchanged on a streaming frame in append mode with zero state. A
    null text gives (id, NULL)."""
    return dedup._ensure_parallelism(documents).select(
        id_col,
        F.array_join(
            F.array_distinct(F.split(F.col(text_col), "\n")), "\n"
        ).alias("text_clean"),
    )


def boilerplate_lines(
    documents: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(line_md5, n_docs): every distinct line appearing in at least
    ``min_docs`` DISTINCT documents — the cross-document boilerplate
    statistic (nav menus, cookie banners, footers) of the CCNet /
    RefinedWeb line-level filter, the corpus-wide sibling of the
    within-document :func:`dedup_lines`.

    Scale shape: lines collapse to (doc, line_md5) per document first
    (map-side distinct within the doc key), then one keyed count per
    md5 — only 32-byte hashes ever shuffle, never line text, and the
    output is boilerplate-sized (every surviving row represents
    ≥ min_docs occurrences, so |out| ≤ total_lines / min_docs)."""
    lines = split_lines(documents, text_col, id_col)
    return (
        lines.select(id_col, F.md5("line").alias("line_md5"))
        .distinct()
        .groupBy("line_md5")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate(
    documents: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    stats: DataFrame | None = None,
) -> DataFrame:
    """(id, text_clean): each document with its cross-document
    boilerplate lines removed — every line that appears in ≥ min_docs
    distinct documents is dropped from ALL of them (CCNet's shared-line
    filter; within-doc repeats of a non-boilerplate line survive,
    that's :func:`dedup_lines`' job). Documents whose every line is
    boilerplate are kept with ``text_clean = ''`` so the doc set is
    stable under the filter.

    Pass a precomputed/maintained ``stats`` frame (line_md5, n_docs —
    e.g. from a statistic table kept over deliveries) to skip the
    corpus counting pass and only pay the apply half.

    Scale shape: the flagged set is boilerplate-sized (see
    :func:`boilerplate_lines`), so the anti-join is AQE-broadcast in
    practice; the ordered re-assembly is the same doc-keyed
    array_sort/array_join — no window over the corpus."""
    lines = split_lines(documents, text_col, id_col)
    flagged = (stats if stats is not None else boilerplate_lines(
        documents, min_docs, text_col, id_col
    )).filter(F.col("n_docs") >= min_docs).select("line_md5")
    kept = lines.join(
        flagged, F.md5(lines["line"]) == flagged["line_md5"], "left_anti"
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("_s"))
        .select(
            id_col,
            F.array_join(
                F.transform(F.col("_s"), lambda s: s["line"]), "\n"
            ).alias("text_clean"),
        )
    )
    return (
        documents.select(id_col)
        .join(rebuilt, on=id_col, how="left")
        .select(id_col, F.coalesce("text_clean", F.lit("")).alias("text_clean"))
    )


def remove_boilerplate_local(
    documents: DataFrame,
    stats: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Zero-shuffle apply form of :func:`remove_boilerplate` against a
    precomputed ``(line_md5, n_docs)`` statistic (identical output —
    shares its oracle SQL): the flagged md5s collapse to ONE broadcast
    row and each document filters its own line array row-locally — no
    explode, no re-assembly shuffle, and pure column expressions, so it
    runs UNCHANGED on a streaming frame in append mode with zero state
    (the streaming drop-in).

    Per-line membership is an O(|flagged|) array scan — fine while the
    boilerplate set is broadcast-sized (it is by construction,
    ≤ lines/min_docs and in practice tiny); prefer the anti-join form
    when the flagged set outgrows a broadcast."""
    flagged = (
        stats.filter(F.col("n_docs") >= min_docs)
        .agg(F.collect_set("line_md5").alias("_bp"))
        .cache()
    )
    staged = documents.select(
        id_col, F.split(F.col(text_col), "\n").alias("_lines")
    )
    kept = F.filter(
        F.col("_lines"), lambda x: ~F.array_contains(F.col("_bp"), F.md5(x))
    )
    return staged.crossJoin(F.broadcast(flagged)).select(
        id_col, F.array_join(kept, "\n").alias("text_clean")
    )


def unigram_logprob(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc mean unigram log-probability under the corpus's OWN
    unigram distribution — the engine-portable seat of the CCNet/KenLM
    perplexity quality filter (no trained artifact, so the DuckDB twin
    can replay it exactly): score(doc) = Σ c·ln(count(tok)/N) / Σ c
    over the doc's token occurrences. Gibberish and OCR noise score far
    below template/boilerplate text, which is the split the filter
    exists to make. Returns (doc_id, n_tok, logprob).

    Same scale shape as dup_ngram_stats: occurrences collapse to
    (doc, token, c) in one map-side-combined shuffle; corpus counts are
    a second tiny keyed agg over the collapsed rows; the token-keyed
    join back is AQE-skew-splittable (stopwords are exactly the hot
    keys); final groupBy doc. The collapsed frame persists so the
    tokenize pass runs once (column pruning would otherwise clone the
    lineage into both consumers).
    """
    from pyspark import StorageLevel

    toks = (
        dedup._ensure_parallelism(documents)
        .select(id_col, dedup.normalized(F.col(text_col)).alias("_norm"))
        .select(id_col, F.explode_outer(F.split(F.col("_norm"), " ")).alias("tok"))
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
    )
    pg = (
        toks.groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tc = pg.groupBy("tok").agg(F.sum("c").alias("cnt"))
    total = tc.agg(F.sum("cnt").alias("N"))
    scored = pg.join(tc, on="tok").crossJoin(F.broadcast(total))
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tok"),
            (
                F.sum(F.col("c") * F.log(F.col("cnt") / F.col("N")))
                / F.sum("c")
            ).alias("logprob"),
        )
    )


def unigram_model(
    corpus: DataFrame,
    vocab_size: int = 50_000,
    text_col: str = "text",
) -> DataFrame:
    """Unigram LM artifact: rows ``(tok, lp, oov_lp, n_total)`` — the
    top-``vocab_size`` tokens by corpus count (ties → token asc) with
    their ln(count/N); ``oov_lp`` = ln(0.5/N) is the floor every
    out-of-vocabulary token scores (constant per row, dictionary-encodes
    to nothing on disk).

    This is the deployable form of the CCNet/KenLM quality filter: the
    model is a FIXED artifact built once from a reference corpus
    (TakeOrdered head — per-partition heap, never a global sort), then
    applied to anything — including unbounded streams — without
    touching the corpus again. Head truncation keeps the artifact
    broadcastable (50k rows ≈ a few MB) at any corpus size; Heaps' law
    puts almost all token mass in the head, and OOV tokens get the
    floor, exactly like a real LM's unknown-word penalty. NOT a map
    column on purpose: Spark's map element_at is a linear scan, so a
    50k-entry in-row map would cost O(vocab) per token — the broadcast
    hash join below is the O(1) lookup."""
    return model_from_token_counts(token_counts(corpus, text_col), vocab_size)


def token_counts(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus term frequencies ``(tok, cnt)`` under the model's
    normalization — the raw statistic :func:`unigram_model` heads, and
    additive across deliveries, so batch-per-delivery + sum == one big
    batch."""
    toks = (
        dedup._ensure_parallelism(corpus)
        .select(dedup.normalized(F.col(text_col)).alias("_norm"))
        .select(F.explode_outer(F.split(F.col("_norm"), " ")).alias("tok"))
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
    )
    return toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))


def model_from_token_counts(tc: DataFrame, vocab_size: int = 50_000) -> DataFrame:
    """Head + logprob derivation of :func:`unigram_model` (see it for
    the semantics) over any ``(tok, cnt)`` table."""
    total = tc.agg(F.sum("cnt").alias("n_total"))
    return (
        tc.orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(vocab_size)  # TakeOrderedAndProject: per-partition heap
        .crossJoin(F.broadcast(total))
        .select(
            "tok",
            F.log(F.col("cnt") / F.col("n_total")).alias("lp"),
            F.log(F.lit(0.5) / F.col("n_total")).alias("oov_lp"),
            "n_total",
        )
    )


def _pin_artifact(model: DataFrame) -> DataFrame:
    """Persist a vocab-bounded model artifact (≤ vocab_size rows) whose
    plan has MULTIPLE broadcast consumers (the lp-head join and the
    one-row OOV floor): each broadcast exchange otherwise materializes
    its own copy of the artifact's full corpus build — the measured
    broadcast-rebuild trap. Idempotent on repeated calls with the same
    frame (the streaming fixed-artifact scorers pass one object per
    query), and a cached ≤50k-row artifact costs nothing."""
    from pyspark import StorageLevel

    return model.persist(StorageLevel.MEMORY_AND_DISK)


def score_with_unigram_model(
    documents: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tok, logprob): mean token log-probability under a
    fixed :func:`unigram_model` artifact — explode → broadcast hash
    join against the model head (left join; misses coalesce to the OOV
    floor) → per-doc mean. The groupBy keys on the doc id whose tokens
    all live in one input row, so under ``foreachBatch`` every doc
    completes within its micro-batch — the streaming form needs no
    state and no watermark (tested stream == batch). Docs with zero
    tokens produce no row."""
    model = _pin_artifact(model)
    oov = F.broadcast(model.select("oov_lp").limit(1))
    toks = (
        dedup._ensure_parallelism(documents)
        .select(id_col, dedup.normalized(F.col(text_col)).alias("_norm"))
        .select(id_col, F.explode_outer(F.split(F.col("_norm"), " ")).alias("tok"))
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
    )
    scored = toks.join(
        F.broadcast(model.select("tok", "lp")), on="tok", how="left"
    ).crossJoin(oov)
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tok"),
        (
            F.sum(F.coalesce(F.col("lp"), F.col("oov_lp"))) / F.count(F.lit(1))
        ).alias("logprob"),
    )


def dsir_importance(
    documents: DataFrame,
    target_model: DataFrame,
    source_model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tok, llr): per-document log importance ratio under two
    fixed :func:`unigram_model` artifacts — llr = Σ_tok (lp_target −
    lp_source), the DSIR estimator (Xie et al. 2023, "Data Selection
    via Importance Resampling") with unigram features. OOV tokens fall
    to each model's own floor, so a token outside BOTH heads contributes
    their floor difference, not zero.

    One tokenize pass, two broadcast hash joins (both model heads are
    vocab-truncated artifacts, a few MB at any corpus size), one doc-keyed
    agg — the fused form of scoring twice with
    :func:`score_with_unigram_model`, at half the explode cost."""
    target_model = _pin_artifact(target_model)
    source_model = _pin_artifact(source_model)
    oov_t = F.broadcast(
        target_model.select(F.col("oov_lp").alias("_oov_t")).limit(1)
    )
    oov_s = F.broadcast(
        source_model.select(F.col("oov_lp").alias("_oov_s")).limit(1)
    )
    toks = (
        dedup._ensure_parallelism(documents)
        .select(id_col, dedup.normalized(F.col(text_col)).alias("_norm"))
        .select(id_col, F.explode_outer(F.split(F.col("_norm"), " ")).alias("tok"))
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
    )
    scored = (
        toks.join(
            F.broadcast(target_model.select("tok", F.col("lp").alias("_lp_t"))),
            on="tok",
            how="left",
        )
        .join(
            F.broadcast(source_model.select("tok", F.col("lp").alias("_lp_s"))),
            on="tok",
            how="left",
        )
        .crossJoin(oov_t)
        .crossJoin(oov_s)
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(
            F.coalesce(F.col("_lp_t"), F.col("_oov_t"))
            - F.coalesce(F.col("_lp_s"), F.col("_oov_s"))
        ).alias("llr"),
    )


def dsir_select(
    documents: DataFrame,
    target: DataFrame,
    n: int,
    vocab_size: int = 50_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """DSIR data selection: resample ``n`` documents from the raw corpus
    with probability ∝ exp(llr), shifting the selection toward the
    target distribution (Xie et al. 2023). Deterministic Gumbel-key form
    of A-ES sampling without replacement: with w = exp(llr) the A-ES key
    −ln(u)/w would overflow/underflow for |llr| in the hundreds (any
    long document), so the ln-monotone transform is applied instead —
    key = ln(−ln u) − llr — and the n SMALLEST keys win, which is
    order-identical. u is the same salted-md5 unit draw every sampler
    here uses (engine-portable, no RNG state).

    Returns the selected (doc_id, n_tok, llr) rows via
    TakeOrderedAndProject (per-partition heap, no global sort). The two
    model builds each scan their corpus once; the scoring pass is
    :func:`dsir_importance`'s single tokenize."""
    tgt = unigram_model(target, vocab_size, text_col)
    src = unigram_model(documents, vocab_size, text_col)
    imp = dsir_importance(documents, tgt, src, text_col, id_col)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(float(1 << 60))
    )
    key = F.log(-F.log(u)) - F.col("llr")
    return (
        imp.withColumn("_gumbel", key)
        .orderBy(F.col("_gumbel").asc(), F.col(id_col).asc())
        .limit(n)
        .drop("_gumbel")
    )


def pack_chunks(
    documents: DataFrame,
    budget: int = 512,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    order_salt: str | None = None,
) -> DataFrame:
    """GPT-style concat-and-chunk packing map: lay every document's
    tokens end-to-end (per shard, in doc-id order) and cut a training
    sequence every ``budget`` tokens. Emits one row per (document,
    sequence) overlap:

    * ``shard``          — deterministic doc_id mod ``n_shards``;
    * ``seq_id``         — shard-local sequence number;
    * ``doc_tok_start`` / ``doc_tok_end`` — the [start, end) token
      slice of THIS doc that lands in the sequence;
    * ``seq_off``        — where that slice begins inside the sequence.

    A doc longer than ``budget`` spans several rows; short docs share a
    sequence. Fully deterministic (no RNG, no engine hash): the same
    (doc → sequence) map falls out on any engine, any partitioning —
    which is what makes a training run reproducible. The only wide op
    is ONE window per shard; token counting is the whitespace rule
    shared with textstats (oracle-proven by ``bpe_tokens``).

    ``order_salt`` switches the within-shard packing order from doc_id to
    a salted md5 of the id — the deterministic "global shuffle" every
    training run does before packing, still reproducible on any engine
    (same draw construction as :func:`~ocr_spark.operators.curation.stratified_sample`).
    """
    toks = documents.select(
        id_col,
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        token_count(F.col(text_col)).alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    if order_salt is not None:
        toks = toks.withColumn(
            "_ord",
            F.md5(F.concat(F.lit(f"{order_salt}:"), F.col(id_col).cast("string"))),
        )
        w = Window.partitionBy("shard").orderBy("_ord", id_col)
    else:
        w = Window.partitionBy("shard").orderBy(id_col)
    placed = toks.select(
        id_col,
        "shard",
        "n_tok",
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("start"),
    )
    spans = placed.select(
        id_col,
        "shard",
        "n_tok",
        "start",
        F.explode(
            F.sequence(
                F.floor(F.col("start") / budget),
                F.floor((F.col("start") + F.col("n_tok") - 1) / budget),
            )
        ).alias("seq_id"),
    )
    return spans.select(
        "shard",
        F.col("seq_id").cast("long").alias("seq_id"),
        id_col,
        F.greatest(F.col("seq_id") * budget - F.col("start"), F.lit(0))
        .cast("long")
        .alias("doc_tok_start"),
        F.least((F.col("seq_id") + 1) * budget - F.col("start"), F.col("n_tok"))
        .cast("long")
        .alias("doc_tok_end"),
        F.greatest(F.col("start") - F.col("seq_id") * budget, F.lit(0))
        .cast("long")
        .alias("seq_off"),
    )


def bigram_pairs(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, w1, w2): adjacent-token pairs under the model normalization —
    the bigram events a 2-gram LM counts and scores. The pair array is
    built with JVM HOFs (slice + transform with the element-index lambda
    — two params IS (element, index) in pyspark, used deliberately here)
    and exploded; a doc with < 2 tokens emits nothing.

    The token array is STAGED as a projected column before the pair
    transform (the chunk_documents pattern): the lambda's
    ``element_at(c, i+2)`` reference would otherwise re-evaluate the
    whole normalize+split expression once per array ELEMENT — the
    measured ~10× HOF re-evaluation trap this file documents."""
    staged = dedup._ensure_parallelism(documents).select(
        id_col,
        F.split(dedup.normalized(F.col(text_col)), " ").alias("_toks"),
    )
    c = F.col("_toks")
    pairs = F.transform(
        F.slice(c, 1, F.greatest(F.size(c) - 1, F.lit(0))),
        lambda t, i: F.struct(
            t.alias("w1"), F.element_at(c, i + F.lit(2)).alias("w2")
        ),
    )
    return (
        staged.select(id_col, pairs.alias("_p"))
        .select(id_col, F.explode_outer("_p").alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter(
            F.col("w1").isNotNull()
            & (F.col("w1") != "")
            & F.col("w2").isNotNull()
            & (F.col("w2") != "")
        )
    )


def bigram_model(
    corpus: DataFrame,
    bigram_size: int = 200_000,
    text_col: str = "text",
) -> DataFrame:
    """Stupid-backoff bigram LM artifact (Brants et al. 2007, "Large
    Language Models in Machine Translation" — THE web-scale n-gram
    recipe: no discounting, no normalization, score(w2|w1) =
    c(w1 w2)/c(w1) when the bigram was seen, else alpha·p(w2)): rows
    ``(w1, w2, lp)`` for the top-``bigram_size`` bigrams by count
    (ties → (w1, w2) asc) with lp = ln(c(w1,w2)/c(w1)).

    The denominator is the FULL unigram count of w1 (not a truncated
    head), so head truncation only drops rare bigrams to the backoff
    path — it never biases a retained estimate. Build cost is one
    tokenize pass + two keyed aggs + a TakeOrdered head; like
    :func:`unigram_model`, the artifact stays broadcastable at any
    corpus size, which is what makes scoring a pure broadcast-join
    pipeline."""
    bc = bigram_pairs(corpus, text_col).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    )
    uc = token_counts(corpus, text_col).select(
        F.col("tok").alias("w1"), F.col("cnt").alias("c1")
    )
    return (
        bc.join(uc, on="w1", how="inner")  # w1 always has a unigram count
        .orderBy(F.col("c12").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(bigram_size)  # TakeOrderedAndProject: per-partition heap
        .select("w1", "w2", F.log(F.col("c12") / F.col("c1")).alias("lp"))
    )


def score_with_bigram_model(
    documents: DataFrame,
    bimodel: DataFrame,
    unimodel: DataFrame,
    alpha: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_pairs, logprob): mean stupid-backoff bigram
    log-probability under fixed :func:`bigram_model` +
    :func:`unigram_model` artifacts — pairs explode → broadcast join
    the bigram head → broadcast join the unigram head on w2 (backoff)
    → per-doc mean, with ln(alpha) + oov_lp as the final floor. All
    broadcast hash joins against artifact heads: the corpus never
    shuffles, so the scorer is a stateless streaming drop-in exactly
    like the unigram form. Docs with < 2 tokens produce no row."""
    import math

    unimodel = _pin_artifact(unimodel)
    oov = F.broadcast(unimodel.select("oov_lp").limit(1))
    uni = F.broadcast(
        unimodel.select(F.col("tok").alias("w2"), F.col("lp").alias("_ulp"))
    )
    scored = (
        bigram_pairs(documents, text_col, id_col)
        .join(F.broadcast(bimodel.withColumnRenamed("lp", "_blp")), ["w1", "w2"], "left")
        .join(uni, on="w2", how="left")
        .crossJoin(oov)
        .withColumn(
            "_s",
            F.coalesce(
                F.col("_blp"),
                F.lit(math.log(alpha))
                + F.coalesce(F.col("_ulp"), F.col("oov_lp")),
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.sum("_s") / F.count(F.lit(1))).alias("logprob"),
    )


def token_entropy(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_tok, n_types, entropy, ttr): Shannon entropy (nats) of
    each document's token distribution plus the type-token ratio — the
    information-density quality signal: templated, boilerplate, or
    keyword-stuffed docs concentrate probability mass on few types and
    score low, natural prose scores near ln(n_types).

    Uses the identity −Σ (tf/n)·ln(tf/n) = ln n − (Σ tf·ln tf)/n, so the
    whole signal is ONE keyed aggregation over the (doc, term, tf)
    frame the tf-idf family already produces — no second pass, no
    window. Zero-token docs produce no row (same contract as the LM
    scorers)."""
    toks = (
        dedup._ensure_parallelism(documents)
        .select(id_col, dedup.normalized(F.col(text_col)).alias("_norm"))
        .select(id_col, F.explode_outer(F.split(F.col("_norm"), " ")).alias("term"))
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
    )
    pg = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    return (
        pg.groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tok"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.col("tf") * F.log(F.col("tf"))).alias("_tlt"),
        )
        .select(
            id_col,
            "n_tok",
            "n_types",
            (F.log(F.col("n_tok")) - F.col("_tlt") / F.col("n_tok")).alias(
                "entropy"
            ),
            (F.col("n_types") / F.col("n_tok")).alias("ttr"),
        )
    )


def collocations(
    corpus: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """(w1, w2, c12, pmi): pointwise mutual information of every bigram
    seen at least ``min_count`` times — the classic collocation / phrase
    -mining statistic (Church & Hanks 1990): pmi = ln( p(w1,w2) /
    (p(w1)·p(w2)) ) with p(w1,w2) = c12/N_pairs and p(w) = c/N_tokens.

    Reuses :func:`bigram_pairs` + :func:`token_counts`; the unigram side
    is vocabulary-sized so both probability joins broadcast. Output is a
    SET (count threshold only, no top-N), so the result is deterministic
    without any ordering contract — rare-pair noise is excluded by the
    exact integer ``min_count`` gate, not a float cut."""
    from pyspark import StorageLevel

    counts = (
        bigram_pairs(corpus, text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bc = counts.filter(F.col("c12") >= min_count)
    uc = token_counts(corpus, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    # N_pairs is the total over ALL pairs, not the thresholded set —
    # derived from the UNFILTERED grouped counts (Σ c12), so the pairs
    # explode runs once. Both grouped frames PERSIST (they are
    # bigram-type / vocabulary sized, tiny next to the corpus) because
    # each has two consumers — the probability join side and the
    # normalizing total — and relying on AQE ReusedExchange to dedupe
    # the broadcast-subquery's corpus pass proved context-dependent:
    # the identical plan read 4.5 s isolated but 13.6 s inside a long
    # bench session when the reuse silently didn't kick in.
    np_tot = counts.agg(F.sum("c12").alias("_np"))
    nt_tot = uc.agg(F.sum("cnt").alias("_nt"))
    u1 = F.broadcast(uc.select(F.col("tok").alias("w1"), F.col("cnt").alias("_c1")))
    u2 = F.broadcast(uc.select(F.col("tok").alias("w2"), F.col("cnt").alias("_c2")))
    return (
        bc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(np_tot))
        .crossJoin(F.broadcast(nt_tot))
        .select(
            "w1",
            "w2",
            "c12",
            F.log(
                (F.col("c12") / F.col("_np"))
                / ((F.col("_c1") / F.col("_nt")) * (F.col("_c2") / F.col("_nt")))
            ).alias("pmi"),
        )
    )


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = 512,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, chunk_id, n_tok, chunk): sliding token windows over each
    document — the RAG / context-window chunking seat, complementing
    :func:`pack_chunks` (which concatenates ACROSS docs; this splits
    WITHIN docs, preserving doc identity for retrieval). ``stride``
    defaults to ``chunk_tokens`` (disjoint chunks); a smaller stride
    yields the standard overlapping windows (overlap = chunk − stride).
    Trailing windows are kept short rather than dropped (every token
    appears in ≥1 chunk).

    Entirely row-local (filter/sequence/transform/slice HOFs over the
    doc's own token array, then one explode) — zero shuffle at any
    corpus size, and a stateless streaming drop-in for the same reason
    the row-local quality signals are. chunk_id is the window ordinal,
    derived from the transform index — no window function needed."""
    stride = stride or chunk_tokens
    if chunk_tokens < 1 or stride < 1 or stride > chunk_tokens:
        raise ValueError("need 1 <= stride <= chunk_tokens")
    # the token array is STAGED as a projected column before the window
    # transform: an expression referenced inside a HOF lambda re-evaluates
    # per array ELEMENT (the measured 10× shingle trap), so inlining the
    # split/filter here would re-tokenize the document once per window —
    # ~n/stride times. As a multi-referenced attribute (size + both
    # lambdas) CollapseProject leaves the staging projection alone.
    staged = dedup._ensure_parallelism(documents).select(
        id_col,
        F.filter(
            F.split(dedup.normalized(F.col(text_col)), " "), lambda x: x != ""
        ).alias("_toks"),
    )
    toks = F.col("_toks")
    n = F.size(toks)
    wins = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), n - 1, F.lit(stride)),
            lambda s, j: F.struct(
                j.cast("long").alias("chunk_id"),
                F.slice(toks, s + 1, chunk_tokens).alias("_w"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<chunk_id:bigint,_w:array<string>>>"))
    return (
        staged.select(id_col, F.explode_outer(wins).alias("c"))
        .filter(F.col("c").isNotNull())
        .select(
            id_col,
            F.col("c.chunk_id").alias("chunk_id"),
            F.size("c._w").cast("long").alias("n_tok"),
            F.array_join("c._w", " ").alias("chunk"),
        )
    )


def perplexity_buckets(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    §4.3): per-LANGUAGE terciles of the LM quality score split the
    corpus into the well-written third ("head"), the middle, and the
    noisy tail — the bucket label is what CCNet ships so downstream
    mixing can sample head-heavy without re-scoring.  The score here is
    :func:`unigram_logprob` (higher = better, so head = top tercile by
    logprob = LOWEST perplexity), the engine-portable seat of the KenLM
    scorer; swap in :func:`score_with_unigram_model` /
    :func:`score_with_bigram_model` when a fixed reference-corpus
    artifact should define "well-written" instead of the corpus itself.

    Returns one row per scoreable doc: (doc_id, lang, lp, bucket).

    Determinism: logprob lands on the 1e-6 grid BEFORE the tercile
    quantile, so boundary interpolation and the >= comparisons both run
    over grid values; tercile positions are computed as
    ``CAST(1 AS DOUBLE)/3`` double division so any engine derives the
    identical rank index.  Docs with zero tokens have no score and no
    bucket (absent on both engine and oracle sides).

    Scale shape: the corpus pays unigram_logprob's one collapsed
    (doc, tok, c) shuffle; per-language boundaries are a tiny keyed
    percentile agg (languages ~dozens) broadcast back, and the bucket
    label is a map-side comparison — the corpus never reshuffles after
    the score.
    """
    from pyspark import StorageLevel

    lp = unigram_logprob(documents, text_col=text_col, id_col=id_col)
    # the scored frame feeds BOTH the boundary agg and the label join —
    # persist it or the whole unigram_logprob lineage (the corpus pass)
    # executes twice (measured 10.2 s → ~6 s at sf0.1)
    scored = documents.select(id_col, lang_col).join(
        lp.select(
            id_col,
            (F.floor(F.col("logprob") * 1000000 + F.lit(0.5)) / 1000000).alias("lp"),
        ),
        on=id_col,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bounds = scored.groupBy(lang_col).agg(
        F.expr("percentile(lp, CAST(1 AS DOUBLE)/3)").alias("p_lo"),
        F.expr("percentile(lp, CAST(2 AS DOUBLE)/3)").alias("p_hi"),
    )
    out = scored.join(F.broadcast(bounds), on=lang_col)
    bucket = (
        F.when(F.col("lp") >= F.col("p_hi"), F.lit("head"))
        .when(F.col("lp") >= F.col("p_lo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return out.select(id_col, lang_col, "lp", bucket.alias("bucket"))


def perplexity_bucket_bounds(
    documents: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """The FIXED-ARTIFACT half of CCNet bucketing: per-language tercile
    boundaries of the :func:`score_with_unigram_model` score over a
    reference corpus — rows ``(lang, p_lo, p_hi)``, a languages-sized
    table.  CCNet computes its cutoffs once on a reference Wikipedia/
    CommonCrawl slice and ships them; new deliveries are then labeled
    against the FROZEN cutoffs (:func:`bucket_with_bounds`) without
    re-deriving quantiles over the whole corpus — the same
    build-once/apply-forever split as :func:`unigram_model` /
    :func:`score_with_unigram_model`.

    Scores land on the 1e-6 grid before the quantile (same determinism
    contract as :func:`perplexity_buckets`)."""
    lp = score_with_unigram_model(
        documents, model, text_col=text_col, id_col=id_col
    )
    scored = documents.select(id_col, lang_col).join(
        lp.select(
            id_col,
            (F.floor(F.col("logprob") * 1000000 + F.lit(0.5)) / 1000000).alias("lp"),
        ),
        on=id_col,
    )
    return scored.groupBy(lang_col).agg(
        F.expr("percentile(lp, CAST(1 AS DOUBLE)/3)").alias("p_lo"),
        F.expr("percentile(lp, CAST(2 AS DOUBLE)/3)").alias("p_hi"),
    )


def bucket_with_bounds(
    documents: DataFrame,
    model: DataFrame,
    bounds: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Label a delivery head/middle/tail against FROZEN artifacts (LM
    head + per-language tercile bounds): score via
    :func:`score_with_unigram_model` (explode + broadcast joins, doc
    completes within its input rows), broadcast-join the
    languages-sized bounds, compare map-side.  No quantile, no corpus
    rescan, no state — runs UNCHANGED on a streaming frame under
    foreachBatch, which is how a maintained reference artifact labels
    live deliveries (tested stream == batch + apply == full-build on
    the same corpus).

    A language absent from ``bounds`` (never seen when the artifact was
    built) labels NULL rather than guessing — surface, don't silently
    misfile."""
    lp = score_with_unigram_model(
        documents, model, text_col=text_col, id_col=id_col
    )
    scored = documents.select(id_col, lang_col).join(
        lp.select(
            id_col,
            (F.floor(F.col("logprob") * 1000000 + F.lit(0.5)) / 1000000).alias("lp"),
        ),
        on=id_col,
    )
    out = scored.join(F.broadcast(_pin_artifact(bounds)), on=lang_col, how="left")
    bucket = (
        F.when(F.col("p_hi").isNull(), F.lit(None).cast("string"))
        .when(F.col("lp") >= F.col("p_hi"), F.lit("head"))
        .when(F.col("lp") >= F.col("p_lo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return out.select(id_col, lang_col, "lp", bucket.alias("bucket"))


def label_token_counts(
    corpus: DataFrame,
    label_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-class term frequencies ``(label, tok, c)`` — the sufficient
    statistic of a multinomial Naive Bayes classifier. Counts are
    ADDITIVE across disjoint deliveries, so a kept table of them lets
    the classifier retrain from S·V rows, never rescanning the
    corpus."""
    toks = (
        dedup._ensure_parallelism(corpus)
        .select(
            F.col(label_col).alias("label"),
            dedup.normalized(F.col(text_col)).alias("_norm"),
        )
        .select("label", F.explode_outer(F.split(F.col("_norm"), " ")).alias("tok"))
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
    )
    return toks.groupBy("label", "tok").agg(F.count(F.lit(1)).alias("c"))


def nb_model_from_counts(
    ltc: DataFrame,
    stats: DataFrame,
    vocab_size: int = 50_000,
    alpha: float = 0.5,
) -> DataFrame:
    """Laplace-smoothed multinomial NB artifact from the two additive
    statistics: ``ltc`` = (label, tok, c) per-class term frequencies
    (:func:`label_token_counts`) and ``stats`` = (grp, n_docs,
    n_tokens) per-class masses (``curation.source_token_counts`` — the
    classifier shares the mixture family's statistic).

    Artifact rows: ``(label, tok, lp, prior_lp, oov_lp)`` DENSE over
    classes × the global top-``vocab_size`` token head (ties → token
    asc, same head rule as :func:`unigram_model`):

    * ``lp``       = ln((c + α) / (N_label + α·(V+1)))  with c = 0 for
      head tokens the class never produced,
    * ``prior_lp`` = ln(n_docs_label / n_docs_total),
    * ``oov_lp``   = ln(α / (N_label + α·(V+1))) — one shared
      unknown-token bucket per class, exactly an LM's OOV floor.

    S·V rows (a few MB for real source counts), broadcastable at any
    corpus size; the corpus itself is touched only by the two count
    passes. The head is TakeOrdered (per-partition heap), never a
    global sort."""
    gc = ltc.groupBy("tok").agg(F.sum("c").alias("_gcnt"))
    head = (
        gc.orderBy(F.col("_gcnt").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok")
    )
    vsz = F.broadcast(head.agg(F.count(F.lit(1)).alias("_v")))
    total = F.broadcast(stats.agg(F.sum("n_docs").alias("_docs_total")))
    classes = (
        stats.select(F.col("grp").alias("label"), "n_docs", "n_tokens")
        .crossJoin(vsz)
        .crossJoin(total)
        .select(
            "label",
            F.log(F.col("n_docs") / F.col("_docs_total")).alias("prior_lp"),
            (F.col("n_tokens") + F.lit(alpha) * (F.col("_v") + 1)).alias("_denom"),
        )
        .withColumn("oov_lp", F.log(F.lit(alpha) / F.col("_denom")))
    )
    ltc_head = ltc.join(F.broadcast(head), on="tok")
    return (
        F.broadcast(classes)
        .crossJoin(head)
        .join(F.broadcast(ltc_head), on=["label", "tok"], how="left")
        .select(
            "label",
            "tok",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(alpha)) / F.col("_denom")
            ).alias("lp"),
            "prior_lp",
            "oov_lp",
        )
    )


def nb_model(
    corpus: DataFrame,
    label_col: str = "source",
    vocab_size: int = 50_000,
    alpha: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Train the classifier-quality-filter classifier (the GPT-3/
    DataComp pattern: score crawl docs by how much they look like a
    reference class) directly from a labeled corpus: two additive count
    passes → :func:`nb_model_from_counts`. The labels are whatever
    ``label_col`` holds — sources for source attribution, a
    curated-vs-raw flag for quality filtering."""
    from ocr_spark.operators.curation import source_token_counts

    ltc = label_token_counts(corpus, label_col=label_col, text_col=text_col)
    stats = source_token_counts(corpus, group_col=label_col, text_col=text_col)
    return nb_model_from_counts(ltc, stats, vocab_size=vocab_size, alpha=alpha)


def score_with_nb_model(
    documents: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, label, n_tok, score): per-class NB log-posterior (up to
    the shared evidence constant) under a FIXED :func:`nb_model`
    artifact — score = prior_lp + Σ_tok c·(lp | oov_lp).

    Shape: per-doc (doc, tok, c) agg FIRST (the ×S class expansion then
    multiplies distinct tokens, not occurrences), cross the S-row class
    frame, broadcast-left-join the artifact head on (label, tok), one
    (doc, label)-keyed agg. Docs complete within their input rows — no
    state, no watermark — so this is a stateless streaming drop-in like
    :func:`score_with_unigram_model`. Docs with zero tokens produce no
    row."""
    model = _pin_artifact(model)
    classes = F.broadcast(model.select("label", "prior_lp", "oov_lp").distinct())
    pg = (
        dedup._ensure_parallelism(documents)
        .select(id_col, dedup.normalized(F.col(text_col)).alias("_norm"))
        .select(id_col, F.explode_outer(F.split(F.col("_norm"), " ")).alias("tok"))
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    scored = pg.crossJoin(classes).join(
        F.broadcast(model.select("label", "tok", "lp")),
        on=["tok", "label"],
        how="left",
    )
    return scored.groupBy(id_col, "label").agg(
        F.sum("c").alias("n_tok"),
        (
            F.min("prior_lp")
            + F.sum(F.col("c") * F.coalesce(F.col("lp"), F.col("oov_lp")))
        ).alias("score"),
    )


def nb_classify(
    documents: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, pred, score, margin): argmax class per document under a
    fixed NB artifact, with margin = top1 − top2 score (the confidence
    a quality filter thresholds on; 0.0 when the model has one class).
    Ties break by label asc. The window partitions by doc over S rows —
    never corpus-wide."""
    sc = score_with_nb_model(documents, model, text_col=text_col, id_col=id_col)
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("label").asc())
    ranked = sc.select(
        id_col,
        "label",
        "score",
        F.row_number().over(w).alias("_rk"),
        F.lead("score").over(w).alias("_s2"),
    )
    return ranked.filter(F.col("_rk") == 1).select(
        id_col,
        F.col("label").alias("pred"),
        "score",
        (F.col("score") - F.coalesce(F.col("_s2"), F.col("score"))).alias("margin"),
    )


def nb_reference_filter(
    documents: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 50_000,
    min_margin: float | None = None,
) -> DataFrame:
    """GPT-3/DataComp classifier quality filtering end-to-end: train
    :func:`nb_model` to separate a REFERENCE corpus ("looks like what
    we want") from the raw documents themselves ("looks like crawl" —
    the raw side doubles as the negative class exactly as GPT-3 used
    Common Crawl, accepting the slight label noise), then label every
    document under the frozen artifact. Returns the input rows with
    ``nb_pred``/``nb_margin`` attached; with ``min_margin`` set, only
    rows the classifier calls reference-like with at least that
    confidence survive (zero-token docs never classify: NULL labels
    without the threshold, dropped with it).

    At 100 TB pass a deterministic SAMPLE of the raw side as the
    negative class (the model needs class shape, not the full corpus)
    or derive the artifact from kept label counts
    (:func:`nb_model_from_counts`) — either way the full corpus is
    touched only by the score pass."""
    train = (
        reference.select(F.col(text_col).alias("text"))
        .withColumn("_cls", F.lit("ref"))
        .unionByName(
            documents.select(F.col(text_col).alias("text")).withColumn(
                "_cls", F.lit("raw")
            )
        )
    )
    model = nb_model(train, label_col="_cls", vocab_size=vocab_size)
    preds = nb_classify(documents, model, text_col=text_col, id_col=id_col)
    out = documents.join(
        preds.select(
            id_col,
            F.col("pred").alias("nb_pred"),
            F.col("margin").alias("nb_margin"),
        ),
        on=id_col,
        how="left",
    )
    if min_margin is not None:
        out = out.filter(
            (F.col("nb_pred") == "ref") & (F.col("nb_margin") >= min_margin)
        )
    return out


def _packed_runs(
    docs: DataFrame, budget: int, media_tokens: int, spans_col: str, id_col: str
) -> DataFrame:
    """(id, seq, _run, n_tokens): one row per greedily packed sequence,
    ``_run`` being that sequence's contiguous run of spans — the shared
    staging :func:`pack_interleaved` and :func:`pack_interleaved_export`
    project from.

    Each span's cost is computed once; one aggregate scan records the
    1-based position where each sequence starts (a new sequence opens
    whenever adding the next span would exceed ``budget`` on a non-empty
    sequence), and each sequence slices its own run from there to the
    next start, so the rollups read each span once instead of making one
    full-array pass per sequence. Staging ``_costs``/``_starts`` as columns keeps every
    lambda referencing a plain attribute (the HOF re-evaluation trap)."""
    cost_of = lambda s: (  # noqa: E731
        F.when(s["media_ref"] != "", F.lit(media_tokens))
        .otherwise(token_count(s["text"]))
        .cast("int")
    )
    staged = docs.select(id_col, F.col(spans_col).alias("_spans")).select(
        id_col, "_spans", F.transform("_spans", cost_of).alias("_costs")
    )
    zero = F.lit(0).cast("int")
    init = F.struct(
        F.slice(F.array(zero), 1, 0).alias("starts"),
        zero.alias("i"),
        zero.alias("used"),
    )

    def _step(acc, c):
        i = (acc["i"] + 1).cast("int")
        roll = (acc["used"] + c > budget) & (acc["used"] > 0)
        return F.struct(
            F.when(roll | (acc["i"] == 0), F.concat(acc["starts"], F.array(i)))
            .otherwise(acc["starts"])
            .alias("starts"),
            i.alias("i"),
            F.when(roll, c).otherwise(acc["used"] + c).cast("int").alias("used"),
        )

    starts = staged.select(
        id_col,
        "_spans",
        "_costs",
        F.aggregate("_costs", init, _step)["starts"].alias("_starts"),
    )

    def _run(start, q):
        # try_element_at: ANSI mode throws on an out-of-range element_at
        end = F.coalesce(
            F.try_element_at(F.col("_starts"), q + 2), F.size("_spans") + 1
        )
        return F.struct(
            F.slice("_spans", start, end - start).alias("run"),
            F.aggregate(
                F.slice("_costs", start, end - start),
                F.lit(0).cast("long"),
                lambda a, c: a + c,
            ).alias("n_tokens"),
        )

    # empty spans: no starts, so explode emits no row
    return starts.select(
        id_col, F.posexplode(F.transform("_starts", _run)).alias("seq", "_s")
    ).select(
        id_col,
        "seq",
        F.col("_s")["run"].alias("_run"),
        F.col("_s")["n_tokens"].alias("n_tokens"),
    )


def pack_interleaved(
    docs: DataFrame,
    budget: int = 64,
    media_tokens: int = 24,
    spans_col: str = "spans",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy in-order sequence packing over INTERLEAVED spans — the
    multimodal training-sequence construction (MMC4/Flamingo style):
    walk a document's ordered (text | media) spans and start a new
    sequence whenever adding the next span would exceed ``budget``
    tokens.  Spans are ATOMIC — a media span is never split across
    sequences (it is one image/audio embedding slot), and text spans
    keep their surrounding-media adjacency (the property interleaved
    pretraining data exists to preserve; contrast :func:`pack_chunks`,
    which concatenates and cuts pure text at exact token offsets).

    Costs: a media span (``media_ref <> ''``) costs ``media_tokens``
    (the fixed projector token budget, e.g. 64 visual tokens per
    image); a text span costs its whitespace token count (the rule
    shared with textstats).  A span costing more than ``budget`` gets
    a sequence of its own (greedy never looks back).

    Emits one row per packed sequence: ``(doc_id, seq, n_spans,
    n_tokens, n_media, kinds)`` with ``kinds`` the in-order
    comma-joined span kinds — the manifest a loader needs to
    materialize the sequence.

    Scale shape: entirely row-local (JVM higher-order functions over
    the spans array, see :func:`_packed_runs`), ZERO shuffle, no Python;
    at 100 TB this is a pure map stage that composes with any upstream
    partitioning."""
    run = F.col("_run")
    return _packed_runs(docs, budget, media_tokens, spans_col, id_col).select(
        id_col,
        "seq",
        F.size(run).cast("long").alias("n_spans"),
        "n_tokens",
        F.size(F.filter(run, lambda s: s["media_ref"] != ""))
        .cast("long")
        .alias("n_media"),
        F.array_join(F.transform(run, lambda s: s["kind"]), ",").alias("kinds"),
    )


def pack_interleaved_export(
    docs: DataFrame,
    budget: int = 64,
    media_tokens: int = 24,
    spans_col: str = "spans",
    id_col: str = "doc_id",
) -> DataFrame:
    """The PAYLOAD form of :func:`pack_interleaved` — one row per packed
    sequence with the material a multimodal loader actually consumes:
    the sequence's in-order text (space-joined text spans) and its
    in-order media refs (comma-joined), plus the token cost.  The
    manifest row tells the loader how much it will cost; this row IS
    the training example (text with projector slots resolved through
    ``media_refs`` against the media side table).

    Projects from the same staging as the manifest form, so both agree
    on every (doc, seq, n_tokens) by construction; same scale shape —
    row-local JVM HOFs, ZERO shuffle, zero Python."""
    run = F.col("_run")
    return _packed_runs(docs, budget, media_tokens, spans_col, id_col).select(
        id_col,
        "seq",
        F.array_join(
            F.transform(run, lambda s: F.when(s["media_ref"] == "", s["text"])), " "
        ).alias("text"),
        F.array_join(
            F.transform(
                run, lambda s: F.when(s["media_ref"] != "", s["media_ref"])
            ),
            ",",
        ).alias("media_refs"),
        "n_tokens",
    )


# --------------------------------------------------------------------------
# Gopher document-quality rules (Rae et al. 2021, Appendix A1.1)
# --------------------------------------------------------------------------

# the 8 "must contain at least 2" function words from the Gopher filter
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _ratio_flag(num: Column, den: Column, threshold: float, *, le: bool) -> Column:
    """Exact-integer evaluation of ``num/den <= threshold`` (or ``>=``).

    Thresholds are small decimals (0.1, 0.9, 0.3, 0.8); comparing
    ``num * t_den <= den * t_num`` in integer space keeps the flag
    bit-identical across engines — a float division can land exactly on
    the threshold and let the last ulp of the engine's arithmetic decide
    the boolean (the corpus_stats grid-rounding lesson, generalized).
    """
    from fractions import Fraction

    t = Fraction(threshold).limit_denominator(10_000)
    lhs, rhs = num * t.denominator, den * t.numerator
    return (lhs <= rhs) if le else (lhs >= rhs)


def gopher_rules(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Per-document Gopher quality statistics + rule flags.

    The non-repetition half of the Gopher web-corpus filter (Rae et al.
    2021 §A1.1; the repetition half is :func:`repetition_stats` /
    :func:`dup_ngram_stats`): word-count band, mean-word-length band,
    symbol-to-word ratio (``#`` and ellipsis), bullet-start and
    ellipsis-end line fractions, alphabetic-word fraction (a word holding
    any Unicode letter, so non-English text is not dropped), and the
    ≥2-of-8 function-word requirement.  Emits one row per document with
    the raw counts, the derived ratios, one boolean per rule, and the
    conjunctive ``keep``.

    Scale shape: entirely row-local — the token and line arrays are
    STAGED as projected columns (the HOF-lambda re-evaluation trap:
    an inline ``split(...)`` referenced inside ``F.filter``/
    ``F.aggregate`` re-evaluates per element), every count is a plain
    JVM higher-order function, and no shuffle happens at all; on a
    cluster this pipelines with the scan.  All rule booleans compare in
    exact integer space (see :func:`_ratio_flag`) so the DuckDB twin
    replays them bit-for-bit.
    """
    txt = F.col(text_col)
    staged = documents.select(
        id_col,
        text_col,
        F.filter(
            F.split(dedup.normalized(txt), " "), lambda w: w != ""
        ).alias("_toks"),
        F.filter(
            F.split(txt, "\n"), lambda l: F.trim(l) != ""
        ).alias("_lines"),
        # '#' occurrences + non-overlapping '...' runs + unicode ellipsis
        (
            (F.length(txt) - F.length(F.expr(f"replace({text_col}, '#', '')")))
            + (
                (F.length(txt) - F.length(F.expr(f"replace({text_col}, '...', '')")))
                / F.lit(3)
            ).cast("long")
            + (F.length(txt) - F.length(F.expr(f"replace({text_col}, '…', '')")))
        ).cast("long").alias("n_symbols"),
    )
    toks, lines = F.col("_toks"), F.col("_lines")
    counted = staged.select(
        id_col,
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).alias("sum_word_chars"),
        F.size(F.filter(toks, lambda w: w.rlike(r"\p{L}"))).cast("long").alias(
            "n_alpha_words"
        ),
        sum(
            F.array_contains(toks, w).cast("int") for w in GOPHER_STOPWORDS
        ).cast("long").alias("stop_hits"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(
            F.filter(lines, lambda l: l.rlike(r"^\s*[-•*] "))
        ).cast("long").alias("n_bullet_lines"),
        F.size(
            F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
        ).cast("long").alias("n_ellipsis_lines"),
        F.col("n_symbols"),
    )
    n_w, n_l = F.col("n_words"), F.col("n_lines")
    flags = counted.select(
        "*",
        (n_w >= min_words).alias("ok_min_words"),
        (n_w <= max_words).alias("ok_max_words"),
        (
            (F.col("sum_word_chars") >= n_w * min_mean_word_len)
            & (F.col("sum_word_chars") <= n_w * max_mean_word_len)
        ).alias("ok_mean_word_len"),
        _ratio_flag(
            F.col("n_symbols"), n_w, max_symbol_word_ratio, le=True
        ).alias("ok_symbol_ratio"),
        _ratio_flag(
            F.col("n_bullet_lines"), n_l, max_bullet_line_frac, le=True
        ).alias("ok_bullet_lines"),
        _ratio_flag(
            F.col("n_ellipsis_lines"), n_l, max_ellipsis_line_frac, le=True
        ).alias("ok_ellipsis_lines"),
        _ratio_flag(
            F.col("n_alpha_words"), n_w, min_alpha_word_frac, le=False
        ).alias("ok_alpha_words"),
        (F.col("stop_hits") >= min_stop_hits).alias("ok_stop_words"),
    )
    return flags.select(
        "*",
        (
            F.col("ok_min_words")
            & F.col("ok_max_words")
            & F.col("ok_mean_word_len")
            & F.col("ok_symbol_ratio")
            & F.col("ok_bullet_lines")
            & F.col("ok_ellipsis_lines")
            & F.col("ok_alpha_words")
            & F.col("ok_stop_words")
        ).alias("keep"),
    )
