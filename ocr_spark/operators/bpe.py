"""Corpus-scale BPE tokenizer training (Sennrich et al. 2016).

The missing piece between "curated corpus" and "tokenizer artifact":
learn byte-pair-encoding merges FROM the corpus itself — the job a
team runs once per corpus revision before training (SentencePiece /
GPT-2 tokenizer training, here in the original word-level form).

Shape of the classic algorithm, mapped to Spark:

* the corpus is touched ONCE — a word-type count table ``(word, cnt)``
  is Heaps-sublinear in corpus size, and every BPE iteration runs on
  word TYPES weighted by count, never on raw tokens;
* each merge iteration is one keyed aggregation over the pair explode
  of the (small) type table plus a ONE-ROW collect (the argmax pair) —
  driver state is bounded by ``n_merges`` rows total, the documented
  bounded-collect pattern;
* the merge application is a row-local JVM ``aggregate`` fold
  (left-to-right non-overlapping replace, the textbook semantics), and
  the per-iteration frame is ``localCheckpoint``-ed so the loop's plan
  lineage stays flat (the dedup_clusters pattern);
* segmentation under the FROZEN merge list is an Arrow-batched pandas
  UDF over word types (bounded input, never the corpus), after which
  the corpus gets its tokens back through a broadcast join — so the
  tokenizer artifact is appliable streaming/incrementally like every
  other frozen artifact in this engine.

Determinism: ties in pair frequency break by (count desc, left asc,
right asc); the end-of-word marker is the standalone ``</w>`` symbol.
A pure-Python reference implementation (tests/ref_bpe.py) generates the
golden the catalog rows pin, so the driver's hash match proves the
distributed learner equals the single-process textbook algorithm.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators import dedup

END_WORD = "</w>"


def word_type_counts(
    corpus: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    r"""(word, cnt) over the normalized corpus — the ONLY corpus-wide
    pass BPE training needs (one explode + one keyed agg).

    Words split on :func:`dedup.normalized`'s Java ASCII ``\s`` after
    JVM lower-casing; the golden pin's Python reference
    (``tests/ref_bpe.normalize``) splits on Unicode ``\s`` after
    ``str.lower``, so the two agree only on text without non-ASCII
    whitespace — a precondition tests/test_bpe.py checks on the golden
    corpus."""
    toks = corpus.select(
        F.explode(
            F.filter(
                F.split(dedup.normalized(F.col(text_col)), " "),
                lambda w: w != "",
            )
        ).alias("word")
    )
    return toks.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def _initial_symbols(word: Column) -> Column:
    """chars + the standalone end-of-word marker."""
    return F.concat(
        F.filter(F.split(word, "(?!^)"), lambda c: c != ""),
        F.array(F.lit(END_WORD)),
    )


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """Left-to-right non-overlapping replace of the (left, right)
    symbol pair with its concatenation — the textbook merge step, as a
    row-local fold. ``syms`` must be a plain column reference (HOF
    re-evaluation trap)."""
    merged = left + right
    empty = F.slice(F.array(F.lit("")), 1, 0)

    def step(acc: Column, x: Column) -> Column:
        hit = (F.try_element_at(acc, F.lit(-1)) == F.lit(left)) & (x == F.lit(right))
        return (
            F.when(
                hit,
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            )
            .otherwise(F.concat(acc, F.array(x)))
        )

    return F.aggregate(syms, empty, step)


def bpe_learn(
    corpus: DataFrame,
    n_merges: int = 40,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Learn up to ``n_merges`` BPE merges from the corpus; returns the
    merge table ``(rank, left, right, pair_count)`` — the tokenizer
    artifact.  Stops early when no pair reaches ``min_count``.

    Each iteration: pair-explode the word-TYPE table (weighted by
    cnt), aggregate, collect the single argmax row (count desc, then
    lexicographic — deterministic under any partitioning), fold the
    merge into the symbol arrays, localCheckpoint.  Driver holds only
    the merge list."""
    return bpe_learn_from_counts(
        word_type_counts(corpus, text_col=text_col, id_col=id_col),
        n_merges=n_merges,
        min_count=min_count,
    )


def bpe_learn_from_counts(
    counts: DataFrame,
    n_merges: int = 40,
    min_count: int = 2,
    word_col: str = "word",
    cnt_col: str = "cnt",
) -> DataFrame:
    """The learner over a PRECOMPUTED ``(word, cnt)`` statistic — word
    counts are additive across deliveries, so a kept ``token_counts``
    table re-learns the tokenizer at type-table cost with NO corpus
    rescan."""
    spark = counts.sparkSession
    wt = counts.select(
        F.col(word_col).alias("word"),
        F.col(cnt_col).alias("cnt"),
        _initial_symbols(F.col(word_col)).alias("syms"),
    ).localCheckpoint(eager=True)

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        n = F.size("syms")
        pairs = wt.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, n - 1),
                    F.slice(F.col("syms"), 2, n - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()  # bounded: exactly one row per iteration
        )
        if not top or top[0]["c"] < min_count:
            break
        l, r, c = top[0]["l"], top[0]["r"], int(top[0]["c"])
        merges.append((rank, l, r, c))
        nxt = wt.select(
            "word", "cnt", _apply_merge(F.col("syms"), l, r).alias("syms")
        ).localCheckpoint(eager=True)
        wt.unpersist()
        wt = nxt
    wt.unpersist()
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    )


def bpe_segment(
    corpus: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Segment the corpus vocabulary under a FROZEN merge table:
    ``(word, cnt, tokens, n_tokens)`` with ``tokens`` the
    space-joined subword sequence.  The pandas UDF runs over word
    TYPES (Heaps-sublinear), never the corpus; joining tokens back to
    documents is a broadcast join on ``word``.  Stateless under the
    frozen artifact — the streaming/incremental drop-in shape."""
    import pandas as pd

    ranked = [
        (r["left"], r["right"])
        for r in merges.orderBy("rank").collect()  # bounded: n_merges rows
    ]

    def _seg_batch(it):
        for pdf in it:
            out = []
            for word in pdf["word"]:
                syms = list(word) + [END_WORD]
                for left, right in ranked:
                    i, merged_syms = 0, []
                    while i < len(syms):
                        if (
                            i + 1 < len(syms)
                            and syms[i] == left
                            and syms[i + 1] == right
                        ):
                            merged_syms.append(left + right)
                            i += 2
                        else:
                            merged_syms.append(syms[i])
                            i += 1
                    syms = merged_syms
                out.append(" ".join(syms))
            yield pd.DataFrame({"word": pdf["word"], "cnt": pdf["cnt"], "tokens": out})

    wt = word_type_counts(corpus, text_col=text_col, id_col=id_col)
    seg = wt.mapInPandas(_seg_batch, "word string, cnt long, tokens string")
    return seg.select(
        "word",
        "cnt",
        "tokens",
        F.size(F.split("tokens", " ")).cast("long").alias("n_tokens"),
    )
