"""Corpus-curation operators for LLM training-data pipelines.

The missing pieces between "a table of documents" and "a training set":

* benchmark decontamination — flag/drop training docs that share word
  n-grams with a held-out eval set (the GPT-3/PaLM-style 8-gram overlap
  rule), as a broadcast join over md5'd n-grams;
* PII detection + redaction — alternation-free regex family (email,
  IBAN, payment card, phone) chosen to behave identically under Java
  regex (Spark) and RE2 (DuckDB), so the oracle can replay it;
* deterministic stratified sampling — per-group keep rates decided by a
  salted md5 of the doc id compared lexicographically against a
  fixed-width hex threshold (no RNG, no engine-specific hash — the same
  row survives in any engine, any run, any partitioning);
* the composed end-to-end curation pipeline: quality filter → exact
  dedup → near-dup keep-one → decontamination.

Everything is built-in column functions (whole-stage codegen); the only
shuffles are the keyed groupBys/joins each step genuinely needs, and
every dimension-sized side (benchmark n-grams, contaminated-id set) is
broadcast so the corpus never reshuffles for it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.operators import dedup
from ocr_spark.operators.textstats import with_textstats

DEFAULT_NGRAM = 8  # word n-gram width for decontamination


# --------------------------------------------------------------------------
# decontamination
# --------------------------------------------------------------------------


def with_word_ngrams(
    documents: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    id_col: str = "doc_id",
    out_col: str = "grams",
    distinct: bool = True,
) -> DataFrame:
    """(id, grams): the distinct md5'd word n-grams of each document as
    an ARRAY column (no explode, so it stays stateless under
    readStream).

    Staged projections (norm → words → grams) keep every expression out
    of the HOF lambdas — an inline normalization would be re-evaluated
    once per emitted array element (the measured 10× shingle trap).
    Hashing each gram to md5 hex makes the join key fixed-width (32 B)
    regardless of n, so the broadcast hash table and the exploded
    corpus-side rows stay small. Docs with < n words get an empty array.

    The input is round-robin re-split when it arrives as one small
    parquet file — the gram build is the CPU-heavy stage (split + one
    md5 per gram), and a single-split source would pin it to one core
    (measured 7 s → ~1.5 s at sf0.1 on local[32]).
    """
    documents = dedup._ensure_parallelism(documents)
    words = documents.select(
        id_col, dedup.normalized(F.col(text_col)).alias("_norm")
    ).select(id_col, F.split(F.col("_norm"), " ").alias("_w"))
    grams = F.when(
        F.size("_w") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("_w") - F.lit(n - 1)),
            lambda i: F.md5(F.array_join(F.slice(F.col("_w"), i, n), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    if distinct:
        grams = F.array_distinct(grams)
    return words.select(id_col, grams.alias(out_col))


def word_ngram_hashes(
    documents: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    id_col: str = "doc_id",
    out_col: str = "gram",
) -> DataFrame:
    """Distinct md5'd word n-grams per document: one (id, gram) row each
    (the exploded form of :func:`with_word_ngrams`).

    ``explode_outer`` + a post-Generate null filter, NOT plain explode:
    InferFiltersFromGenerate turns a plain explode into an inferred
    ``size(g) > 0 AND isnotnull(g)`` filter that gets pushed below the
    repartition with the whole gram-build expression re-inlined — i.e.
    the md5-per-gram pass evaluated TWICE on the unsplit input in one
    task before the parallel stage starts (observed in the sf0.1 plan).
    Outer generate infers nothing; short docs yield a null gram row the
    trivial post-filter drops."""
    grams = with_word_ngrams(documents, text_col, n, id_col, "_g")
    return grams.select(id_col, F.explode_outer("_g").alias(out_col)).filter(
        F.col(out_col).isNotNull()
    )


def word_ngram_occurrences(
    documents: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    id_col: str = "doc_id",
    out_col: str = "gram",
) -> DataFrame:
    """EVERY word n-gram occurrence per doc (non-distinct — a gram
    repeated inside a doc yields one row per occurrence). Same
    explode_outer discipline as :func:`word_ngram_hashes`."""
    grams = with_word_ngrams(documents, text_col, n, id_col, "_g", distinct=False)
    return grams.select(id_col, F.explode_outer("_g").alias(out_col)).filter(
        F.col(out_col).isNotNull()
    )


def dup_ngram_stats(
    documents: DataFrame,
    n: int = DEFAULT_NGRAM,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-text signal — the corpus-frequency form of
    substring-level dedup (the "how much of this doc is text that also
    appears elsewhere" measure behind suffix-array training-data dedup,
    here at word n-gram granularity so it stays a pure DataFrame plan):
    for each doc, the fraction of its n-gram OCCURRENCES whose gram
    appears in ≥ ``min_df`` distinct documents.

    Returns (doc_id, n_grams, n_dup_grams, dup_fraction); docs shorter
    than n words contribute no grams and are absent (they carry no
    duplicable text at this granularity).

    Shuffle shape at scale: (1) groupBy (doc, gram) with map-side
    partial agg — the only stage that sees one row per occurrence;
    (2) groupBy gram over the already-collapsed (doc, gram) rows for
    document frequency; (3) gram-keyed join of the two (boilerplate hot
    grams skew this key — AQE skew-join splits them, and the join
    carries only (doc_id, gram, c, df) rows, never text; a WINDOW over
    gram would need the hot gram in one unsplittable partition, which
    is why the join form wins at scale); (4) groupBy doc. Nothing is
    all-pairs and no stage carries payloads.

    The collapsed (doc, gram, c) frame feeds BOTH the df count and the
    join probe; without the persist, column pruning rewrites the df
    branch's subplan (count dropped → non-identical exchange), so the
    md5-per-occurrence gram build would execute twice (observed in the
    executed plan). Persisting trades one spill-sized write/read of the
    collapsed rows for the second full gram pass — the same
    recompute-vs-spill call the minhash verify path makes.
    """
    from pyspark import StorageLevel

    pg = (
        word_ngram_occurrences(documents, text_col, n, id_col)
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfc = pg.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    return (
        pg.join(dfc, on="gram")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.when(F.col("df") >= min_df, F.col("c")).otherwise(F.lit(0))).alias(
                "n_dup_grams"
            ),
        )
        .withColumn(
            "dup_fraction",
            F.col("n_dup_grams").cast("double") / F.col("n_grams").cast("double"),
        )
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    max_rows: int,
    id_col: str = "doc_id",
    salt: int = 0,
    n_buckets: int = 256,
) -> DataFrame:
    """Deterministic per-group cap: keep at most ``max_rows`` rows per
    group, selected by a salted-md5 draw (the C4/RefinedWeb "at most K
    documents per domain" rule — an anti-over-representation control,
    not a rate: :func:`stratified_sample` keeps a FRACTION per group,
    this keeps a COUNT). The winners are the ``max_rows`` smallest
    (md5(salt:id), id) draws — engine-portable, reproducible under any
    partitioning.

    Exact selection WITHOUT a per-group global sort: a plain
    ``row_number() OVER (PARTITION BY group)`` puts a billion-row hot
    domain in ONE unsplittable partition. Instead the draw's 16-bit hex
    prefix splits every group into ``n_buckets`` RANK-PRESERVING
    sub-partitions (bucket = floor(prefix·n_buckets/65536) is monotone
    in the draw, so bucket-major + within-bucket order == global
    order): (1) per-(group, bucket) counts — a metadata-sized agg;
    (2) running count of earlier buckets via a window over ≤ n_buckets
    rows per group — bounded at ANY group size; (3) row_number within
    (group, bucket) — each window partition is ~1/n_buckets of the
    group; (4) keep where earlier + within ≤ max_rows. The DuckDB twin
    is the textbook single-window form, so the oracle hash-match proves
    the decomposition exact. n_buckets=1 degenerates to the plain
    window."""
    u = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    prefix = F.conv(F.substring(u, 1, 4), 16, 10).cast("long")
    bkt = F.floor((prefix * F.lit(n_buckets)) / F.lit(65536)).cast("int")
    staged = df.withColumn("_u", u).withColumn("_b", bkt)
    counts = staged.groupBy(group_col, "_b").agg(F.count(F.lit(1)).alias("_c"))
    wcum = (
        Window.partitionBy(group_col)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = counts.withColumn(
        "_before", F.coalesce(F.sum("_c").over(wcum), F.lit(0))
    ).select(group_col, "_b", "_before")
    win = Window.partitionBy(group_col, "_b").orderBy(
        F.col("_u").asc(), F.col(id_col).asc()
    )
    return (
        staged.join(before, on=[group_col, "_b"])
        .withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_before") + F.col("_rn") <= max_rows)
        .drop("_u", "_b", "_before", "_rn")
    )


def substring_dedup(
    documents: DataFrame,
    n: int = DEFAULT_NGRAM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring-level deduplication — the training-data rule from
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") at word n-gram granularity: every occurrence of an n-token
    window that appears more than once ANYWHERE in the corpus (cross-doc
    or repeated inside one doc) is removed, except the globally-first
    occurrence (min (doc_id, pos)). Overlapping duplicated windows merge
    through the removed-position union, so a shared 20-token passage
    disappears as one contiguous span, not window-by-window.

    Returns one row per input doc over the canonical normalized token
    stream: (doc_id, n_tokens, n_removed, text_kept). Docs shorter than
    n tokens carry no windows and survive whole.

    Shuffle shape at scale: the occurrence stream carries only
    (doc_id, pos, 32-B md5) rows — never text; (1) groupBy window-hash
    (count + min-occurrence — hot boilerplate hashes are AQE-skew-split),
    (2) hash-keyed join marking cut occurrences, (3) cut positions
    re-keyed by doc (dup-volume-sized, usually ≪ token count), then the
    token arrays are re-derived from a second column-pruned scan and the
    span removal is ROW-LOCAL (positional HOF filter against the doc's
    sorted removed-position set — O(L·k) in-row comparisons, the price
    of never shuffling the token stream itself; a heavily-duplicated doc
    is bounded by its own length). A suffix array finds duplicates of
    every length; fixing the window at n and unioning overlaps is the
    standard distributed approximation (any duplicated run ≥ n tokens is
    still fully removed — runs < n are kept, which the paper's 50-token
    threshold also deliberately ignores)."""
    toks, occ = _window_occ(documents, n, text_col, id_col, pin=True)
    dup = (
        occ.groupBy("wh")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.struct(id_col, "pos")).alias("first"),
        )
        .filter(F.col("cnt") > 1)
    )
    cuts = (
        occ.join(dup, on="wh")
        .filter(
            ~(
                (F.col(id_col) == F.col(f"first.{id_col}"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
        .select(id_col, "pos")
    )
    rem = (
        cuts.select(
            id_col,
            F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1)).alias("_span"),
        )
        .select(id_col, F.explode_outer("_span").alias("rp"))
        .filter(F.col("rp").isNotNull())
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("rp")).alias("_rm"))
    )
    return (
        toks.join(rem, on=id_col, how="left")
        .withColumn("_rm", F.coalesce(F.col("_rm"), F.array().cast("array<int>")))
        .select(
            id_col,
            F.size("_w").cast("long").alias("n_tokens"),
            F.size("_rm").cast("long").alias("n_removed"),
            F.array_join(
                F.filter("_w", lambda x, i: ~F.array_contains(F.col("_rm"), i)),
                " ",
            ).alias("text_kept"),
        )
    )


def dup_spans(
    documents: DataFrame,
    n: int = DEFAULT_NGRAM,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal duplicated-run extraction: the per-document span report a
    suffix array would produce for duplicate runs ≥ n tokens (Lee et al.
    2022, the ExactSubstr inspection output), from fixed-width windows.
    Every start position whose word n-gram occurs ≥ min_df times in the
    corpus is duplicated; the covered intervals [pos, pos+n-1] merge
    (overlapping or touching) into maximal spans. Any duplicated run of
    length m ≥ n yields duplicated windows at each of its m-n+1 starts,
    so the merged span recovers the run's exact extent — the same spans
    the suffix-array method reports at threshold n, without the global
    suffix sort.

    Returns (doc_id, span_start, span_end, span_len, span_text), one
    row per maximal duplicated run, positions 0-based inclusive over the
    canonical normalized token stream.

    Shuffle shape at scale — identical to :func:`substring_dedup`: the
    occurrence stream carries only (doc_id, pos, 32-B md5), never text;
    (1) groupBy window-hash keeps the ≥ min_df hashes, (2) a hash-keyed
    join marks duplicated starts, (3) the (duplicate-volume-sized) start
    set re-keys by doc. The interval merge itself is ROW-LOCAL — a fold
    over the doc's sorted start array — so per-doc cost is bounded by
    the doc's own length and the token stream never shuffles.
    """
    toks, occ = _window_occ(documents, n, text_col, id_col, pin=True)
    dup_h = (
        occ.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_df)
        .select("wh")
    )
    return _merged_spans(occ.join(dup_h, on="wh"), toks, n, id_col)


def _window_occ(
    documents: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    pin: bool,
) -> tuple[DataFrame, DataFrame]:
    """(toks, occ): the token-array frame and the (id, pos, md5-window)
    occurrence stream the dup-span family shares. ``pin=True`` persists
    occ for callers with two consumers (the duplicate-hash agg AND the
    marking join — exchange reuse is context-dependent, the measured
    collocations trap); single-consumer callers pass False."""
    documents = dedup._ensure_parallelism(documents)
    toks = documents.select(
        id_col, dedup.normalized(F.col(text_col)).alias("_norm")
    ).select(id_col, F.split(F.col("_norm"), " ").alias("_w"))
    whashes = F.when(
        F.size("_w") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("_w") - F.lit(n - 1)),
            lambda i: F.md5(F.array_join(F.slice(F.col("_w"), i, n), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = (
        toks.select(id_col, whashes.alias("_wh"))
        .select(id_col, F.posexplode_outer("_wh").alias("pos", "wh"))
        .filter(F.col("wh").isNotNull())
    )
    if pin:
        from pyspark import StorageLevel

        occ = occ.persist(StorageLevel.MEMORY_AND_DISK)
    return toks, occ


def _merged_spans(
    dup_starts: DataFrame, toks: DataFrame, n: int, id_col: str
) -> DataFrame:
    """Fold duplicated window starts into maximal (span_start, span_end,
    span_len, span_text) rows — the row-local half of the dup-span
    family. ``dup_starts`` carries (id_col, pos) for every duplicated
    window start (duplicates tolerated: collect_set dedupes)."""
    starts = dup_starts.groupBy(id_col).agg(
        F.sort_array(F.collect_set("pos")).alias("_ps")
    )
    # row-local gaps-and-islands: fold the sorted starts into maximal
    # [s, e] intervals. With starts ascending, the open interval's end is
    # always last_start + n - 1, so "p extends it" ⇔ p ≤ last.e + 1.
    merged = F.aggregate(
        F.col("_ps"),
        F.array().cast("array<struct<s:int,e:int>>"),
        lambda acc, p: F.when(
            (F.size(acc) > 0)
            & (p <= F.element_at(acc, -1)["e"] + F.lit(1)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(
                            F.element_at(acc, -1)["e"], p + F.lit(n - 1)
                        ).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(F.struct(p.alias("s"), (p + F.lit(n - 1)).alias("e"))),
            )
        ),
    )
    spans = starts.select(id_col, F.explode(merged).alias("_sp")).select(
        id_col,
        F.col("_sp.s").alias("span_start"),
        F.col("_sp.e").alias("span_end"),
    )
    return spans.join(toks, on=id_col).select(
        id_col,
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).cast("long").alias("span_len"),
        F.array_join(
            F.slice(
                F.col("_w"),
                F.col("span_start") + F.lit(1),
                F.col("span_end") - F.col("span_start") + F.lit(1),
            ),
            " ",
        ).alias("span_text"),
    )


def ngram_window_counts(
    documents: DataFrame,
    n: int = DEFAULT_NGRAM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(wh, cnt): corpus frequencies of word n-gram windows — the
    statistic :func:`dup_spans` thresholds on, exposed in the ADDITIVE
    form per-delivery tables merge in: every occurrence counts
    once and deliveries are disjoint, so per-delivery counts SUM to the
    whole-corpus statistic (the token_counts / doc_freq_stats pattern)."""
    _toks, occ = _window_occ(documents, n, text_col, id_col, pin=False)
    return occ.groupBy("wh").agg(F.count(F.lit(1)).alias("cnt"))


def dup_spans_apply(
    documents: DataFrame,
    stats: DataFrame,
    n: int = DEFAULT_NGRAM,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`dup_spans` for a NEW delivery against a FROZEN corpus
    n-gram statistic (a :func:`ngram_window_counts` table): the
    delivery's windows join the ≥ min_df hashes of the statistic
    instead of re-counting the corpus. When ``stats`` covers
    corpus ∪ delivery, the output equals ``dup_spans`` over the full
    corpus restricted to the delivery's docs (tested) — duplicated-span
    reporting as a maintained statistic, no corpus rescan per delivery,
    the same incremental split as ``hashed_tfidf_apply``."""
    toks, occ = _window_occ(documents, n, text_col, id_col, pin=False)
    dup_h = stats.filter(F.col("cnt") >= min_df).select("wh")
    return _merged_spans(occ.join(dup_h, on="wh"), toks, n, id_col)


def contamination_pairs(
    documents: DataFrame,
    bench: DataFrame,
    n: int = DEFAULT_NGRAM,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """(doc_id, bench_id, n_shared): distinct word n-grams each training
    doc shares with each benchmark item.

    Scale shape: the benchmark side is eval-set-sized (thousands of
    rows) → its gram table broadcasts; the corpus side explodes to one
    row per (doc, distinct gram) but the broadcast inner join drops
    non-matching grams map-side, so the only shuffle is the partial-agg
    count on the (rare) hits. No corpus-vs-corpus join anywhere.
    """
    dg = word_ngram_hashes(documents, text_col, n, id_col)
    bg = word_ngram_hashes(bench, text_col, n, bench_id_col)
    return (
        dg.join(F.broadcast(bg), on="gram")
        .groupBy(id_col, bench_id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def decontaminate(
    documents: DataFrame,
    bench: DataFrame,
    n: int = DEFAULT_NGRAM,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Drop every training doc sharing ≥ min_hits word n-grams with any
    benchmark item. The contaminated-id set is bounded by (docs that
    textually overlap the eval set) — tiny next to the corpus — so the
    final filter is a broadcast anti-join; the corpus never shuffles."""
    bad = (
        contamination_pairs(documents, bench, n, text_col, id_col, bench_id_col)
        .filter(F.col("n_shared") >= min_hits)
        .select(id_col)
        .distinct()
    )
    return documents.join(F.broadcast(bad), on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# PII detection / redaction
# --------------------------------------------------------------------------

# Alternation-free, backtracking-free patterns: Java regex (leftmost-first)
# and RE2 (leftmost-longest) agree on greedy character-class repetition but
# NOT on alternation, so each PII type is a single alternative. Redaction
# order matters and is fixed: email → IBAN → card → phone (an IBAN's digit
# tail must not be half-eaten by the card/phone patterns first).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "iban": r"\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\b",
    "card": r"\b[0-9]{4}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{4}\b",
    "phone": r"\+[0-9][0-9 ()./-]{6,}[0-9]",
}
PII_ORDER = ("email", "iban", "card", "phone")


def pii_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc PII hit counts (one JVM regexp_count per type) + flag."""
    counts = {
        f"n_{k}": F.regexp_count(F.col(text_col), F.lit(p)).cast("long")
        for k, p in PII_PATTERNS.items()
    }
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return documents.select(
        "doc_id",
        *[c.alias(name) for name, c in counts.items()],
        (total > 0).alias("has_pii"),
    )


def redact_pii(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace every PII match with a typed placeholder ([EMAIL], [IBAN],
    [CARD], [PHONE]) in the fixed order above. Pure regexp_replace chain
    — codegen'd, zero Python, and byte-reproducible in the oracle."""
    red: Column = F.col(text_col)
    for k in PII_ORDER:
        red = F.regexp_replace(red, PII_PATTERNS[k], f"[{k.upper()}]")
    return documents.select("doc_id", red.alias("text_redacted"))


# --------------------------------------------------------------------------
# deterministic stratified sampling
# --------------------------------------------------------------------------


def _rate_threshold(rate: float) -> str:
    """Fixed-width hex threshold for lexicographic compare against the
    first 8 md5 hex chars ('g' sorts above every hex digit → keep-all)."""
    if rate >= 1.0:
        return "g"
    if rate <= 0.0:
        return "0" * 8
    return format(int(rate * 16**8), "08x")


def stratified_sample(
    documents: DataFrame,
    rates: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "strat",
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row with its group's probability, decided by
    substr(md5(salt ':' id), 1, 8) < hex(rate · 16⁸).

    Deterministic and engine-portable: the hex-prefix compare is a
    uniform [0,1) draw keyed only on (salt, id) — the same rows survive
    under any partitioning, any engine, any rerun, which is what a
    reproducible data-mixing recipe needs. Pure map-side filter: no
    shuffle, no RNG state, pushdown-friendly upstream.
    """
    draw = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 8
    )
    thr: Column = F.lit(_rate_threshold(default_rate))
    for group, rate in sorted(rates.items()):
        thr = F.when(F.col(group_col) == group, F.lit(_rate_threshold(rate))).otherwise(thr)
    return documents.filter(draw < thr)


def split_assign(
    documents: DataFrame,
    splits: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic dataset splitting (train/val/test): every row gets a
    ``split`` label from the same salted-md5 hex-prefix draw
    :func:`stratified_sample` uses, compared against the CUMULATIVE
    split fractions — so the label is a pure function of (salt, id):
    reproducible under any partitioning, any engine, any rerun, and
    stable as the corpus grows (a doc never migrates between splits
    when new docs arrive, which leakage-free eval demands —
    ``randomSplit`` re-deals on every change in partitioning).

    ``splits`` maps label → fraction in band order; fractions must sum
    to 1 (±1e-9). The last split absorbs the float-rounding tail. Pure
    map-side projection: no shuffle, no RNG state.
    """
    names = list(splits)
    fracs = [float(splits[n]) for n in names]
    if len(names) < 2:
        raise ValueError("split_assign needs at least two splits")
    if any(f < 0 for f in fracs) or abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError(f"split fractions must be >=0 and sum to 1: {splits}")
    draw = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 8
    )
    label = None
    acc = 0.0
    for name, frac in zip(names[:-1], fracs[:-1]):
        acc += frac
        cond = draw < F.lit(_rate_threshold(acc))
        label = F.when(cond, name) if label is None else label.when(cond, name)
    label = label.otherwise(names[-1])
    return documents.withColumn("split", label)


def token_budget_sample(
    documents: DataFrame,
    budgets: dict[str, int],
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "budget",
    default_budget: int = 0,
) -> DataFrame:
    """Per-group token-budget sampling — the data-mixing step stated as
    "take X tokens of group A, Y of group B": documents are taken in
    salted-md5 order (a deterministic shuffle) until each group's token
    budget is filled. A document is kept iff the budget was not yet
    full when its turn came (greedy prefix — the last kept doc may
    overshoot by part of its length, the standard mixing semantics).

    Returns (id, group, n_tok) for the kept docs. Deterministic and
    engine-portable like :func:`stratified_sample`. One window per
    GROUP: groups are recipe-sized (languages/sources), so a hot group
    means one big sorted partition — at extreme scale pre-slice the
    group with the same chunk-and-merge trick sessionize_scalable uses;
    at recipe scale this form is exact and simplest.
    """
    from ocr_spark.operators.textstats import token_count
    from pyspark.sql import Window

    draw = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    toks = documents.select(
        id_col,
        group_col,
        token_count(F.col(text_col)).alias("n_tok"),
        draw.alias("_draw"),
    )
    budget: Column = F.lit(default_budget).cast("long")
    for group, b in sorted(budgets.items()):
        budget = F.when(F.col(group_col) == group, F.lit(b).cast("long")).otherwise(budget)
    w = Window.partitionBy(group_col).orderBy("_draw", id_col)
    return (
        toks.withColumn("_cum", F.sum("n_tok").over(w))
        .filter(F.col("_cum") - F.col("n_tok") < budget)
        .select(id_col, group_col, "n_tok")
    )


# --------------------------------------------------------------------------
# composed curation pipeline
# --------------------------------------------------------------------------


def curate_corpus(
    documents: DataFrame,
    bench: DataFrame,
    quality_min: float = 0.4,
    near_dup_threshold: float = 0.5,
    max_bucket: int | None = None,
    n: int = DEFAULT_NGRAM,
) -> DataFrame:
    """The end-to-end training-set curation chain over a documents table:

    1. quality gate  (with_textstats quality ≥ quality_min — JVM filter)
    2. exact dedup   (min doc_id per canonical fingerprint)
    3. near-dup      (MinHash+LSH pairs → connected components → keep
                      min doc_id per component)
    4. decontaminate (drop docs sharing ≥1 word n-gram with the bench)

    Ordered cheapest-first so each stage shrinks the next stage's input
    (the exact-dedup-before-LSH ordering is also what keeps hot LSH
    buckets small on templated corpora). Returns the surviving rows.

    The quality-gated, exact-deduped frame (d1) is PERSISTED: it feeds
    the LSH shingle build, the keep-one anti-join, and both sides of
    decontamination (gram explode + final anti-join) — without the
    persist the scan → textstats quality gate → dedup shuffle lineage
    re-executes three to four times (near_dup_pairs checkpoints its
    PAIRS, but not its input). Measured 11.6 s → 9.2 s at sf0.1. Same
    recompute-vs-spill call as the flagship FIELDS persist; at corpus
    scales beyond executor storage, stage d1 to parquet instead (the
    jobs/curate.py manifest sink already is that staging table).
    """
    return _curation_stages(
        documents,
        bench,
        quality_min=quality_min,
        near_dup_threshold=near_dup_threshold,
        max_bucket=max_bucket,
        n=n,
    )["decontaminated"]


def _curation_stages(
    documents: DataFrame,
    bench: DataFrame,
    quality_min: float,
    near_dup_threshold: float,
    max_bucket: int | None,
    n: int,
) -> dict[str, DataFrame]:
    """The :func:`curate_corpus` chain with every intermediate stage
    exposed (shared by the funnel report — same frames, same persist)."""
    ts = with_textstats(documents)
    good = documents.join(
        ts.filter(F.col("quality") >= quality_min).select("doc_id"),
        on="doc_id",
        how="left_semi",
    )
    from pyspark import StorageLevel

    d1 = dedup.exact_dedup(good).persist(StorageLevel.MEMORY_AND_DISK)
    pairs = dedup.near_dup_pairs(
        d1, threshold=near_dup_threshold, max_bucket=max_bucket
    )
    d2 = dedup.near_dup_keep_one(d1, pairs)
    return {
        "input": documents,
        "quality": good,
        "exact_dedup": d1,
        "near_dup": d2,
        "decontaminated": decontaminate(d2, bench, n=n),
    }


def curation_funnel(
    documents: DataFrame,
    bench: DataFrame,
    quality_min: float = 0.4,
    near_dup_threshold: float = 0.5,
    max_bucket: int | None = None,
    n: int = DEFAULT_NGRAM,
) -> DataFrame:
    """Per-stage survivor counts for the :func:`curate_corpus` chain —
    the filter-funnel report every real curation run ships (what
    fraction did the quality gate cost? did dedup or decontamination
    dominate?), as rows ``(stage, n_docs)`` with a numeric prefix
    fixing the pipeline order.

    Built on the SAME stage frames as curate_corpus (shared persist on
    the quality-gated deduped frame; near-dup pairs are checkpointed
    inside near_dup_pairs), so the marginal cost over running the
    pipeline once is one count branch per stage, and a drift between
    this report and the pipeline output is impossible by construction.
    """
    stages = _curation_stages(
        documents,
        bench,
        quality_min=quality_min,
        near_dup_threshold=near_dup_threshold,
        max_bucket=max_bucket,
        n=n,
    )
    parts = [
        df.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(f"{i}_{name}").alias("stage"), "n_docs"
        )
        for i, (name, df) in enumerate(stages.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Deterministic weight-proportional sample WITHOUT replacement of
    ``n`` rows (Efraimidis & Spirakis 2006, A-ES): each row draws
    u = md5-unit(salt:id) and the n SMALLEST exponential draws
    -ln(u)/weight win (equivalently the n largest u^(1/weight) of the
    original formulation — ln is the overflow-safe monotone transform).
    Inclusion probability is proportional to weight,
    reproducible under any engine or partitioning (no RNG state), and
    the selection is a TakeOrderedAndProject (per-partition heap +
    driver merge of n rows), never a global sort. Rows with weight <= 0
    or null are excluded — they'd have zero inclusion probability.

    This is the weight-aware sibling of :func:`stratified_sample`
    (uniform within group) and :func:`token_budget_sample` (greedy
    prefix): "sample 10k docs proportional to token count" is the
    data-mixing form recipes actually specify.
    """
    keyed = aes_keyed(df, weight_col, id_col, salt)
    return (
        keyed.orderBy(F.col("_aes_key").asc(), F.col(id_col).asc())
        .limit(n)
        .drop("_aes_key")
    )


def aes_keyed(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Rows plus their ``_aes_key`` exponential draw (-ln(u)/w). The key
    is a pure function of (salt, id, weight), so draws computed on any
    partition of the data MERGE: the n smallest keys of a union are the
    n smallest of each part's n smallest. Zero/negative/null
    weights are dropped (zero inclusion probability)."""
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
    w = F.col(weight_col).cast("double")
    return df.filter(w.isNotNull() & (w > 0)).withColumn("_aes_key", -F.log(u) / w)


def source_overlap(
    documents: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Cross-source duplicate-overlap matrix: for every pair of sources,
    how much exact-duplicate content they share — the audit a corpus
    assembler runs BEFORE mixing crawls/dumps, because two "independent"
    sources that are 40 % the same silently double that content's
    sampling weight (the cross-corpus face of exact dedup; the
    reference's per-document fingerprint seat is the invoice-dedupe
    content hash).

    A doc's fingerprint is md5(normalized text) — the same canonical
    fingerprint :func:`ocr_spark.operators.dedup.exact_dedup_groups`
    keys on, so "shared" here means "exact_dedup would collapse them".

    Returns one row per unordered source pair that shares at least one
    fingerprint: (source_a, source_b, n_shared, n_a, n_b, jaccard) with
    source_a < source_b; n_a/n_b are each source's DISTINCT-content doc
    counts and jaccard = n_shared / (n_a + n_b - n_shared), computed as
    one division over exact integers (order-independent).

    Scale shape: the corpus collapses to distinct (source, fp) rows —
    32-byte hashes, never text — in one map-side-combined shuffle; the
    self-join keys on fp where each group is at most |sources| rows
    (bounded fan-out, no hot key possible); per-source sizes are a tiny
    agg broadcast onto the pair counts. Nothing here is ever all-pairs
    in documents.
    """
    fps = (
        dedup._ensure_parallelism(documents)
        .select(
            F.col(group_col).alias("src"),
            F.md5(dedup.normalized(F.col(text_col))).alias("fp"),
        )
        .distinct()
    )
    return overlap_from_fps(fps)


def overlap_from_fps(fps: DataFrame) -> DataFrame:
    """The overlap matrix over any distinct ``(src, fp)`` frame — split
    out so a kept fingerprint table (a batch-written fingerprint
    sidecar) feeds the same audit without re-fingerprinting the
    corpus."""
    from pyspark import StorageLevel

    fps = fps.select("src", "fp").distinct().persist(StorageLevel.MEMORY_AND_DISK)
    sizes = fps.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        fps.alias("a")
        .join(fps.alias("b"), on="fp")
        .filter(F.col("a.src") < F.col("b.src"))
        .groupBy(
            F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("src").alias("source_a"), F.col("n").alias("n_a"))),
            on="source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("src").alias("source_b"), F.col("n").alias("n_b"))),
            on="source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            (
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# training-mix planning + deterministic global shuffle
# --------------------------------------------------------------------------


def domain_mixture(
    documents: DataFrame,
    *,
    token_budget: int,
    temperature: float = 0.7,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled domain-mixture plan (the XLM-R / mT5 / GPT-3
    data-mixing recipe): given per-source token masses ``n_s``, sample
    source ``s`` with weight ``w_s ∝ (n_s / N)^T`` and allocate a token
    budget ``B`` as ``floor(B · w_s)``, reporting the implied
    epochs-per-source ``alloc_s / n_s`` (how many times each source is
    repeated — the number a run config actually consumes).

    ``T = 1`` reproduces natural proportions; ``T → 0`` approaches
    uniform-over-sources; the conventional ``T ≈ 0.7`` boosts the tail
    without flattening the head.

    Scale shape: ONE corpus pass (row-local whitespace token counts →
    one map-side-combined keyed agg down to S = |sources| rows); all
    mixture math runs on that persisted S-row frame, with the two
    cross-row scalars (total tokens, weight denominator) computed as
    1-row aggs broadcast back. The corpus is touched exactly once at
    any scale.

    Determinism contract (engine-portable, like every sampler in this
    module): the temperature-scaled shares are snapped to a 1e12 grid
    BEFORE the denominator sum, so the weights are ratios of exact
    integers — Spark and the SQL twin agree bit-for-bit regardless of
    partitioning or summation order.
    """
    return mixture_from_counts(
        source_token_counts(documents, group_col=group_col, text_col=text_col),
        token_budget=token_budget,
        temperature=temperature,
        group_col=group_col,
    )


def source_token_counts(
    documents: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The one corpus pass behind :func:`domain_mixture` — per-group
    ``(grp, n_docs, n_tokens)`` from row-local whitespace token counts
    and one map-side-combined keyed agg. Doc and token counts are
    ADDITIVE across disjoint deliveries, so a kept statistic (any
    batch-written sidecar) can feed :func:`mixture_from_counts` without
    this pass ever re-running over the corpus."""
    toks = F.size(
        F.filter(F.split(dedup.normalized(F.col(text_col)), " "), lambda t: t != "")
    ).cast("long")
    return (
        documents.select(F.col(group_col).alias("grp"), toks.alias("n_tok"))
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )


def mixture_from_counts(
    counts: DataFrame,
    *,
    token_budget: int,
    temperature: float = 0.7,
    group_col: str = "source",
) -> DataFrame:
    """The mixture math of :func:`domain_mixture` over any
    ``(grp, n_docs, n_tokens)`` frame — split out so a MAINTAINED
    per-source statistic feeds the same plan without rescanning the
    corpus. All inputs are S = |groups| rows; the two cross-row scalars
    are broadcast 1-row aggs."""
    from pyspark import StorageLevel

    agg = counts.select("grp", "n_docs", "n_tokens").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    token_budget = int(token_budget)
    total = agg.agg(F.sum("n_tokens").alias("total_tokens"))
    scaled = agg.crossJoin(F.broadcast(total)).withColumn(
        "p_grid",
        F.floor(
            F.pow(F.col("n_tokens") / F.col("total_tokens"), F.lit(float(temperature)))
            * F.lit(1e12)
            + F.lit(0.5)
        ).cast("long"),
    )
    denom = scaled.agg(F.sum("p_grid").alias("p_denom"))
    budget = F.lit(int(token_budget)).cast("double")
    weight = F.col("p_grid") / F.col("p_denom")
    alloc = F.floor(budget * weight).cast("long")
    return scaled.crossJoin(F.broadcast(denom)).select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.col("total_tokens")).alias("raw_share"),
        weight.alias("weight"),
        alloc.alias("tokens_alloc"),
        F.when(F.col("n_tokens") > 0, alloc / F.col("n_tokens")).alias("epochs"),
    )


SHUFFLE_ALPHABET = "0123456789abcdef"


def shuffle_shards(
    documents: DataFrame,
    *,
    seed: str = "0",
    id_col: str = "doc_id",
    salt: str = "shuf",
    full: bool = False,
) -> DataFrame:
    """Deterministic global training shuffle: every row gets a 16-way
    ``shard`` and a dense 1-based ``pos`` within its shard, both pure
    functions of ``(salt, seed, id)`` — the reproducible random order a
    training run needs, with none of ``orderBy(rand())``'s
    re-deal-on-retry hazard (a Spark stage retry re-draws ``rand()``;
    an md5 draw cannot change).

    The shard is the first hex digit of ``md5(salt:seed:id)`` (16
    shards here; k digits → 16^k shards at scale), and the within-shard
    order is the remaining hash — i.e. the standard shuffled-shards
    layout training loaders consume (pick shards in any order, stream
    each sequentially; the composition is a uniform shuffle of the
    corpus).

    Scale shape: one shuffle on ``shard`` with a partition-local sort —
    at 100 TB you raise the digit count so each shard is
    writer-task-sized and write with ``repartition(n, shard)`` +
    ``sortWithinPartitions(_k)``; no global sort ever happens. The
    catalog form materializes ``pos`` via a per-shard window so the
    oracle can replay the exact layout.

    ``full=True`` keeps every input column alongside (shard, pos) — the
    job-sink form, where the payload has to ride the one shuffle anyway
    to be written in layout order. The default carries only (id, key)
    through the shuffle.
    """
    key = F.md5(F.concat(F.lit(f"{salt}:{seed}:"), F.col(id_col).cast("string")))
    base = documents if full else documents.select(id_col)
    keyed = base.withColumn("_k", key).withColumn(
        "shard",
        (F.instr(F.lit(SHUFFLE_ALPHABET), F.substring("_k", 1, 1)) - 1).cast("int"),
    )
    w = Window.partitionBy("shard").orderBy("_k", id_col)
    out = keyed.withColumn("pos", F.row_number().over(w).cast("long"))
    return out.drop("_k") if full else out.select(id_col, "shard", "pos")


def mixture_materialize(
    documents: DataFrame,
    *,
    token_budget: int,
    temperature: float = 0.7,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "mix",
    plan: DataFrame | None = None,
) -> DataFrame:
    """Materialize the :func:`domain_mixture` plan as the actual
    training mix: every doc appears ``floor(epochs_s)`` times plus one
    more with probability ``frac(epochs_s)``, so each source's expected
    token mass equals its budget allocation — the repeat-factor
    expansion a run config consumes (``(doc_id, group, rep)`` rows;
    feed ``(id, rep)`` to :func:`shuffle_shards` for the final layout).

    The fractional epoch is decided by the module's salted-md5 hex draw
    per document (no RNG): deterministic, partition-independent, and
    stable as the corpus grows. The per-source threshold is itself a
    COLUMN — ``frac`` snapped to a 2^32 grid and hex-formatted — so the
    compare stays the same fixed-width lexicographic test every sampler
    here uses, just against a computed bound.

    Scale shape: plan is S rows broadcast onto the corpus (equi-join on
    the group key), the repeat explode is row-local, and nothing
    shuffles — output size is ``budget / avg_doc_tokens`` rows by
    construction. Pass a precomputed ``plan`` (e.g. from
    :func:`mixture_from_counts` over maintained state) to skip the
    counting pass entirely.
    """
    if plan is None:
        plan = domain_mixture(
            documents,
            token_budget=token_budget,
            temperature=temperature,
            group_col=group_col,
            text_col=text_col,
        )
    whole = F.floor(F.col("epochs")).cast("long")
    frac = F.col("epochs") - F.floor(F.col("epochs"))
    thr = F.lpad(
        F.lower(F.conv(F.floor(frac * F.lit(4294967296.0)).cast("string"), 10, 16)),
        8,
        "0",
    )
    side = plan.select(
        group_col, "epochs", whole.alias("_whole"), thr.alias("_thr")
    )
    draw = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 8
    )
    n_rep = (
        F.col("_whole") + F.when(draw < F.col("_thr"), F.lit(1)).otherwise(F.lit(0))
    ).alias("_n_rep")
    return (
        documents.select(id_col, group_col)
        .join(F.broadcast(side), on=group_col)
        .select(id_col, group_col, n_rep)
        .select(
            id_col,
            group_col,
            F.explode(
                F.when(
                    F.col("_n_rep") >= 1, F.sequence(F.lit(1).cast("long"), F.col("_n_rep"))
                ).otherwise(F.array().cast("array<long>"))
            ).alias("rep"),
        )
    )


def shuffle_global_ids(
    documents: DataFrame,
    *,
    seed: str = "0",
    id_col: str = "doc_id",
    salt: str = "shuf",
    full: bool = False,
) -> DataFrame:
    """Contiguous global row ids 0..N-1 in the :func:`shuffle_shards`
    order — the "example index" a training run logs and resumes by.

    Scale shape: the textbook form is one GLOBAL window (row_number
    over the whole corpus ordered by the draw) — a single-partition
    sort that cannot scale. This operator decomposes it: per-shard
    dense positions from the sharded window (the shuffle_shards pass,
    parallel across shards), per-shard row counts (S = 16 rows),
    cumulative offsets over those S rows (driver-trivial running sum),
    broadcast back — ``global_id = offset_shard + pos - 1``. Identical
    output to the global window (the oracle IS the global window),
    zero single-partition stages.

    ``full=True`` keeps every input column alongside (shard, pos,
    global_id) — the sink form (see :func:`shuffle_shards`).
    """
    sh = shuffle_shards(documents, seed=seed, id_col=id_col, salt=salt, full=full)
    counts = sh.groupBy("shard").agg(F.count(F.lit(1)).alias("_n"))
    woff = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "shard", F.coalesce(F.sum("_n").over(woff), F.lit(0)).alias("_off")
    )
    joined = sh.join(F.broadcast(offsets), on="shard")
    gid = (F.col("_off") + F.col("pos") - 1).cast("long").alias("global_id")
    if full:
        return joined.select(*sh.columns, gid)
    return joined.select(id_col, "shard", "pos", gid)


def training_export(
    documents: DataFrame,
    bench: DataFrame,
    *,
    token_budget: int,
    temperature: float = 0.7,
    quality_min: float = 0.4,
    near_dup_threshold: float = 0.5,
    max_bucket: int | None = None,
    seed: str = "0",
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The pipeline's last mile, end-to-end: curate → mix → lay out.

    1. :func:`curate_corpus` — quality gate, exact dedup, near-dup
       keep-one, decontamination (cheapest-first, d1 persisted).
    2. :func:`mixture_materialize` — the temperature-scaled domain
       mixture is PLANNED OVER THE CURATED corpus (the token masses a
       run will actually train on, not the raw crawl's) and expanded
       into (doc, rep) examples.
    3. :func:`shuffle_global_ids` over ``doc_id#rep`` — the
       deterministic shuffled-shards layout with contiguous 0..N-1
       example indices.

    Output: ``(doc_id, source, rep, shard, pos, global_id)`` — exactly
    the table a training loader consumes, every column a pure function
    of the input corpus (no RNG, stage-retry-safe, re-runnable).

    Scale shape: the curation chain's keyed shuffles, one S-row plan
    agg + broadcast, a row-local explode, then ONE layout shuffle on
    shard — no stage is new; the composition adds a single equi-join of
    survivors back to their text (left-semi, keyed).
    """
    curated = curate_corpus(
        documents,
        bench,
        quality_min=quality_min,
        near_dup_threshold=near_dup_threshold,
        max_bucket=max_bucket,
    )
    mix = mixture_materialize(
        curated,
        token_budget=token_budget,
        temperature=temperature,
        group_col=group_col,
        text_col=text_col,
        id_col=id_col,
    )
    ex = mix.withColumn(
        "example_id",
        F.concat(
            F.col(id_col).cast("string"), F.lit("#"), F.col("rep").cast("string")
        ),
    )
    laid = shuffle_global_ids(ex, seed=seed, id_col="example_id", full=True)
    return laid.select(id_col, group_col, "rep", "shard", "pos", "global_id")


def decontaminate_spans(
    docs: DataFrame,
    bench: DataFrame,
    n: int = DEFAULT_NGRAM,
    min_hits: int = 1,
    spans_col: str = "spans",
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Span-granular decontamination for INTERLEAVED documents: drop
    only the text spans that share >= ``min_hits`` word n-grams with a
    benchmark item, keeping clean text spans, every media span, and
    their original interleaving order — an interleaved corpus should
    not lose a whole document (and its images) because one caption
    paragraph overlaps an eval set (contrast :func:`decontaminate`,
    which drops the full document).

    Returns the input docs with the spans array filtered in place;
    docs whose every span was contaminated come back with an empty
    array (callers decide whether an all-text contaminated doc leaves
    the corpus).

    Scale shape: the bench gram table broadcasts (eval-set-sized), the
    span gram explode drops non-matching grams map-side, and the
    contaminated (doc, offset) set — bounded by textual eval overlap —
    broadcasts back as per-doc drop lists, so the corpus itself NEVER
    shuffles; the rebuild is a row-local array filter."""
    sp = docs.select(id_col, F.explode(spans_col).alias("_s")).select(
        id_col,
        F.col("_s.offset").alias("offset"),
        F.col("_s.text").alias(text_col),
        F.col("_s.media_ref").alias("_ref"),
    )
    text_spans = sp.filter(F.col("_ref") == "").select(
        F.concat_ws(
            "#", F.col(id_col).cast("string"), F.col("offset").cast("string")
        ).alias("_sid"),
        text_col,
    )
    sg = word_ngram_hashes(text_spans, text_col, n, "_sid")
    bg = word_ngram_hashes(bench, text_col, n, bench_id_col)
    bad = (
        sg.join(F.broadcast(bg), on="gram")
        .groupBy("_sid")
        .agg(F.count(F.lit(1)).alias("_hits"))
        .filter(F.col("_hits") >= min_hits)
    )
    drops = (
        bad.select(F.split(F.col("_sid"), "#").alias("_p"))
        .select(
            F.element_at("_p", 1).alias("_did"),
            F.element_at("_p", 2).cast("int").alias("offset"),
        )
        .groupBy("_did")
        .agg(F.collect_list("offset").alias("_drop"))
    )
    joined = docs.join(
        F.broadcast(drops),
        on=docs[id_col].cast("string") == drops["_did"],
        how="left",
    )
    empty = F.slice(F.array(F.lit(0).cast("int")), 1, 0)
    kept = F.filter(
        F.col(spans_col),
        lambda s: (s["media_ref"] != "")
        | ~F.array_contains(F.coalesce(F.col("_drop"), empty), s["offset"]),
    )
    return joined.select(docs[id_col].alias(id_col), kept.alias(spans_col))


# --------------------------------------------------------------------------
# C4-style line/page cleaning (Raffel et al. 2020, §2.2)
# --------------------------------------------------------------------------


def c4_clean(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """The C4 cleaning pass: per-line retention rules + page-level drops.

    Line rules (a line survives iff ALL hold):

    * ends in a terminal punctuation mark (``.``, ``!``, ``?``, ``"``);
    * contains at least ``min_line_words`` words;
    * does not contain the word "javascript" (case-insensitive).

    Page rules (``kept`` is false and ``clean_text`` empty iff ANY
    holds):

    * fewer than ``min_kept_lines`` surviving lines (C4's "fewer than 3
      sentences" approximated at line granularity — the public C4 code
      applies the sentence test to retained lines);
    * contains "lorem ipsum" (case-insensitive);
    * contains a curly brace ``{`` (code page).

    Omitted C4 rules (this operator does not apply them):

    * the policy-phrase line rule — C4 drops lines containing "terms of
      use", "privacy policy", "cookie policy" or "uses cookies";
    * the dirty-word page filter — C4 drops any page containing a word
      from its "List of Dirty, Naughty, Obscene, and Otherwise Bad
      Words".

    C4's final step — removing any three-sentence span occurring more
    than once in the corpus — is the corpus-level dedup this engine
    already ships separately (:func:`substring_dedup`,
    ``quality.remove_boilerplate``); this operator is the row-local
    cleaning half, so it composes with those under one scan.

    Scale shape: zero shuffle — the line array is staged once as a
    projected column (HOF re-evaluation trap), the filter + re-join are
    JVM higher-order functions, and the page flags are plain column
    predicates.  Emits (id, kept, n_lines, n_kept, clean_text) with
    ``clean_text`` empty (never NULL) on dropped pages, so downstream
    writers keep a stable schema.
    """
    txt = F.col(text_col)
    staged = documents.select(
        id_col,
        text_col,
        F.filter(F.split(txt, "\n"), lambda l: F.trim(l) != "").alias("_lines"),
    )
    lines = F.col("_lines")

    def _line_ok(l: Column) -> Column:
        words = F.filter(F.split(F.trim(l), " "), lambda w: w != "")
        return (
            l.rlike('[.!?"]\\s*$')
            & (F.size(words) >= min_line_words)
            & ~F.lower(l).contains("javascript")
        )

    kept_lines = staged.select(
        id_col,
        text_col,
        F.size(lines).cast("long").alias("n_lines"),
        F.filter(lines, _line_ok).alias("_kept"),
    )
    page_ok = (
        (F.size(F.col("_kept")) >= min_kept_lines)
        & ~F.lower(F.col(text_col)).contains("lorem ipsum")
        & ~F.col(text_col).contains("{")
    )
    return kept_lines.select(
        id_col,
        page_ok.alias("kept"),
        "n_lines",
        F.when(page_ok, F.size(F.col("_kept")))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_kept"),
        F.when(page_ok, F.array_join(F.col("_kept"), "\n"))
        .otherwise(F.lit(""))
        .alias("clean_text"),
    )
