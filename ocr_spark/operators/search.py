"""Keyword search scoring over a documents table (Okapi BM25).

The missing "find me the docs about X" query surface of a corpus engine,
in the Lucene-parameterized BM25 form:

    score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1−b+b·dl/avgdl))
    idf(t)   = ln( (N − df(t) + 0.5) / (df(t) + 0.5) + 1 )

Scale shape — the part that matters at 10^12 docs: the query's term set
is tiny, so the per-(doc, term) tf stream is produced by a MAP-SIDE
``isin`` filter on the exploded tokens (non-matching tokens never leave
the scan task); doc length is a row-local expression (no shuffle); df
and the corpus stats are metadata-sized aggregates that broadcast back.
The corpus itself is scanned (twice: once for lengths/stats, once for
the filtered term stream — both column-pruned) and never reshuffled;
the one join touching a corpus-sized frame (lengths ⨝ hits) keys on
doc_id with AQE free to broadcast the hit side when the query is
selective. Top-k compiles to TakeOrderedAndProject.

Terms are matched against the canonical normalized form (lowered,
whitespace-collapsed — the same normalization every dedup/textstats op
uses), so callers pass lowercase terms.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators import dedup
from ocr_spark.operators.textstats import token_count

DEFAULT_K1 = 1.2
DEFAULT_B = 0.75


def bm25_scores(
    documents: DataFrame,
    terms: list[str],
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_terms_hit, score): BM25 score of every document that
    contains at least one query term. Deterministic and engine-portable
    (plain arithmetic over exact counts — the DuckDB twin replays it)."""
    terms = sorted(set(terms))
    from pyspark import StorageLevel

    # lens feeds both the corpus stats agg and the per-doc length join —
    # persist the 2-column frame so the doc-length pass runs once
    lens = documents.select(
        id_col, token_count(F.col(text_col)).alias("dl")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    stats = lens.agg(
        F.count(F.lit(1)).alias("N"), F.avg("dl").alias("avgdl")
    )
    toks = (
        dedup._ensure_parallelism(documents)
        .select(id_col, dedup.normalized(F.col(text_col)).alias("_norm"))
        .select(id_col, F.explode_outer(F.split(F.col("_norm"), " ")).alias("tok"))
        .filter(F.col("tok").isin(terms))  # map-side: non-terms never leave the scan
    )
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("N") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    # tf↔lens keys on doc_id; tf is hit-sized, so AQE broadcasts it for
    # selective queries and falls back to a keyed shuffle join when a
    # stopword-like term makes the hit set corpus-sized — never forced
    # either way
    scored = (
        tf.join(F.broadcast(df_t), on="tok")
        .crossJoin(F.broadcast(stats))
        .join(lens, on=id_col)
        .withColumn(
            "_s",
            idf
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_terms_hit"),
        F.sum("_s").alias("score"),
    )


def tfidf_top_terms(
    documents: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document keyword extraction: the top-k terms by tf·idf
    (sklearn-smooth idf = ln((1+N)/(1+df)) + 1; ties → term asc).
    Returns (doc_id, rank, term, tf, score).

    Same corpus-frequency shape as unigram_logprob — collapsed
    (doc, term, tf) frame persisted for a single tokenize pass, tiny df
    agg, AQE-skew-splittable term join — plus one rank window
    partitioned BY DOC over the doc's own distinct terms (bounded by
    the document, so no hot key at any corpus size)."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    toks = (
        dedup._ensure_parallelism(documents)
        .select(id_col, dedup.normalized(F.col(text_col)).alias("_norm"))
        .select(id_col, F.explode_outer(F.split(F.col("_norm"), " ")).alias("term"))
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
    )
    pg = (
        toks.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    df_t = pg.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.agg(F.count(F.lit(1)).alias("N"))
    idf = F.log((F.lit(1) + F.col("N")) / (F.lit(1) + F.col("df"))) + F.lit(1.0)
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        pg.join(df_t, on="term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * idf)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, F.col("rank").cast("int").alias("rank"), "term", "tf", "score")
    )


def bm25_topk(
    documents: DataFrame,
    terms: list[str],
    k: int = 20,
    **kwargs,
) -> DataFrame:
    """Top-k BM25 hits (ties broken by doc_id asc) — orderBy+limit so the
    physical plan is a per-partition heap + driver merge, never a global
    sort."""
    scores = bm25_scores(documents, terms, **kwargs)
    return (
        scores.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def rrf_fuse(
    ranklists: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    topn: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranklists (Cormack et al. 2009):
    score(d) = Σ_lists 1/(k + rank_list(d)), missing-from-a-list
    contributes nothing. The standard way to hybridize lexical (BM25)
    and semantic (embedding) retrieval without score calibration —
    ranks are comparable when raw scores never are.

    Returns ``(id, rrf_score, rank)`` for the fused top ``topn``.

    Scale shape: the inputs are already top-k ranklists (k rows each,
    driver-bounded), so every join here is a few-row broadcast; the
    corpus was only touched by the upstream retrievers.
    """
    from functools import reduce

    from pyspark.sql import Window

    scored = None
    score_cols = []
    for i, rl in enumerate(ranklists):
        col = f"_rrf{i}"
        score_cols.append(col)
        part = rl.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(k) + F.col(rank_col).cast("int"))).alias(col),
        )
        scored = part if scored is None else scored.join(part, on=id_col, how="full_outer")
    total = reduce(
        lambda a, b: a + b, [F.coalesce(F.col(c), F.lit(0.0)) for c in score_cols]
    )
    fused = scored.select(F.col(id_col), total.alias("rrf_score"))
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
    return (
        fused.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(topn)
        .withColumn("rank", F.row_number().over(w))
    )


def hashed_tfidf(
    documents: DataFrame,
    dim: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    l2_normalize: bool = True,
) -> DataFrame:
    """(doc_id, bucket, weight): the feature-hashing TF-IDF embedding
    ("hashing trick", Weinberger et al. 2009) in sparse rows — the
    model-free way to give every document a fixed-``dim`` vector for
    the ANN / semantic-dedup family without an external encoder.

    ``bucket`` = first 15 md5 hex chars of the term mod ``dim``
    (engine-portable like every hash in this repo — the value itself
    oracles); ``weight`` = Σ over the bucket's terms of tf·idf with the
    sklearn-smooth idf :func:`tfidf_top_terms` uses, L2-normalized per
    doc by default so downstream cosine is a plain dot product.

    Shape: one tokenize pass → keyed (doc, term) tf agg → tiny df agg +
    broadcast N → (doc, bucket) agg → per-doc norm via a window bounded
    by ≤ dim rows per doc. No vocabulary state, no fit step, no
    collision table — which is exactly why the trick works at 100 TB:
    the embedding of a document depends only on the document and the
    corpus-frequency table, both of which this repo already maintains
    incrementally.
    """
    from pyspark.sql import Window

    toks = (
        dedup._ensure_parallelism(documents)
        .select(id_col, dedup.normalized(F.col(text_col)).alias("_norm"))
        .select(id_col, F.explode_outer(F.split(F.col("_norm"), " ")).alias("term"))
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
    )
    # pg feeds BOTH the df agg and the weight join; persist it so the
    # tokenize pass is unconditionally single (AQE ReusedExchange deduped
    # this in isolated runs but silently failed inside long sessions —
    # the measured collocations trap)
    from pyspark import StorageLevel

    pg = (
        toks.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    df_t = pg.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.agg(F.count(F.lit(1)).alias("N"))
    idf = F.log((F.lit(1) + F.col("N")) / (F.lit(1) + F.col("df"))) + F.lit(1.0)
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 15), 16, 10).cast("long")
        % dim
    )
    w = (
        pg.join(df_t, on="term")
        .crossJoin(F.broadcast(n_docs))
        .groupBy(id_col, bucket.alias("bucket"))
        .agg(F.sum(F.col("tf") * idf).alias("weight"))
    )
    if not l2_normalize:
        return w
    win = Window.partitionBy(id_col)
    return w.withColumn(
        "weight",
        F.col("weight")
        / F.sqrt(F.sum(F.col("weight") * F.col("weight")).over(win)),
    )


def dense_from_sparse(
    sparse: DataFrame, dim: int, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, embedding array<double>): scatter the sparse
    (bucket, weight) rows of :func:`hashed_tfidf` into dense vectors —
    the column shape the ANN operators take.

    The scatter is the one step Spark's built-ins can't express (no
    functional array update), so it is a vectorized Arrow-batched
    pandas UDF over per-doc collected structs — NEVER an in-row map
    probed per index (Spark's map element_at is a linear scan: O(dim ×
    nnz) per row). Each doc's sparse list is bounded by ``dim``, so the
    collect_list is row-local and the UDF does one numpy scatter per
    doc."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<double>")
    def _scatter(buckets: pd.Series, weights: pd.Series) -> pd.Series:
        out = []
        for bs, ws in zip(buckets, weights):
            v = np.zeros(dim)
            v[np.asarray(bs, dtype=np.int64)] = np.asarray(ws, dtype=np.float64)
            out.append(v.tolist())
        return pd.Series(out)

    packed = sparse.groupBy(id_col).agg(
        F.collect_list("bucket").alias("_b"), F.collect_list("weight").alias("_w")
    )
    return packed.select(id_col, _scatter("_b", "_w").alias("embedding"))


def doc_freq_stats(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(tok, cnt) document-frequency table + one sentinel row
    ``tok=''`` carrying the document count — the corpus statistic
    :func:`hashed_tfidf` derives idf from, in additive form (each doc
    contributes once per
    distinct term, and docs never recur across deliveries, so
    per-delivery stats SUM to the whole-corpus stats). The empty-string
    sentinel can never collide with a real term: tokenization filters
    empty tokens everywhere in this repo."""
    toks = (
        dedup._ensure_parallelism(documents)
        .select(id_col, dedup.normalized(F.col(text_col)).alias("_norm"))
        .select(id_col, F.explode_outer(F.split(F.col("_norm"), " ")).alias("term"))
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
    )
    df_rows = (
        toks.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("term").alias("tok"), "cnt")
    )
    n_docs = documents.agg(F.count(F.lit(1)).alias("cnt")).select(
        F.lit("").alias("tok"), "cnt"
    )
    return df_rows.unionByName(n_docs)


def hashed_tfidf_apply(
    documents: DataFrame,
    stats: DataFrame,
    dim: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    l2_normalize: bool = True,
) -> DataFrame:
    """Embed documents against a FIXED corpus-stats artifact (a
    :func:`doc_freq_stats` table): same sparse (doc_id, bucket, weight)
    contract as :func:`hashed_tfidf`, but the corpus is never rescanned
    — the deployable / streaming form, the same fixed-artifact split as
    ``unigram_model`` vs ``score_with_unigram_model``.

    Terms unseen in the stats get df=0 — idf = ln((1+N)/1)+1, the max —
    which is the sklearn handle-unseen behavior and what you want for a
    brand-new term. Applied to the SAME corpus the stats were built
    from, the output equals :func:`hashed_tfidf` row-for-row (tested),
    which is the equivalence that makes the incremental path
    trustworthy."""
    from pyspark.sql import Window

    n_row = F.broadcast(
        stats.filter(F.col("tok") == "").select(F.col("cnt").alias("N"))
    )
    dfs = F.broadcast(
        stats.filter(F.col("tok") != "").select(
            F.col("tok").alias("term"), F.col("cnt").alias("df")
        )
    )
    toks = (
        dedup._ensure_parallelism(documents)
        .select(id_col, dedup.normalized(F.col(text_col)).alias("_norm"))
        .select(id_col, F.explode_outer(F.split(F.col("_norm"), " ")).alias("term"))
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
    )
    pg = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    idf = F.log(
        (F.lit(1) + F.col("N")) / (F.lit(1) + F.coalesce(F.col("df"), F.lit(0)))
    ) + F.lit(1.0)
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 15), 16, 10).cast("long")
        % dim
    )
    w = (
        pg.join(dfs, on="term", how="left")
        .crossJoin(n_row)
        .groupBy(id_col, bucket.alias("bucket"))
        .agg(F.sum(F.col("tf") * idf).alias("weight"))
    )
    if not l2_normalize:
        return w
    win = Window.partitionBy(id_col)
    return w.withColumn(
        "weight",
        F.col("weight")
        / F.sqrt(F.sum(F.col("weight") * F.col("weight")).over(win)),
    )
