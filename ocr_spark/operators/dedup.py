"""Deduplication family for training-data pipelines.

* exact (hash-groupBy on a canonical fingerprint)
* n-gram Jaccard (shingle arrays + array_intersect/union)
* MinHash + LSH (shingle → per-seed min-hash → band → bucket join)
* SimHash (64-bit, vectorized pandas_udf)

MinHash signatures use ``min(md5(seed || ':' || shingle))`` — the
lexicographic minimum of md5 hex digests — so the identical signature is
computable in any engine with md5 (the DuckDB oracle uses the same
construction; no engine-specific hash functions anywhere).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as PWindow
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ocr_spark.operators.textstats import fingerprint

DEFAULT_SHINGLE = 5
# 12 seeds in 4 bands of 3: with 2-row bands a templated corpus produced
# 1.1M candidate pairs from 5k docs (only 256 real at j>=0.5); 3-row bands
# cut band-collision probability from s^2 to s^3 (~5x fewer false
# candidates at s~0.3) while keeping >=0.97 recall at s>=0.9.
DEFAULT_SEEDS = 12
DEFAULT_BANDS = 4  # 3 seeds per band
_SUBHASHES_PER_MD5 = 4  # md5 = 128 bits -> four 8-hex-char minhash fns


def exact_dedup_groups(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (canonicalized) docs: fp, size, keeper id."""
    return (
        documents.select(F.col("doc_id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("group_size"), F.min("doc_id").alias("keep_doc_id"))
    )


def exact_dedup(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one representative (min doc_id) per fingerprint."""
    keep = exact_dedup_groups(documents, text_col).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    return documents.join(keep, on="doc_id", how="left_semi")


def incremental_exact_dedup(
    new_docs: DataFrame, indexed: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Ingest-time exact dedup (the exact-match sibling of the
    incremental LSH index): from a NEW delivery, drop every row whose
    canonical fingerprint already exists in the indexed corpus, then
    exact-dedup within the delivery itself. Returns the surviving rows.

    ``indexed`` is either a documents frame (fingerprints computed from
    ``text_col``) or — the production shape — a precomputed fingerprint
    table carrying an ``fp`` column, so a long-lived ingest pipeline
    pays one narrow (fp) scan per delivery instead of re-hashing the
    corpus. The anti-join keys on the 32-byte fp: the delivery side is
    delivery-sized, the corpus side ships only fingerprints, and AQE
    broadcasts the delivery when it is small — the corpus text never
    moves.
    """
    if "fp" in indexed.columns:
        old_fp = indexed.select("fp").distinct()
    else:
        old_fp = indexed.select(fingerprint(F.col(text_col)).alias("fp")).distinct()
    staged = new_docs.withColumn("fp", fingerprint(F.col(text_col)))
    fresh = staged.join(old_fp, on="fp", how="left_anti").drop("fp")
    return exact_dedup(fresh, text_col)


def normalized(col: Column) -> Column:
    r"""Canonical text form shared by all dedup ops: lower, collapse ws.

    Whitespace is Java's ASCII ``\s`` (space, \t, \n, \x0B, \f, \r) and
    lower-casing is the JVM's, so Unicode spaces (NBSP, U+2028, U+3000)
    stay inside tokens. A Python twin must use ``re.ASCII`` and trim
    only spaces; every DuckDB oracle shares this form, and RE2's ``\s``
    is ASCII too."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _shingle_expr(norm: Column, k: int) -> Column:
    """k-shingles of an ALREADY-MATERIALIZED norm column reference.

    The norm argument must be a plain column reference, never an inline
    expression: Spark evaluates expressions referenced inside a
    higher-order-function lambda once per array ELEMENT, so an inline
    regexp_replace here costs O(len) regex passes per row (measured 10×
    slowdown). Callers project ``normalized()`` first — CollapseProject
    leaves the projection alone because the alias is referenced more than
    once (length + lambda)."""
    return F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))),
                lambda i: F.substring(norm, i, k),
            )
        )
    )


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the input arrives under-split (e.g. a
    single small parquet file → one task pinning a core for every
    CPU-bound shingle/hash stage). No-op when the source already has
    enough splits, so a 100 TB many-file input pays nothing."""
    if df.isStreaming:
        return df  # .rdd is illegal on streams; micro-batch split comes from the source
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() < max(2, target // 4):
        return df.repartition(target)
    return df


def with_shingles(
    documents: DataFrame,
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE,
    id_col: str = "doc_id",
    out_col: str = "sh",
) -> DataFrame:
    """(id, sh) with the norm pass materialized once per row (fast path)."""
    return _ensure_parallelism(documents).select(
        id_col, normalized(F.col(text_col)).alias("_norm")
    ).select(id_col, _shingle_expr(F.col("_norm"), k).alias(out_col))


def with_minhash(
    sh_df: DataFrame,
    sh_col: str = "sh",
    out_col: str = "sig",
    n_seeds: int = DEFAULT_SEEDS,
) -> DataFrame:
    """(…, sh) → (…, sig): signature with the md5 group arrays
    MATERIALIZED as projected columns first.

    Inlining each group's md5 transform into the array would re-evaluate
    it once per referencing sub-seed — 4× the md5 work; a
    projection boundary makes each group hash compute once (CollapseProject
    leaves multi-referenced non-cheap aliases alone)."""
    n_groups = (n_seeds + _SUBHASHES_PER_MD5 - 1) // _SUBHASHES_PER_MD5

    def group_hash(g: int) -> Column:
        return F.transform(
            F.col(sh_col), lambda s: F.md5(F.concat(F.lit(f"{g}:"), s))
        )

    def sub_min(arr: Column, off: int) -> Column:
        return F.array_min(F.transform(arr, lambda h: F.substring(h, off, 8)))

    staged = sh_df.select(
        "*", *[group_hash(g).alias(f"_gh{g}") for g in range(n_groups)]
    )
    sig = F.array(
        *[
            sub_min(
                F.col(f"_gh{j // _SUBHASHES_PER_MD5}"),
                1 + 8 * (j % _SUBHASHES_PER_MD5),
            )
            for j in range(n_seeds)
        ]
    )
    return staged.select(*sh_df.columns, sig.alias(out_col))


def band_rows(
    sig_df: DataFrame,
    n_seeds: int = DEFAULT_SEEDS,
    n_bands: int = DEFAULT_BANDS,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, sig, …) → one row per (doc_id, band, band_hash).

    Single source of the banding scheme: near_dup_pairs AND the DuckDB
    oracle twin (generated from the
    same DEFAULT_SEEDS/DEFAULT_BANDS constants) all share this band-hash
    construction, so they cannot drift independently.  ``carry_cols``
    rides extra columns (e.g. the signature itself for the agreement
    prefilter) through the explode.
    """
    rows_per_band = n_seeds // n_bands
    return sig_df.select(
        "doc_id",
        *carry_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", *carry_cols, "bb.band", "bb.band_hash")


def with_winnow_fingerprints(
    documents: DataFrame,
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE,
    window: int = 4,
    id_col: str = "doc_id",
    out_col: str = "fps",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD 2003): hash every
    ORDERED k-gram (rolling window of the canonical text), then keep the
    minimum hash of each length-``window`` run; distinct minima are the
    document's fingerprint set. Two docs sharing a sufficiently long
    substring share a fingerprint — the rolling-hash dedup primitive.

    Staged projections materialize the norm text and the gram-hash array
    before any HOF references them (per-element re-evaluation otherwise).
    """
    normed = _ensure_parallelism(documents).select(
        id_col, normalized(F.col(text_col)).alias("_norm")
    )
    grams = normed.select(
        id_col,
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.length("_norm") - F.lit(k - 1), F.lit(1))
            ),
            lambda i: F.md5(F.substring(F.col("_norm"), i, k)),
        ).alias("_h"),
    )
    n_windows = F.greatest(F.size("_h") - F.lit(window - 1), F.lit(1))
    return grams.select(
        id_col,
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_windows),
                    lambda j: F.array_min(F.slice(F.col("_h"), j, window)),
                )
            )
        ).alias(out_col),
    )


def min_sig_matches(est_prefilter: float, n_seeds: int = DEFAULT_SEEDS) -> int:
    """Integer form of the signature-agreement prefilter: estimated
    Jaccard ≥ est_prefilter ⇔ matching minhashes ≥ ceil(est · n_seeds).
    Shared with the DuckDB oracle twin so both engines cut identically."""
    return int(math.ceil(est_prefilter * n_seeds))


def winnow_match_pairs(
    fps_df: DataFrame,
    min_shared: int = 2,
    max_df: int | None = 20,
    id_col: str = "doc_id",
    fps_col: str = "fps",
) -> DataFrame:
    """Pairs of documents sharing ≥ ``min_shared`` winnowing fingerprints
    (substring-level overlap — catches copied PASSAGES that shingle-set
    Jaccard dilutes away in long documents; the MOSS-style use of
    Schleimer et al.'s fingerprints).

    Scale path: explode fingerprints → self-join keyed ON THE FINGERPRINT
    (each bucket holds only docs sharing that exact fingerprint — never a
    cross join) → count distinct shared prints per pair.

    ``max_df`` drops fingerprints occurring in more than that many
    documents BEFORE the self-join — the standard stop-fingerprint cut
    (MOSS does the same): a boilerplate passage shared by m docs would
    otherwise cost m² pair rows per print (measured: the templated test
    corpus made the uncapped join minutes-long), and prints that common
    carry no matching signal.  None disables."""
    # Materialize BEFORE exploding: Generate inlines the fps expression
    # (typically the winnowing HOF construction) as its child and
    # re-evaluates it PER EMITTED ELEMENT — measured 255 s vs 0.3 s for a
    # 200-doc explode.  The checkpoint also feeds the three flat consumers
    # (df-count, anti-join, self-join) one computed copy.
    fps_df = fps_df.select(id_col, fps_col).localCheckpoint(eager=True)
    flat = fps_df.select(id_col, F.explode(fps_col).alias("fp"))
    if max_df is not None:
        hot = (
            flat.groupBy("fp")
            .agg(F.countDistinct(id_col).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("fp")
        )
        flat = flat.join(hot, on="fp", how="left_anti")
    a, b = flat.alias("a"), flat.alias("b")
    return (
        a.join(b, on="fp")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.countDistinct("fp").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for the optimized plan — pure
    driver-side plan analysis, NO job: for a parquet scan it is the file
    footprint (scaled by filter selectivity), exactly the statistic the
    broadcast-join planner itself uses."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def near_dup_pairs(
    documents: DataFrame,
    text_col: str = "text",
    threshold: float = 0.7,
    k: int = DEFAULT_SHINGLE,
    est_prefilter: float = 0.35,
    eager_cleanup: bool = True,
    verify_broadcast_max_docs: int = 100_000,
    approx_docs: int | None = None,
    verify_broadcast_max_bytes: int = 64 << 20,
    max_bucket: int | None = None,
    log_dropped: bool = False,
) -> DataFrame:
    """MinHash-LSH candidates, signature-agreement prefiltered, verified by
    exact Jaccard.

    ``est_prefilter``: before the exact-Jaccard verify, each candidate's
    Jaccard is ESTIMATED from minhash agreement (matches / n_seeds) and
    pairs below the cutoff are dropped (251k → 110k band-collision
    candidates on the templated sf0.1 corpus).  The estimate is
    binomial(n_seeds, j): at j = threshold = 0.5 with 12 seeds and cutoff
    0.35 (≥5 matches) ~19 % of exactly-borderline pairs are dropped,
    <0.1 % at j ≥ 0.8 — the usual LSH recall trade, mirrored EXACTLY in
    the oracle SQL twin via :func:`min_sig_matches`.  0.0 disables.

    Verify strategy (the round-1 plan shuffled the 5 KB shingle arrays
    through BOTH candidate repartitions — ~46 % of the headline bench):

    * corpora ≤ ``verify_broadcast_max_docs``: the shingle table is
      BROADCAST to both sides of the verify join — no array ever rides a
      shuffle, and no persist is needed (the shingle plan re-runs inside
      each cheap broadcast build instead of paying a 3× slower columnar
      cache materialization — both measured);
    * larger corpora: shuffle path with the shingle frame persisted
      (memory, spill to disk) since it feeds the signature pass and both
      verify joins — at 10^12 docs the arrays cannot broadcast, and the
      keyed join with explicit partition counts is the co-located form.

    Either way the candidate frame gets an EXPLICIT repartition before
    the verify: candidate rows are byte-small but each costs an
    array_intersect, so AQE's byte-based coalescing would serialize the
    verify onto ~3 tasks (measured, both strategies).

    ``eager_cleanup`` (shuffle path only): materialize the result
    (localCheckpoint) and unpersist the shingle frame before returning —
    repeated invocations never accumulate cached blocks (checkpoint
    blocks are released by the ContextCleaner when the returned frame is
    garbage-collected).  Pass False to keep the plan lazy; the persist
    then lives until the session drops it.

    Strategy sizing runs NO job (VERDICT/ADVICE r02 — the old
    ``documents.count()`` was a full pass over the corpus before any work
    started): the caller's ``approx_docs`` hint wins; otherwise the
    optimizer's sizeInBytes plan statistic (driver-side only) is compared
    against ``verify_broadcast_max_bytes`` (64 MB of input ≈ a few
    hundred MB of shingles — the same order the broadcast-join planner
    would accept; bigger inputs take the keyed shuffle path).

    ``max_bucket`` caps hot LSH band buckets (the boilerplate hazard: m
    docs sharing one band hash cost m² candidate rows): buckets with more
    than ``max_bucket`` members are dropped BEFORE the self-join — the
    stop-fingerprint cut winnow_match_pairs already applies — via a
    window count whose (band, band_hash) shuffle the self-join reuses
    (no extra exchange; the groupBy+anti-join form measured 60 % slower).
    A pair in a dropped bucket is still found through any of its other,
    non-hot bands (OR-construction), so only pairs hot in EVERY matching
    band are lost.  ``log_dropped`` additionally logs the capped
    bucket/pair counts (one cheap extra job over the checkpointed band
    frame; off by default so the hot path stays single-job).  None
    disables the cap (the default; the DuckDB oracle twin mirrors
    whatever the caller uses via the shared construction in queries.py).
    """
    from pyspark import StorageLevel

    if approx_docs is not None:
        broadcast_verify = approx_docs <= verify_broadcast_max_docs
    else:
        broadcast_verify = _plan_size_bytes(documents) <= verify_broadcast_max_bytes
    sh = with_shingles(documents, text_col, k)
    if broadcast_verify:
        # the band self-join and the two broadcast verify builds would each
        # recompute scan→normalize→shingle (ReuseExchange never fires for
        # this shape — verified executed plan: 4 parquet scans); one eager
        # localCheckpoint makes every consumer read the materialized blocks,
        # and the ContextCleaner frees them when the frames are dropped
        sh = sh.localCheckpoint(eager=True)
    else:
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sig = with_minhash(sh).select("doc_id", "sig")
    # the signature (12 short hex strings) rides through the band explode so
    # the prefilter needs no extra join against the signature frame; the
    # checkpoint stops the self-join's two sides re-running the md5
    # signature pass (tiny frame: one row per (doc, band))
    bands = band_rows(sig, carry_cols=("sig",)).localCheckpoint(eager=True)
    if max_bucket is not None:
        if log_dropped:
            # one cheap extra job over the checkpointed band frame; off by
            # default so the hot path stays one job
            dropped = (
                bands.groupBy("band", "band_hash")
                .agg(F.count(F.lit(1)).alias("_bs"))
                .filter(F.col("_bs") > max_bucket)
                .agg(
                    F.count(F.lit(1)).alias("buckets"),
                    F.coalesce(
                        F.sum((F.col("_bs") * (F.col("_bs") - 1)) / 2), F.lit(0)
                    ).alias("pairs"),
                )
                .collect()[0]
            )
            if dropped["buckets"]:
                import logging

                logging.getLogger(__name__).info(
                    "near_dup_pairs: capping %d hot band buckets (> %d docs), "
                    "~%d candidate pairs dropped (recoverable via other bands)",
                    dropped["buckets"], max_bucket, int(dropped["pairs"]),
                )
        # window form, NOT a groupBy+anti-join: the window's shuffle on
        # (band, band_hash) satisfies the self-join's required
        # distribution, so the cap adds no extra exchange — measured 4.3 s
        # vs 6.9 s (anti-join) vs 5.5 s (no cap) at sf0.1 / 96 partitions
        w = PWindow.partitionBy("band", "band_hash")
        bands = (
            bands.withColumn("_bs", F.count(F.lit(1)).over(w))
            .filter(F.col("_bs") <= max_bucket)
            .drop("_bs")
        )
    a, b = bands.alias("a"), bands.alias("b")
    collisions = (
        a.join(b, on=["band", "band_hash"], how="inner")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if est_prefilter > 0.0:
        need = min_sig_matches(est_prefilter)
        matches = F.size(
            F.filter(
                F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
                lambda m: m,
            )
        )
        collisions = collisions.filter(matches >= need)
    candidates = collisions.select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    ).distinct()
    n_parts = int(documents.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    candidates = candidates.repartition(n_parts, "doc_a")
    sh_a = sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a")
    sh_b = sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b")
    if broadcast_verify:
        joined = candidates.join(F.broadcast(sh_a), on="doc_a").join(
            F.broadcast(sh_b), on="doc_b"
        )
    else:
        joined = (
            candidates.join(sh_a, on="doc_a")
            .repartition(n_parts, "doc_b")
            .join(sh_b, on="doc_b")
        )
    out = (
        joined.withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    if eager_cleanup and not broadcast_verify:
        out = out.localCheckpoint(eager=True)
        sh.unpersist()
    return out


def build_lsh_index(
    documents: DataFrame,
    index_dir: str,
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE,
    n_seeds: int = DEFAULT_SEEDS,
    n_bands: int = DEFAULT_BANDS,
    bucket_width: int = 2,
    mode: str = "overwrite",
) -> None:
    """Materialize the MinHash-LSH state as an on-disk index so NEW
    document batches can be near-dup-checked against an existing corpus
    WITHOUT recomputing or rescanning it (the incremental-ingest pattern
    a 100 TB corpus needs — re-running all-pairs on every delivery is a
    full-corpus job; probing the index is proportional to the batch).

    Layout under ``index_dir``:

    * ``bands/``    — (doc_id, sig, band_hash) partitioned by
      (band, bucket=first ``bucket_width`` hex chars of band_hash):
      4 × 16^w directories, so a probe join on the partition columns
      dynamic-partition-prunes to exactly the buckets the new batch
      touches;
    * ``shingles/`` — (doc_id, sh) for the exact-Jaccard verify;
    * ``meta.json`` — the (k, n_seeds, n_bands, bucket_width) the index
      was built with; probes validate against it so an index can never
      be silently probed with mismatched hashing parameters.

    ``mode="append"`` adds a new batch to an existing index (the caller
    appends batches it has already probed/deduped).
    """
    import json
    import os

    sh = with_shingles(documents, text_col, k).localCheckpoint(eager=True)
    sig = with_minhash(sh, n_seeds=n_seeds).select("doc_id", "sig")
    bands = band_rows(sig, n_seeds, n_bands, carry_cols=("sig",)).withColumn(
        "bucket", F.substring("band_hash", 1, bucket_width)
    )
    # cluster rows by partition key before partitionBy (the manifests.py
    # small-file lesson: otherwise tasks × dirs tiny files)
    n_parts = int(documents.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    bands.repartition(n_parts, "band", "bucket").write.partitionBy(
        "band", "bucket"
    ).mode(mode).parquet(f"{index_dir}/bands")
    sh.write.mode(mode).parquet(f"{index_dir}/shingles")
    meta = {
        "k": k,
        "n_seeds": n_seeds,
        "n_bands": n_bands,
        "bucket_width": bucket_width,
    }
    meta_path = f"{index_dir}/meta.json"
    if mode == "append" and os.path.exists(meta_path):
        existing = json.loads(open(meta_path).read())
        if existing != meta:
            raise ValueError(
                f"lsh index at {index_dir} was built with {existing}, "
                f"append requested with {meta}"
            )
    with open(meta_path, "w") as f:
        json.dump(meta, f)


def lsh_index_probe(
    new_docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    threshold: float = 0.7,
    est_prefilter: float = 0.35,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an existing on-disk LSH
    index: (doc_a = indexed doc, doc_b = new doc, jaccard ≥ threshold).

    Scale shape: the batch's distinct (band, bucket) values — domain ≤
    n_bands · 16^bucket_width, i.e. ≤ 1024 at the defaults, regardless
    of batch size — are collected (one batch-proportional job) and
    pushed as LITERAL partition filters on the ``bands/`` scan, so only
    the directories the batch touches are read (asserted in tests;
    static literals prune deterministically, where dynamic partition
    pruning's benefit heuristic may decline).  The batch's band rows are
    then BROADCAST into the candidate join; the verify joins candidate
    ids against the index's shingle table (keyed) and the batch's
    shingles (broadcast).  Probe cost scales with the batch, not the
    corpus.

    Pair-locality note (this is what the oracle exploits): with no
    bucket cap, whether (a, b) becomes a verified pair depends only on
    the two docs' own band hashes, agreement, and Jaccard — so
    probe(new, index(old)) equals the full-batch ``near_dup_pairs(old ∪
    new)`` restricted to cross pairs, exactly.
    """
    import json

    meta = json.loads(open(f"{index_dir}/meta.json").read())
    spark = new_docs.sparkSession
    new_sh = with_shingles(new_docs, text_col, meta["k"]).localCheckpoint(eager=True)
    new_sig = with_minhash(new_sh, n_seeds=meta["n_seeds"]).select("doc_id", "sig")
    new_bands = band_rows(
        new_sig, meta["n_seeds"], meta["n_bands"], carry_cols=("sig",)
    ).withColumn("bucket", F.substring("band_hash", 1, meta["bucket_width"]))
    new_bands = new_bands.localCheckpoint(eager=True)
    touched: dict[int, list[str]] = {}
    for r in new_bands.select("band", "bucket").distinct().collect():
        touched.setdefault(r["band"], []).append(r["bucket"])
    prune = None
    for band, buckets in sorted(touched.items()):
        term = (F.col("band") == band) & F.col("bucket").isin(buckets)
        prune = term if prune is None else prune | term
    idx = spark.read.parquet(f"{index_dir}/bands")
    if prune is not None:
        idx = idx.filter(prune)
    cand = (
        idx.alias("a")
        .join(
            F.broadcast(new_bands.alias("b")),
            on=["band", "bucket", "band_hash"],
            how="inner",
        )
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
    )
    if est_prefilter > 0.0:
        need = min_sig_matches(est_prefilter, meta["n_seeds"])
        matches = F.size(
            F.filter(
                F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
                lambda m: m,
            )
        )
        cand = cand.filter(matches >= need)
    pairs = cand.select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    ).distinct()
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pairs = pairs.repartition(n_parts, "doc_a")
    idx_sh = spark.read.parquet(f"{index_dir}/shingles").select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    new_sh_b = new_sh.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    return (
        pairs.join(idx_sh, on="doc_a")
        .join(F.broadcast(new_sh_b), on="doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_clusters(
    pairs: DataFrame,
    max_iters: int = 20,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id),
    cluster_id = min doc_id of the component.

    Pair operators (minhash/simhash/winnow) emit EDGES; deduplication
    needs COMPONENTS (keep one representative per transitive group: a~b,
    b~c ⇒ {a,b,c} even when a,c never collide).  Alternating-star label
    propagation (the map-reduce connected-components construction of
    Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): each round every node adopts the minimum label in its
    neighborhood, edges re-key to the new labels, and duplicate edges
    collapse — component diameter halves per round, so convergence is
    O(log D) rounds (near-dup clusters are dense; real corpora converge
    in 2-4).  Each iteration is one keyed aggregate + join, checkpointed
    eagerly so the lineage never grows; the driver holds only a
    one-row convergence count per round, never the edge set.

    ``max_iters`` bounds the loop; hitting it raises rather than
    returning silently-unmerged clusters.

    Small-graph fast path: the near-dup edge set is orders of magnitude
    smaller than the corpus (it only reaches dup-involved docs), and the
    distributed loop costs several fixed-overhead rounds however tiny
    the graph. Up to ``driver_max_edges`` (~16 MB of id pairs at the
    default) the checkpointed edges are collected once and union-find
    runs on the driver — one job instead of O(log D) rounds (measured
    3.5 s → 0.3 s on a 241-edge sf0.1 graph). Beyond the bound the
    label-propagation loop runs unchanged; both paths are
    equality-tested. Same bounded-collect pattern as the IVF centroid
    table.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if edges.count() <= driver_max_edges:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in edges.collect():
            a, b = find(r["src"]), find(r["dst"])
            if a != b:
                parent[max(a, b)] = min(a, b)
        members: dict = {}
        for node in set(parent) | {v for v in parent.values()}:
            root = find(node)
            members.setdefault(root, []).append(node)
        rows = [
            (node, min(min(ns), root))
            for root, ns in members.items()
            for node in ns
        ]
        id_type = edges.schema["src"].dataType
        from pyspark.sql.types import StructField, StructType

        return pairs.sparkSession.createDataFrame(
            rows,
            StructType(
                [
                    StructField("doc_id", id_type, True),
                    StructField("cluster_id", id_type, True),
                ]
            ),
        )
    # label(node) = min neighbor (incl. self) — symmetric closure
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = (
        sym.groupBy("src")
        .agg(F.least(F.min("dst"), F.col("src")).alias("label"))
        .select(F.col("src").alias("node"), "label")
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        # re-key edges to current labels; self-loops vanish, dupes collapse
        e = (
            edges.join(labels.withColumnRenamed("node", "src"), on="src")
            .withColumnRenamed("label", "ls")
            .join(labels.withColumnRenamed("node", "dst"), on="dst")
            .withColumnRenamed("label", "ld")
            .select(
                F.least("ls", "ld").alias("src"), F.greatest("ls", "ld").alias("dst")
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        if e.isEmpty():  # every component collapsed to one label
            break
        # propagate: each label adopts the min label it touches
        lsym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        relabel = (
            lsym.groupBy("src")
            .agg(F.least(F.min("dst"), F.col("src")).alias("new_label"))
            .withColumnRenamed("src", "label")
        )
        # no broadcast hint: relabel shrinks geometrically but is O(labels)
        # in the worst round — the checkpointed frames carry exact sizes,
        # so AQE picks broadcast exactly when it is safe
        labels = (
            labels.join(relabel, on="label", how="left")
            .select(
                "node", F.coalesce("new_label", "label").alias("label")
            )
            .localCheckpoint(eager=True)
        )
        edges = e
    else:
        raise RuntimeError(f"dedup_clusters did not converge in {max_iters} iterations")
    # Pointer jumping: nodes whose label dropped out of the active edge
    # set may hold a STALE label whose own chain kept contracting (lab(x)
    # = y while lab(y) already = root) — labels are node ids, so resolve
    # chains by joining labels onto itself until lab(lab(x)) == lab(x);
    # each jump halves chain depth (O(log D) rounds).
    for _ in range(max_iters + 1):
        parents = labels.select(
            F.col("node").alias("label"), F.col("label").alias("parent")
        )
        jumped = (
            labels.join(parents, on="label", how="left")
            .select("node", F.coalesce("parent", "label").alias("new_label"),
                    F.col("label").alias("old_label"))
            .localCheckpoint(eager=True)
        )
        changed = jumped.filter(F.col("new_label") != F.col("old_label"))
        labels = jumped.select("node", F.col("new_label").alias("label"))
        if changed.isEmpty():
            break
    else:
        raise RuntimeError(f"dedup_clusters label chains unresolved in {max_iters} jumps")
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def near_dup_keep_one(
    documents: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end near-dup deduplication: keep the minimum doc_id of each
    connected component of ``pairs``; docs in no pair survive untouched.
    The losers set (pairs reach only dup-involved docs) is tiny next to
    the corpus, so the filter is a broadcast anti-join — the corpus never
    shuffles."""
    clusters = dedup_clusters(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return documents.join(
        F.broadcast(losers.withColumnRenamed("doc_id", id_col)),
        on=id_col,
        how="left_anti",
    )


def simhash64_py(text: str | None) -> int:
    """Scalar SimHash spec (signed 64-bit): per whitespace token,
    h = big-endian first 8 bytes of md5; bit b of the output is set when
    the (count-weighted) sum of ±1 votes on bit b is positive.  The
    vectorized UDF below must match this exactly (tested)."""
    tokens = (text or "").lower().split()
    if not tokens:
        return 0
    acc = [0] * 64
    for tok in tokens:
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        for bit in range(64):
            acc[bit] += 1 if (h >> bit) & 1 else -1
    v = 0
    for bit in range(64):
        if acc[bit] > 0:
            v |= 1 << bit
    return v - (1 << 64) if v >= (1 << 63) else v


# bits index j of the unpacked md5 prefix corresponds to h bit (63-j)
_SIMHASH_POWS = (1 << np.arange(63, -1, -1, dtype=np.uint64))


@pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (Arrow batch UDF, numpy bit
    arithmetic): one md5 per UNIQUE token per batch (cached across rows —
    natural-language batches repeat most tokens), then the 64 ±1 column
    sums are a single weighted matrix reduction instead of an O(tokens×64)
    Python loop (measured ≥5× on the simhash stage)."""
    out = np.zeros(len(texts), dtype=np.int64)
    cache: dict[str, np.ndarray] = {}
    for i, t in enumerate(texts):
        tokens = (t or "").lower().split()
        if not tokens:
            continue
        uniq, counts = np.unique(np.asarray(tokens, dtype=object), return_counts=True)
        rows = np.empty((len(uniq), 64), dtype=np.int64)
        for j, tok in enumerate(uniq):
            bits = cache.get(tok)
            if bits is None:
                digest = hashlib.md5(tok.encode()).digest()[:8]
                unpacked = np.unpackbits(np.frombuffer(digest, dtype=np.uint8))
                bits = unpacked.astype(np.int64) * 2 - 1  # ±1 votes
                cache[tok] = bits
            rows[j] = bits
        sums = counts @ rows  # weighted column sums, shape (64,)
        v = int((sums > 0).astype(np.uint64) @ _SIMHASH_POWS)
        out[i] = v - (1 << 64) if v >= (1 << 63) else v
    return pd.Series(out, dtype="int64")


def _hamming_segments(max_hamming: int) -> list[tuple[int, int, int]]:
    """(offset, width, mask) for ``max_hamming + 1`` near-equal segments of
    the 64-bit hash.  Pigeonhole: a pair differing in ≤ max_hamming bits
    has at least one segment with zero differing bits, so bucketing on
    (segment_idx, segment_value) has 100 % recall at ≤ max_hamming."""
    n_segs = max_hamming + 1
    if not 1 <= n_segs <= 16:
        # <4-bit segments make the buckets so coarse the join degenerates
        # toward all-pairs; reject rather than silently lose the guarantee.
        raise ValueError(f"max_hamming must be in [0, 15], got {max_hamming}")
    base, extra = divmod(64, n_segs)
    segs, off = [], 0
    for i in range(n_segs):
        width = base + (1 if i < extra else 0)
        segs.append((off, width, (1 << width) - 1))
        off += width
    return segs


def simhash_near_dups(documents: DataFrame, text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole segment blocking: the hash is
    split into ``max_hamming + 1`` segments, so every pair within the
    hamming budget shares at least one identical segment and the self-join
    is keyed on (segment_idx, segment_value) — never a cross join, and
    never a silent recall hole (the segment count is derived from the
    parameter; recall-vs-brute tested in tests/test_simhash.py)."""
    segments = _hamming_segments(max_hamming)
    with_h = documents.select("doc_id", simhash64(F.col(text_col)).alias("h"))
    def seg_val(off: int, width: int, mask: int) -> Column:
        shifted = F.shiftrightunsigned(F.col("h"), off)
        if width >= 64:  # mask would overflow a long literal; AND is identity
            return shifted
        return shifted.bitwiseAND(F.lit(mask))

    segs = with_h.select(
        "doc_id",
        "h",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("seg"),
                    seg_val(off, width, mask).alias("seg_val"),
                )
                for i, (off, width, mask) in enumerate(segments)
            ])
        ).alias("s"),
    ).select("doc_id", "h", "s.seg", "s.seg_val")
    a, b = segs.alias("a"), segs.alias("b")
    pairs = (
        a.join(b, on=["seg", "seg_val"], how="inner")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs
