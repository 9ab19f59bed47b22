#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The flagship number is extraction throughput (docs/sec) over the
deterministic synthetic interleaved-document corpus (ocr_spark/synth.py)
sized to the scale factor — the same workload shape as the north rule's
10^12-doc corpus: text/ocr/html spans plus pdf/image media payloads with
~5 % oversized multi-page PDFs (skew).

Modes:
    python bench.py                 # full headline suite → one JSON line
    python bench.py --flagship-only # pipeline throughput only (scaling runs)

Scaling evidence (north rule: efficiency >= 0.8 between N and 4N) is
produced by tools/scaling_bench.py, which runs ``--flagship-only`` in two
fresh JVMs at local[8] and local[32] and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

# Headline relational/training-data queries (subset of the full catalog in
# ocr_spark/queries.py chosen to exercise scan+agg, shuffle join, window,
# dedup/LSH, ANN, and sessionization at sf0.1 scale).
HEADLINE = [
    "pricing_summary",
    "top_customers",
    "region_revenue",
    "running_total",
    "sessionize",
    "textstats",
    "exact_dedup",
    "minhash_lsh_pairs",
    "embed_topk",
]

# Round-3 curation family — timed separately (extra_queries in the JSON)
# so the headline total stays comparable across rounds.
EXTRA = [
    "decontaminated_ids",
    "pii_redact",
    "stratified_sample",
    "corpus_curation",
    "lsh_index_pairs",
    "repetition_stats",
    "pack_chunks",
    "kmv_distinct_tokens",
    "dup_ngram_stats",
    "pruned_scan",
    "bm25_topk",
    "tfidf_top_terms",
    "unigram_logprob",
    "token_topk",
    "length_quantiles",
    # round-3 continuation: temporal joins, semantic dedup, stats sketches
    "asof_attribution",
    "interval_overlap",
    "semantic_dup_pairs",
    "cms_token_counts",
    "hist_quantiles",
    # round-3 continuation: hybrid retrieval, substring-level dedup, DSIR
    "hybrid_topk",
    "substring_dedup",
    # round-5 (late): maximal duplicated-run spans (suffix-array-style report)
    # + the incremental form against the frozen n-gram statistic
    "dup_spans",
    "dup_spans_incremental",
    "dsir_select",
    "cap_per_source",
    "time_travel",
    "deleted_read",
    "trailing_window",
    "quality_checks",
    "hard_negatives",
    "knn_label_vote",
    # round-4: clustered table scans, bigram LM, hashed embeddings,
    # entropy/PMI/outlier quality signals, text->vector->ANN, chunking
    "clustered_scan",
    "bigram_score",
    "hashed_tfidf",
    # round-5: embed a delivery against the frozen doc-freq artifact
    "tfidf_incremental",
    "token_entropy",
    "collocations",
    "mad_outliers",
    "text_ann_topk",
    # round-5: the indexed text-ANN path (IVF over hashed-TF-IDF vectors)
    "text_ann_topk_ivf",
    "chunk_documents",
    "split_counts",
    "skew_profile",
    # round-5 (late): cross-document boilerplate-line filter (CCNet/
    # RefinedWeb shared-line step; dedup_lines' corpus-wide sibling)
    "remove_boilerplate",
    # round-5 (late): CCNet perplexity terciles, cross-source overlap
    # audit, int8 embedding storage codes, tokenizer fertility profile
    "perplexity_buckets",
    "bucket_apply",
    "source_overlap",
    "quantized_embeddings",
    "token_fertility",
    "curation_funnel",
    "cluster_cap_sample",
    # round-5 (late): temperature-scaled mixture plan + deterministic
    # shuffled-shards training layout
    "domain_mixture",
    "shuffle_shards",
    "mixture_materialize",
    "shuffle_global_ids",
    "training_export",
    # round-5 (late): NB classifier quality filter — frozen-artifact
    # apply (train pass + score pass in the catalog construction)
    "nb_classify",
    # round-5 (late): multimodal interleaved sequence packing (atomic
    # media spans, greedy in-order) — row-local JVM HOFs, zero shuffle
    "interleaved_pack",
    # round-5 (late): standalone batched HTML boilerplate strip (the
    # north rule's text/link-density heuristics as a first-class row)
    "html_main_text",
    # round-5 (late): span-granular decontamination over the interleaved
    # view — contaminated text spans drop, media + order survive
    "decontaminate_spans",
    # round-5 (late): CLIP-style image-text pair mining (nearest text
    # neighbors per media span) — row-local nested HOFs, zero shuffle
    "media_captions",
    # round-5 (final session): the two canonical web-corpus cleaning
    # recipes — Gopher rule battery + C4 line/page cleaning, both
    # row-local zero-shuffle HOF pipelines over the marked lined view
    "gopher_rules",
    "c4_clean",
    # round-5 (final session): interleaved modality profile + CAS media
    # payload dedup (fingerprints projected first — payloads never shuffle)
    "interleaved_stats",
    "media_dedup",
    # round-5 (final session): packed-sequence payload export (the
    # multimodal training example itself; greedy scan re-derived)
    "interleaved_export",
    # round-5 (final session): BPE tokenizer training — 30 merge
    # iterations (one pair-agg job each) over the word-TYPE table; cost
    # is iteration-count-bound, not corpus-bound (bpe_segment re-learns
    # then segments, so only the learner is benched)
    "bpe_merges",
]


def sf_of(sf_dir: str) -> float:
    name = os.path.basename(os.path.normpath(sf_dir))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def synth_dir(n_docs: int) -> str:
    """Materialize (once) the synthetic interleaved corpus for this size."""
    from ocr_spark.synth import write_synth

    out = REPO / ".bench" / f"synth_{n_docs}"
    marker = out / "_COMPLETE"
    if not marker.exists():
        write_synth(str(out), n_docs)
        marker.write_text(str(n_docs))
    return str(out)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_flagship(spark, n_docs: int, repeat: int = 1) -> dict:
    """Extraction pipeline over the synth corpus → docs/sec (best of
    ``repeat`` runs: the first run pays the one-time Python-worker-pool +
    codegen warmup, so repeat>=2 measures steady-state throughput).

    BOTH outputs (extracted_spans + invoices) are written — the r02
    shared-FIELDS pipeline runs the kernel once for the pair, which is
    the production shape (jobs/extract.py writes both tables).  The
    persisted FIELDS frame is dropped between repeats so best-of timing
    never reads a previous run's cache.
    """
    from ocr_spark.corpus import COMPANIES, SUPPLIERS
    from ocr_spark.operators.extract import build_pipeline
    from ocr_spark.sources.tables import load_span_documents

    base = synth_dir(n_docs)
    docs, media = load_span_documents(spark, base)
    best = float("inf")
    for _ in range(max(1, repeat)):
        t0 = time.monotonic()
        frames = build_pipeline(
            spark, docs, media, companies=COMPANIES, suppliers=SUPPLIERS
        )
        noop_write(frames.extracted_spans)
        noop_write(frames.invoices)
        best = min(best, time.monotonic() - t0)
        frames.unpersist()
    return {"sec": round(best, 3), "n_docs": n_docs, "docs_per_sec": round(n_docs / best, 2)}


def run_table_lifecycle(spark, sf_dir: str) -> dict:
    """Timed write → delete_keys → upsert → compact → CDC lifecycle over
    the documents table (the manifest sink's full Iceberg-analogue story:
    VERDICT r03 item 7 — the table-format layer's measured cost, not just
    its correctness).  Stateful by construction, so each step runs ONCE
    on a fresh table dir (no best-of); the start/end host canaries
    bracket it like everything else."""
    import shutil

    from pyspark.sql import functions as F

    from ocr_spark.sources.manifests import (
        changes_between,
        checkpointed_write,
        compact,
        delete_keys,
        read_committed,
        upsert_write,
    )

    out = str(REPO / ".bench" / "lifecycle_tbl")
    shutil.rmtree(out, ignore_errors=True)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_rows = docs.count()  # outside the timed region
    t: dict[str, float] = {}

    t0 = time.monotonic()
    checkpointed_write(
        spark, docs, out, n_buckets=32, input_snapshot="lifecycle-s1",
        stats_cols=["n_chars"], bloom_key=True,
    )
    t["write_sec"] = round(time.monotonic() - t0, 3)
    t1_wall = time.time()

    # GDPR-shaped equality delete: ~1% of keys, merge-on-read
    del_keys = docs.filter(F.col("doc_id") % 100 == 0).select("doc_id")
    t0 = time.monotonic()
    delete_keys(spark, out, del_keys)
    t["delete_sec"] = round(time.monotonic() - t0, 3)

    # MERGE: ~10% of rows re-delivered with a correction
    upd = docs.filter(F.col("doc_id") % 10 == 1).withColumn(
        "source", F.lit("corrected")
    )
    t0 = time.monotonic()
    upsert_write(
        spark, upd, out, n_buckets=32, input_snapshot="lifecycle-s2",
        stats_cols=["n_chars"], bloom_key=True,
    )
    t["upsert_sec"] = round(time.monotonic() - t0, 3)
    t2_wall = time.time()

    t0 = time.monotonic()
    compact(spark, out, stats_cols=["n_chars"])
    t["compact_sec"] = round(time.monotonic() - t0, 3)

    # CDC over the delete+upsert window; compaction epochs are rewrites,
    # not changes, so running it AFTER compact also proves the exclusion
    t0 = time.monotonic()
    cdc = changes_between(spark, out, t1_wall, t2_wall)
    ops = {r["_op"]: r["n"] for r in cdc.groupBy("_op").agg(F.count("*").alias("n")).collect()}
    t["cdc_sec"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    live = read_committed(spark, out).count()
    t["read_sec"] = round(time.monotonic() - t0, 3)

    shutil.rmtree(out, ignore_errors=True)
    return {
        **t,
        "total_sec": round(sum(t.values()), 3),
        "rows": n_rows,
        "cdc_inserts": int(ops.get("I", 0)),
        "cdc_deletes": int(ops.get("D", 0)),
        "live_rows_after": int(live),
    }


# Healthy-window canary medians, measured across the round-3/4 healthy
# runs recorded in BENCH/BASELINE.md (local[32] and local[16] agree to
# ~10 %): host ≈ 0.6 s, py ≈ 3.0 s, io ≈ 1.5 s.  A start canary above
# 1.5x its median means the host window is degraded — every query would
# inflate proportionally (the committed BENCH_r04.json embedded a ~2.2x
# window and read as a fake +40 % regression).  The gate retries after a
# cooldown before running, and stamps "degraded_window" into the JSON if
# the window never recovers (or turns during the run).
HEALTHY_CANARY_MEDIANS = {"host": 0.62, "py": 3.0, "io": 1.5}
CANARY_DEGRADED_FACTOR = 1.5

# Sustained mid-run host sag is INVISIBLE to the 3-second probes:
# a round-5 run measured the flagship at 599 docs/s while both its start
# AND end canaries read healthy (the sag outlasted the probe but not the
# 40 s pipeline).  The flagship docs/s is the one number compared across
# rounds and against the reference baseline, so it carries its own floor
# — far below the recorded healthy band (1124-1287 docs/s at the default
# sf0.1 / 5000-doc corpus) triggers ONE cooldown + re-measure, keeping
# the best (best-of is already the policy).  Keyed by n_docs because
# per-doc cost amortizes fixed overhead differently at other corpus
# sizes; unknown sizes skip the guard.
FLAGSHIP_FLOOR_DOCS_PER_SEC = {5000: 850.0}


def measure_canaries(spark, io_dir: str) -> dict[str, float]:
    """The three fixed host-health probes (JVM arithmetic, Arrow+pandas,
    parquet scan) — see the inline rationale where each was introduced."""
    t0 = time.monotonic()
    spark.range(500_000_000).selectExpr("sum(id * 2 + 1)").collect()
    host = round(time.monotonic() - t0, 3)

    import pandas as _pd

    def _burn(it):
        for b in it:
            yield _pd.DataFrame({"x": [float(b["id"].map(hash).sum())]})

    t0 = time.monotonic()
    spark.range(2_000_000).mapInPandas(_burn, "x double").collect()
    py = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    spark.read.parquet(io_dir).selectExpr("sum(length(doc_id))").collect()
    io = round(time.monotonic() - t0, 3)
    return {"host": host, "py": py, "io": io}


def canaries_degraded(c: dict[str, float]) -> list[str]:
    return [
        k
        for k, med in HEALTHY_CANARY_MEDIANS.items()
        if c[k] > med * CANARY_DEGRADED_FACTOR
    ]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--flagship-only", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--n-docs", type=int, default=None, help="override synth corpus size")
    # 3, not 2: this VM's run-to-run swing is ±30 % (frequency scaling /
    # neighbor load); best-of-3 keeps the recorded number near steady state
    ap.add_argument("--repeat", type=int, default=3, help="runs per query; best-of timing")
    ap.add_argument(
        "--canary-retries", type=int, default=2,
        help="re-probe this many times (after a cooldown) when the start "
        "canaries read degraded; 0 disables waiting",
    )
    ap.add_argument(
        "--canary-cooldown-sec", type=float, default=90.0,
        help="sleep between degraded-window re-probes",
    )
    args = ap.parse_args()

    from ocr_spark.queries import CATALOG
    from ocr_spark.session import get_spark

    sf = sf_of(args.sf_dir)
    n_docs = args.n_docs if args.n_docs else max(100, int(50000 * sf))
    synth_dir(n_docs)  # materialize outside the timed region

    # 3 partitions per core: extraction CPU per row is skewed (html vs tiny
    # text spans), so finer tasks smooth stragglers — measured ~1.7x faster
    # than 1 partition/core at both local[8] and local[32].
    spark = get_spark(
        "ocr_spark_bench",
        master=f"local[{args.cpus}]",
        shuffle_partitions=3 * args.cpus,
    )
    try:
        # warm the JVM + python workers once so timings measure the engine
        spark.range(1000).selectExpr("sum(id)").collect()

        # host-health canaries: fixed pure-JVM / Arrow+pandas / parquet-IO
        # probes, recorded in the JSON.  This VM has degraded windows where
        # EVERYTHING runs 2-5x slower (and IO-only windows invisible to CPU
        # probes); the trio lets a reader tell "slow engine" from "slow
        # host" when comparing rounds.  Healthy medians + the 1.5x gate are
        # defined at HEALTHY_CANARY_MEDIANS; a degraded start window is
        # retried after a cooldown rather than silently embedded in the
        # committed artifact (the r04 lesson).
        io_dir = os.path.join(synth_dir(n_docs), "documents")
        canaries = measure_canaries(spark, io_dir)
        for attempt in range(args.canary_retries):
            bad = canaries_degraded(canaries)
            if not bad:
                break
            print(
                f"degraded start window (canaries {canaries}, over on "
                f"{bad}); cooldown {args.canary_cooldown_sec}s then "
                f"re-probe ({attempt + 1}/{args.canary_retries})",
                file=sys.stderr,
            )
            time.sleep(args.canary_cooldown_sec)
            canaries = measure_canaries(spark, io_dir)
        start_degraded = canaries_degraded(canaries)
        host_canary_sec = canaries["host"]
        py_canary_sec = canaries["py"]
        io_canary_sec = canaries["io"]

        flagship = run_flagship(spark, n_docs, repeat=args.repeat)
        floor = FLAGSHIP_FLOOR_DOCS_PER_SEC.get(n_docs)
        if floor and flagship["docs_per_sec"] < floor and args.canary_retries > 0:
            print(
                f"flagship {flagship['docs_per_sec']} docs/s is below the "
                f"healthy floor ({floor}); cooldown "
                f"{args.canary_cooldown_sec}s then re-measure once",
                file=sys.stderr,
            )
            time.sleep(args.canary_cooldown_sec)
            retry = run_flagship(spark, n_docs, repeat=args.repeat)
            if retry["docs_per_sec"] > flagship["docs_per_sec"]:
                flagship = retry
        # still below after the retry → stamp it so the artifact can't
        # read as a silent engine regression (the canaries may both be
        # healthy around a sustained mid-run sag)
        flagship_below_floor = bool(floor and flagship["docs_per_sec"] < floor)
        queries: dict[str, float] = {"extraction_pipeline": flagship["sec"]}
        if not args.flagship_only:
            for name in HEADLINE:
                fn, _sql = CATALOG[name]
                # best-of-N like the flagship: run 1 pays broadcast/codegen
                # warmup; steady state is the engine's number
                best = float("inf")
                for _ in range(max(1, args.repeat)):
                    t0 = time.monotonic()
                    noop_write(fn(spark, args.sf_dir))
                    best = min(best, time.monotonic() - t0)
                    spark.catalog.clearCache()
                queries[name] = round(best, 3)
        extra: dict[str, float] = {}
        if not args.flagship_only:
            for name in EXTRA:
                fn, _sql = CATALOG[name]
                best = float("inf")
                for _ in range(max(1, args.repeat)):
                    t0 = time.monotonic()
                    noop_write(fn(spark, args.sf_dir))
                    best = min(best, time.monotonic() - t0)
                    spark.catalog.clearCache()
                extra[name] = round(best, 3)
        lifecycle: dict = {}
        if not args.flagship_only:
            lifecycle = run_table_lifecycle(spark, args.sf_dir)

        # end-of-run canary: the start canaries can't see a host window
        # that turns DURING the run (observed: healthy 0.62 s start canary,
        # then every query 2-4x slow, then healthy again minutes later).
        # A start/end pair brackets the whole timed region.
        t0 = time.monotonic()
        spark.range(500_000_000).selectExpr("sum(id * 2 + 1)").collect()
        host_canary_end_sec = round(time.monotonic() - t0, 3)
        end_degraded = (
            host_canary_end_sec
            > HEALTHY_CANARY_MEDIANS["host"] * CANARY_DEGRADED_FACTOR
        )

        total = round(sum(queries.values()), 3)
        print(
            json.dumps(
                {
                    "metric": "headline_total_sec",
                    "value": total,
                    "unit": "sec",
                    "queries": queries,
                    "extra_queries": extra,
                    "sf": sf,
                    "cpus": args.cpus,
                    "extraction_docs": n_docs,
                    "extraction_docs_per_sec": flagship["docs_per_sec"],
                    # r02+: the flagship writes BOTH tables from one kernel
                    # pass (r01 measured the spans output only)
                    "extraction_outputs": "extracted_spans+invoices",
                    "table_lifecycle": lifecycle,
                    "host_canary_sec": host_canary_sec,
                    "py_canary_sec": py_canary_sec,
                    "io_canary_sec": io_canary_sec,
                    "host_canary_end_sec": host_canary_end_sec,
                    # True when the host window was degraded at start
                    # (despite --canary-retries re-probes) or turned
                    # degraded by the end probe: the timings in this
                    # artifact then overstate engine cost and should not
                    # be compared across rounds without canary scaling.
                    "degraded_window": bool(start_degraded) or end_degraded,
                    # True when the flagship stayed below its healthy
                    # throughput floor even after the cooldown retry —
                    # the sustained-sag case both canaries can miss.
                    "flagship_below_floor": flagship_below_floor,
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
