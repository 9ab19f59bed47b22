#!/usr/bin/env python
"""The production extraction job (spark-submit entrypoint).

    spark-submit --master <cluster> --py-files ocr_spark.zip \
        jobs/extract.py --docs <dir>/documents --media <dir>/media \
        --out /data/extracted --snapshot snap-2026-08-17 \
        [--buckets 4096] [--page-split-bytes N] [--salt 0]

Reads the interleaved documents table (doc_id, spans[]) plus the media
payload side table, runs the shared-FIELDS extraction pipeline, and writes
extracted_spans through the manifest-checkpointed sink — a killed run
re-submitted with the SAME --snapshot resumes at bucket granularity
(completed buckets are anti-joined away; orphan files from crashed epochs
stay invisible to readers).

Local smoke:
    python jobs/extract.py --docs .bench/synth_5000/documents \
        --media .bench/synth_5000/media --out /tmp/extracted --snapshot s1
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="documents parquet dir/file")
    ap.add_argument("--media", default=None, help="media parquet dir/file")
    ap.add_argument("--out", required=True, help="output root (data/ + manifests/)")
    ap.add_argument("--snapshot", required=True, help="input snapshot id (resume key)")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--salt", type=int, default=0)
    ap.add_argument("--page-split-bytes", type=int, default=None)
    ap.add_argument(
        "--invoices-out",
        default=None,
        help="also write the flat invoices table (manifest-sink root); the "
        "shared-FIELDS pipeline derives it from the SAME kernel execution as "
        "the spans output — writing both costs one extraction pass, not two",
    )
    ap.add_argument(
        "--goals-out",
        default=None,
        help="also write the invoice_goals table (manifest-sink root)",
    )
    ap.add_argument(
        "--ml-data-out",
        default=None,
        help="also write the invoice_ml_data training table (manifest-sink root)",
    )
    ap.add_argument(
        "--fields-staging",
        default=None,
        help="write the kernel FIELDS output to this manifest-sink staging "
        "dir and derive every output from the committed re-read instead of "
        "an executor-storage persist — the safe form when the run outlives "
        "executor storage; a resumed run re-runs only unmanifested buckets "
        "of the kernel itself",
    )
    ap.add_argument(
        "--stats-cols",
        default=None,
        help="comma-separated columns to zone-map in every output's "
        "manifests (columns absent from a given table are skipped); "
        "enables pruned_read range slicing, e.g. invoice_date on the "
        "invoices table",
    )
    ap.add_argument("--master", default=None, help="override (default: env/local)")
    args = ap.parse_args()

    from ocr_spark.corpus import COMPANIES, SUPPLIERS
    from ocr_spark.operators.extract import build_pipeline, build_pipeline_staged
    from ocr_spark.schemas import DOCUMENTS, MEDIA
    from ocr_spark.session import get_spark
    from ocr_spark.sources.manifests import checkpointed_write

    spark = get_spark("ocr_spark_extract", master=args.master)
    t0 = time.monotonic()
    docs = spark.read.schema(DOCUMENTS).parquet(args.docs)
    media = spark.read.schema(MEDIA).parquet(args.media) if args.media else None
    common = dict(
        companies=COMPANIES,
        suppliers=SUPPLIERS,
        salt=args.salt,
        page_split_bytes=args.page_split_bytes,
        # raw_text doubles the FIELDS payload; only materialize it when
        # the ML-data output will be written
        with_raw_text=bool(args.ml_data_out),
    )
    if args.fields_staging:
        frames = build_pipeline_staged(
            spark, docs, media, args.fields_staging, args.snapshot,
            n_buckets=args.buckets, **common,
        )
    else:
        frames = build_pipeline(spark, docs, media, **common)
    stats_cols = args.stats_cols.split(",") if args.stats_cols else None
    stats = checkpointed_write(
        spark,
        frames.extracted_spans,
        args.out,
        n_buckets=args.buckets,
        input_snapshot=args.snapshot,
        stats_cols=stats_cols,
    )
    # every side output goes through the SAME manifest protocol (VERDICT
    # r02 #3: a plain overwrite beside a checkpointed spans write meant a
    # crash between the two left committed spans and missing invoices with
    # no resume marker) — resumed runs are exactly-once for every table.
    # named, not read: PipelineFrames builds an output's plan on first access
    for flag, name, key in [
        (args.invoices_out, "invoices", "doc_id"),
        (args.goals_out, "invoice_goals", "invoice_id"),
        (args.ml_data_out, "ml_data", "doc_id"),
    ]:
        if flag:
            s = checkpointed_write(
                spark, getattr(frames, name), flag, n_buckets=args.buckets,
                input_snapshot=args.snapshot, key_col=key,
                stats_cols=stats_cols,
            )
            stats[flag] = {k: s[k] for k in ("buckets_written", "buckets_skipped", "rows")}
    frames.unpersist()
    stats["wall_sec"] = round(time.monotonic() - t0, 2)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
