#!/usr/bin/env python
"""The interleaved multimodal training-data job (spark-submit entrypoint).

    spark-submit --master <cluster> --py-files ocr_spark.zip \
        jobs/interleaved.py --docs <dir>/documents --out /data/sequences \
        --snapshot snap-2026-08-20 \
        [--bench <parquet> --ngram 8 --min-hits 1] \
        [--budget 2048 --media-tokens 64] \
        [--captions-out /data/captions] [--clean-out /data/clean_docs] \
        [--export-out /data/examples] \
        [--buckets 64]

Reads the interleaved documents table (doc_id, spans[]) and runs the
multimodal last mile over it as ONE lineage:

1. span-granular decontamination (``--bench``): contaminated TEXT spans
   drop, media spans and interleaving order survive; fully-contaminated
   docs (empty span array) leave the corpus;
2. MMC4-style greedy sequence packing (``--budget``/``--media-tokens``):
   media spans atomic at the fixed projector token budget — emits the
   per-sequence manifest a multimodal loader consumes;
3. optional CLIP caption-pair mining (``--captions-out``) and the
   cleaned interleaved table itself (``--clean-out``).

Every output goes through the manifest-checkpointed sink: a killed run
re-submitted with the SAME --snapshot resumes at bucket granularity and
is exactly-once for every table (the jobs/extract.py protocol).

Local smoke:
    python jobs/interleaved.py --docs .bench/synth_5000/documents \
        --out /tmp/seqs --snapshot s1
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
    ap.add_argument("--docs", required=True, help="interleaved documents parquet")
    ap.add_argument("--out", required=True, help="packed-sequence manifest-sink root")
    ap.add_argument("--snapshot", required=True, help="input snapshot id (resume key)")
    ap.add_argument(
        "--bench",
        default=None,
        help="benchmark parquet (bench_id, text): span-granular "
        "decontamination before packing",
    )
    ap.add_argument("--ngram", type=int, default=8)
    ap.add_argument("--min-hits", type=int, default=1)
    ap.add_argument("--budget", type=int, default=2048)
    ap.add_argument("--media-tokens", type=int, default=64)
    ap.add_argument(
        "--captions-out",
        default=None,
        help="also mine CLIP caption pairs (nearest text neighbors per "
        "media span) into this manifest-sink root",
    )
    ap.add_argument(
        "--clean-out",
        default=None,
        help="also write the decontaminated interleaved table itself",
    )
    ap.add_argument(
        "--export-out",
        default=None,
        help="also write the packed-sequence PAYLOAD table (per-sequence "
        "in-order text + media refs — the training examples themselves) "
        "through the same checkpointed sink",
    )
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--master", default=None, help="override (default: env/local)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ocr_spark.operators import curation, quality
    from ocr_spark.operators.multimodal import media_captions
    from ocr_spark.schemas import DOCUMENTS
    from ocr_spark.session import get_spark
    from ocr_spark.sources.manifests import checkpointed_write

    spark = get_spark("ocr_spark_interleaved", master=args.master)
    t0 = time.monotonic()
    docs = spark.read.schema(DOCUMENTS).parquet(args.docs)
    if args.bench:
        bench = spark.read.parquet(args.bench)
        docs = curation.decontaminate_spans(
            docs, bench, n=args.ngram, min_hits=args.min_hits
        ).filter(F.size("spans") > 0)
    if args.captions_out or args.clean_out or args.export_out:
        docs = docs.persist()  # else each output re-reads and re-decontaminates
    packed = quality.pack_interleaved(
        docs, budget=args.budget, media_tokens=args.media_tokens
    )
    stats = checkpointed_write(
        spark,
        packed,
        args.out,
        n_buckets=args.buckets,
        input_snapshot=args.snapshot,
    )
    for flag, frame in [
        (args.captions_out, media_captions(docs) if args.captions_out else None),
        (args.clean_out, docs if args.clean_out else None),
        (
            args.export_out,
            quality.pack_interleaved_export(
                docs, budget=args.budget, media_tokens=args.media_tokens
            )
            if args.export_out
            else None,
        ),
    ]:
        if flag:
            s = checkpointed_write(
                spark, frame, flag, n_buckets=args.buckets,
                input_snapshot=args.snapshot,
            )
            stats[flag] = {
                k: s[k] for k in ("buckets_written", "buckets_skipped", "rows")
            }
    docs.unpersist()
    stats["wall_sec"] = round(time.monotonic() - t0, 2)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
