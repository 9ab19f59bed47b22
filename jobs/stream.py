#!/usr/bin/env python
"""The streaming extraction job (spark-submit entrypoint) — the tailing
form of jobs/extract.py.

    spark-submit --master <cluster> --py-files ocr_spark.zip \
        jobs/stream.py --docs <dir>/documents --media <dir>/media \
        --out /data/extracted --checkpoint /data/ckpt \
        [--available-now] [--buckets 64]

`readStream` over the documents directory (new files = new micro-batches),
the SAME FIELDS dataflow as batch (`fields_dataflow`), `foreachBatch`
into the manifest-checkpointed sink. `--available-now` drains the backlog and exits (the
backfill-then-tail deployment: run once with it, then again without to
tail). Restarts resume from the Spark checkpoint AND the manifest
anti-join, so replayed micro-batches are idempotent; snapshot keys are
namespaced per stream (hash of the checkpoint dir), so multiple streams
can share an output directory.

Local smoke:
    python jobs/stream.py --docs .bench/synth_500/documents \
        --media .bench/synth_500/media --out /tmp/stream_out \
        --checkpoint /tmp/stream_ckpt --available-now
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
    ap.add_argument("--docs", required=True, help="documents parquet dir (streamed)")
    ap.add_argument("--media", default=None, help="media parquet dir/file (static side)")
    ap.add_argument("--out", required=True, help="output root (data/ + manifests/)")
    ap.add_argument("--checkpoint", required=True, help="Spark checkpoint dir")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--num-partitions", type=int, default=8)
    ap.add_argument("--available-now", action="store_true", help="drain backlog and exit")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from ocr_spark.corpus import COMPANIES, SUPPLIERS
    from ocr_spark.schemas import MEDIA
    from ocr_spark.session import get_spark
    from ocr_spark.sources.manifests import read_manifests
    from ocr_spark.streaming.pipeline import run_stream

    spark = get_spark("ocr_spark_stream", master=args.master)
    t0 = time.monotonic()
    media = spark.read.schema(MEDIA).parquet(args.media) if args.media else None
    query = run_stream(
        spark,
        args.docs,
        media,
        args.out,
        args.checkpoint,
        companies=COMPANIES,
        suppliers=SUPPLIERS,
        num_partitions=args.num_partitions,
        n_buckets=args.buckets,
        available_now=args.available_now,
    )
    if not args.available_now:
        query.awaitTermination()
    m = read_manifests(spark, args.out)
    stats = {
        "wall_sec": round(time.monotonic() - t0, 2),
        "manifested_buckets": m.count() if m is not None else 0,
    }
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
