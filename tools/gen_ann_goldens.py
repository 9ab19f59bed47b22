"""Golden parquets for the LSH/IVF ANN catalog queries.

Both operators are deterministic — md5-derived hyperplanes
(ocr_spark/operators/similarity.py:_hyperplane) and md5-seeded IVF
centroids with 6-dp-rounded sims — over the deterministic synthetic
embeddings (queries._synth_embeddings), so their outputs pin exactly like
the media-op goldens (tools/gen_media_goldens.py): this tool runs the
exact catalog queries and commits the results; the oracle SQL is then a
DuckDB read-back of the golden, and the driver's hash compare catches any
drift.

A refactor of the ANN operators must leave these goldens byte-identical.
A golden that moves under a change meant to keep behaviour is a program
defect to fix, not a file to regenerate; regenerate only for a deliberate
change of ANN semantics or of the synth embedding construction, and say
why in the change that does it.

Usage: python tools/gen_ann_goldens.py
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

FIXTURES = REPO / "tests" / "fixtures"


def main() -> None:
    from ocr_spark.queries import (
        q_ivf_ann_topk,
        q_ivfadc_ann_topk,
        q_lsh_ann_topk,
        q_pq_ann_topk,
    )
    from ocr_spark.session import get_spark

    only = set(sys.argv[1:])  # optional: regenerate just the named goldens
    spark = get_spark("gen_ann_goldens", master="local[4]", shuffle_partitions=4)
    try:
        for name, fn in [
            ("lsh_ann_topk", q_lsh_ann_topk),
            ("ivf_ann_topk", q_ivf_ann_topk),
            ("pq_ann_topk", q_pq_ann_topk),
            ("ivfadc_ann_topk", q_ivfadc_ann_topk),
        ]:
            if only and name not in only:
                continue
            out = fn(spark, sf_dir="unused")
            with tempfile.TemporaryDirectory() as tmp:
                # single file, sorted — byte-stable regeneration
                out.orderBy("query_id", "rank").coalesce(1).write.mode(
                    "overwrite"
                ).parquet(tmp + "/g")
                part = next(Path(tmp, "g").glob("part-*.parquet"))
                dest = FIXTURES / f"{name}_golden.parquet"
                shutil.copyfile(part, dest)
            print(f"wrote {dest} ({out.count()} rows)")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
