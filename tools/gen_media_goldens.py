"""Golden parquets for the media catalog queries (same pinning scheme as
tools/gen_pipeline_golden.py): the multimodal operators are deterministic
functions of the synthetic payloads, so their exact outputs are committed
and DuckDB reads them back for the driver's hash compare.  Regenerate
after any multimodal/synth change.

The media_dedup golden does not come from the Spark path it pins: it is a
pure-pandas ``hashlib.md5`` groupby over the same synth payloads, with
q_media_dedup's extra-ref rule restated in Python.

Usage: python tools/gen_media_goldens.py
"""

from __future__ import annotations

import hashlib
import shutil
import sys
import tempfile
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

FIXTURES = REPO / "tests" / "fixtures"

MEDIA_DEDUP_SCHEMA = pa.schema([
    pa.field("payload_md5", pa.string()),
    pa.field("n_refs", pa.int64(), nullable=False),
    pa.field("keeper_ref", pa.string()),
    pa.field("n_bytes", pa.int64()),
])


def media_dedup_golden() -> pa.Table:
    """q_media_dedup restated in pandas: the 100 synth docs' media
    (queries._synth_docs_media), plus a ``<ref>:b`` copy of every ref
    whose md5 hex starts below "6", grouped by payload md5 into
    (n_refs, keeper_ref = min ref, n_bytes), ordered by payload_md5."""
    from ocr_spark.synth import synth_frames

    _docs, media = synth_frames(100)
    extra = media[
        media["media_ref"].map(lambda r: hashlib.md5(r.encode()).hexdigest()[0] < "6")
    ]
    rows = pd.concat(
        [media, extra.assign(media_ref=extra["media_ref"] + ":b")], ignore_index=True
    )
    rows["payload_md5"] = rows["payload"].map(lambda p: hashlib.md5(p).hexdigest())
    rows["n_bytes"] = rows["payload"].map(len)
    out = (
        rows.groupby("payload_md5", as_index=False)
        .agg(n_refs=("media_ref", "size"), keeper_ref=("media_ref", "min"),
             n_bytes=("n_bytes", "max"))
        .sort_values("payload_md5")
    )
    return pa.Table.from_pandas(out, schema=MEDIA_DEDUP_SCHEMA, preserve_index=False)


def main() -> None:
    from ocr_spark.queries import (
        q_audio_features,
        q_audio_resample,
        q_media_features,
        q_media_frame_sample,
        q_media_resize,
    )
    from ocr_spark.session import get_spark

    spark = get_spark("gen_media_goldens", master="local[4]", shuffle_partitions=4)
    try:
        for name, fn, order in [
            ("media_features", q_media_features, ["media_ref"]),
            ("media_resize", q_media_resize, ["media_ref"]),
            ("media_frame_sample", q_media_frame_sample, ["media_ref", "frame_no"]),
            ("audio_features", q_audio_features, ["media_ref"]),
            ("audio_resample", q_audio_resample, ["media_ref"]),
        ]:
            out = fn(spark, sf_dir="unused")
            with tempfile.TemporaryDirectory() as tmp:
                out.orderBy(*order).coalesce(1).write.mode("overwrite").parquet(tmp + "/g")
                part = next(Path(tmp, "g").glob("part-*.parquet"))
                dest = FIXTURES / f"{name}_golden.parquet"
                shutil.copyfile(part, dest)
            print(f"wrote {dest} ({out.count()} rows)")
    finally:
        spark.stop()
    dest = FIXTURES / "media_dedup_golden.parquet"
    golden = media_dedup_golden()
    pq.write_table(golden, dest)
    print(f"wrote {dest} ({golden.num_rows} rows)")


if __name__ == "__main__":
    main()
