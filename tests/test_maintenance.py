"""Table maintenance: snapshot tags, the auto-compaction policy and
tag-aware expiry.

Invariant: a tag pins rows across later deliveries, upserts, and
compactions (until retention strips the history it points into).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.sources import manifests as mf


def _delivery(spark, lo: int, n: int):
    return spark.range(lo, lo + n).select(
        F.format_string("d%05d", F.col("id")).alias("doc_id"),
        F.col("id").cast("long").alias("v"),
    )


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_tag_pins_snapshot_across_deliveries_and_compaction(spark, tmp_path):
    out = str(tmp_path / "t")
    mf.checkpointed_write(spark, _delivery(spark, 0, 50), out, n_buckets=4,
                          input_snapshot="s1")
    mf.create_tag(out, "v1")
    mf.checkpointed_write(spark, _delivery(spark, 1000, 30), out, n_buckets=4,
                          input_snapshot="s2")

    assert len(_ids(mf.read_tag(spark, out, "v1"))) == 50
    assert len(_ids(mf.read_committed(spark, out))) == 80

    # compaction rewrites the data but the tag still resolves pre-compaction
    mf.compact(spark, out, key_col="doc_id")
    assert len(_ids(mf.read_tag(spark, out, "v1"))) == 50

    # tag CRUD semantics
    with pytest.raises(FileExistsError):
        mf.create_tag(out, "v1")
    mf.create_tag(out, "v1", replace=True)  # moved to now
    assert len(_ids(mf.read_tag(spark, out, "v1"))) == 80
    assert [t["name"] for t in mf.list_tags(out)] == ["v1"]
    assert mf.drop_tag(out, "v1") is True
    assert mf.drop_tag(out, "v1") is False
    with pytest.raises(FileNotFoundError):
        mf.read_tag(spark, out, "v1")
    with pytest.raises(ValueError):
        mf.create_tag(out, "../escape")


def test_maybe_compact_respects_the_epoch_threshold(spark, tmp_path):
    out = str(tmp_path / "t")
    for i in range(3):
        mf.checkpointed_write(
            spark, _delivery(spark, i * 100, 20), out, n_buckets=2,
            input_snapshot=f"s{i}",
        )
    # 3 live epochs <= threshold: policy declines, table untouched
    res = mf.maybe_compact(spark, out, max_live_epochs=3)
    assert res == {"skipped": True, "live_epochs": 3}
    # threshold crossed: the policy compacts and reports both facts
    res = mf.maybe_compact(spark, out, max_live_epochs=2, key_col="doc_id")
    assert res["skipped"] is False and res["live_epochs"] == 3
    assert res["epochs_compacted"] == 3 and res["new_epoch"]
    assert len(_ids(mf.read_committed(spark, out))) == 60
    # post-compaction: one live epoch, policy declines again
    res = mf.maybe_compact(spark, out, max_live_epochs=2)
    assert res == {"skipped": True, "live_epochs": 1}


def test_maybe_compact_on_missing_table(spark, tmp_path):
    res = mf.maybe_compact(spark, str(tmp_path / "nope"), max_live_epochs=1)
    assert res == {"skipped": True, "live_epochs": 0}


def test_expire_respects_live_tags(spark, tmp_path):
    import time as _time

    out = str(tmp_path / "t")
    mf.checkpointed_write(spark, _delivery(spark, 0, 30), out, n_buckets=2,
                          input_snapshot="s1")
    mf.create_tag(out, "training-v1")
    pinned = _ids(mf.read_tag(spark, out, "training-v1"))
    mf.checkpointed_write(spark, _delivery(spark, 1000, 20), out, n_buckets=2,
                          input_snapshot="s2")
    mf.compact(spark, out, key_col="doc_id")

    # aggressive retention, but the tag pins history: nothing removed
    res = mf.expire(spark, out, older_than=_time.time() + 10)
    assert res["data_epoch_dirs_removed"] == 0
    assert _ids(mf.read_tag(spark, out, "training-v1")) == pinned

    # drop the tag: the same sweep now strips the superseded epochs
    mf.drop_tag(out, "training-v1")
    res = mf.expire(spark, out, older_than=_time.time() + 10)
    assert res["data_epoch_dirs_removed"] > 0
    assert len(_ids(mf.read_committed(spark, out))) == 50

    # respect_tags=False would have ignored the pin (documented escape)

