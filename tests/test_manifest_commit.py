"""Cost and contract of one manifest-sink commit.

* a ``checkpointed_write`` runs a fixed, small number of Spark jobs
  (counted per call through its job group);
* its return dict agrees with the manifest rows it committed, and one
  epoch's manifest rows land in exactly one parquet file (the commit
  point);
* manifests written before ``col_stats``, ``key_bloom`` and
  ``committed_at`` existed read exactly as a ``mergeSchema`` read of
  them does;
* a metadata read error other than a missing path propagates.
"""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from ocr_spark.sources import manifests as mf
from tests.spark_jobs import counted

N_BUCKETS = 8

# jobs per commit on a 200-row frame at local[4]; the write used to take
# 8 / 12 / 8 / 12 / 14 when it inferred manifest schemas, counted the
# resume set and then anti-joined it, and re-read the manifest directory
JOB_BUDGET = {"first": 6, "second": 7, "replay": 3, "partial": 7, "resume": 7}


def _frame(spark, tag: str, n: int = 200):
    return spark.range(n).select(
        F.format_string(f"{tag}%05d", F.col("id")).alias("doc_id"),
        F.col("id").alias("v"),
    )


def _partial(df):
    return mf.with_bucket(df, N_BUCKETS).filter(F.col("bucket") < 4).drop("bucket")


def _commit_rows(spark, out, epoch):
    """The committed manifest rows of one epoch, with the file each sits in."""
    return (
        spark.read.parquet(os.path.join(out, "manifests"))
        .filter(F.col("job_epoch") == epoch)
        .select("row_count", F.input_file_name().alias("f"))
        .collect()
    )


def test_commit_job_budget(spark, tmp_path):
    out = str(tmp_path / "t")
    a, b, c = (_frame(spark, t) for t in "abc")
    cases = [
        ("first", a, "s1"),
        ("second", b, "s2"),
        ("replay", a, "s1"),
        ("partial", _partial(c), "s3"),
        ("resume", c, "s3"),
    ]
    jobs, results = {}, {}
    for name, df, snap in cases:
        results[name], jobs[name] = counted(
            spark, lambda: mf.checkpointed_write(spark, df, out, N_BUCKETS, snap)
        )
    assert {k: v <= JOB_BUDGET[k] for k, v in jobs.items()} == dict.fromkeys(
        JOB_BUDGET, True
    ), jobs
    assert results["replay"]["rows"] == 0
    assert results["replay"]["buckets_skipped"] == N_BUCKETS
    assert results["partial"]["rows"] + results["resume"]["rows"] == 200
    assert results["resume"]["buckets_skipped"] == results["partial"]["buckets_written"]
    assert mf.read_committed(spark, out).count() == 600


def test_return_dict_matches_one_file_commit(spark, tmp_path):
    out = str(tmp_path / "t")
    docs = _frame(spark, "r")
    fresh = mf.checkpointed_write(spark, _partial(docs), out, N_BUCKETS, "s1")
    resume = mf.checkpointed_write(spark, docs, out, N_BUCKETS, "s1")
    skipped = mf.checkpointed_write(spark, docs, out, N_BUCKETS, "s1")
    assert resume["buckets_skipped"] == fresh["buckets_written"] > 0
    assert skipped["buckets_skipped"] == N_BUCKETS

    for res in (fresh, resume, skipped):
        assert set(res) == {"epoch", "buckets_written", "buckets_skipped", "rows"}
        rows = _commit_rows(spark, out, res["epoch"])
        assert res["buckets_written"] == len(rows)
        assert res["rows"] == sum(r["row_count"] for r in rows)
        assert len({r["f"] for r in rows}) == (1 if rows else 0)
    assert fresh["rows"] + resume["rows"] == 200
    assert skipped == {**skipped, "buckets_written": 0, "rows": 0}
    committed = mf.read_committed(spark, out, "s1")
    assert committed.count() == committed.select("doc_id").distinct().count() == 200


def _strip(spark, path, cols):
    """Rewrite a metadata directory as a writer from before ``cols``
    existed would have left it."""
    tmp = path + ".legacy"
    spark.read.parquet(path).drop(*cols).write.parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)


_NEW_COLS = ["col_stats", "key_bloom", "committed_at"]


def _merged(spark, path):
    return spark.read.option("mergeSchema", "true").parquet(path)


def _rows(df, cols=None):
    return sorted(
        (tuple(r) for r in df.select(*(cols or sorted(df.columns))).collect()), key=repr
    )


def _expected_live(spark, out, as_of=None):
    """The live manifest rows, resolved in Python from mergeSchema reads."""
    ms, cs = (
        [r.asDict() for r in _merged(spark, os.path.join(out, d)).collect()]
        for d in ("manifests", "compactions")
    )

    def visible(r):
        stamp = r.get("committed_at")
        return as_of is None or stamp is None or stamp <= as_of

    ms, cs = [r for r in ms if visible(r)], [r for r in cs if visible(r)]
    sup = {e for r in cs for e in r["superseded"]}
    cols = sorted(set(ms[0]) | set(cs[0]) - {"superseded"})
    return cols, sorted(
        (tuple(r.get(c) for c in cols) for r in ms + cs if r["job_epoch"] not in sup),
        key=repr,
    )


def _expected_data(spark, out, live_cols, live_rows):
    keys = {(r[live_cols.index("bucket")], r[live_cols.index("job_epoch")]) for r in live_rows}
    data = _merged(spark, os.path.join(out, "data")).collect()
    return sorted(
        (r["doc_id"], r["v"]) for r in data if (r["bucket"], r["epoch"]) in keys
    )


def test_manifests_from_older_tables_read_like_merge_schema(spark, tmp_path):
    out = str(tmp_path / "t")
    # an old writer: no zone maps, no blooms, no commit stamps
    mf.checkpointed_write(spark, _frame(spark, "o", 60), out, N_BUCKETS, "old")
    _strip(spark, os.path.join(out, "manifests"), _NEW_COLS)
    mf.checkpointed_write(
        spark, _frame(spark, "n", 60), out, N_BUCKETS, "new",
        stats_cols=["v"], bloom_key=True,
    )
    # an old compaction record over both, then a delivery after it
    mf.compact(spark, out)
    _strip(spark, os.path.join(out, "compactions"), _NEW_COLS)
    mid = time.time()
    time.sleep(0.01)
    mf.checkpointed_write(
        spark, _frame(spark, "p", 60), out, N_BUCKETS, "post",
        stats_cols=["v"], bloom_key=True,
    )

    merged_m = _merged(spark, os.path.join(out, "manifests"))
    got_m = mf.read_manifests(spark, out)
    assert sorted(got_m.columns) == sorted(merged_m.columns)
    assert _rows(got_m) == _rows(merged_m)

    cols, live = _expected_live(spark, out)
    active = mf.active_manifests(spark, out)
    assert sorted(active.columns) == cols
    assert _rows(active, cols) == live

    want = _expected_data(spark, out, cols, live)
    assert len(want) == 180
    assert _rows(mf.read_committed(spark, out), ["doc_id", "v"]) == want
    assert _rows(mf.read_as_of(spark, out, time.time()), ["doc_id", "v"]) == want
    # the stampless compaction and manifest rows are visible at any instant
    cols_mid, live_mid = _expected_live(spark, out, as_of=mid)
    want_mid = _expected_data(spark, out, cols_mid, live_mid)
    assert len(want_mid) == 120
    assert _rows(mf.read_as_of(spark, out, mid), ["doc_id", "v"]) == want_mid

    keys = ["o00003", "n00007", "p00011", "x00000"]
    assert _rows(mf.lookup_read(spark, out, keys), ["doc_id", "v"]) == [
        r for r in want if r[0] in keys
    ]
    # the live manifests' row counts add up to the rows the table reads
    n_live = active.agg(F.sum("row_count")).collect()[0][0]
    assert n_live == sum(r[cols.index("row_count")] for r in live) == len(want)


def test_corrupt_manifest_propagates(spark, tmp_path):
    """An unreadable manifest file is an error, never "no manifests":
    treating it as a first write would re-append committed buckets."""
    out = str(tmp_path / "t")
    mf.checkpointed_write(spark, _frame(spark, "c", 40), out, N_BUCKETS, "s1")
    with open(os.path.join(out, "manifests", "part-corrupt.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|corrupt|footer|magic"):
        mf.checkpointed_write(spark, _frame(spark, "c", 40), out, N_BUCKETS, "s1")
