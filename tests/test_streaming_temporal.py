"""Stream-static as-of enrichment equals the batch as-of join over the
whole input, across micro-batch boundaries."""

from __future__ import annotations

import warnings

import pandas as pd
from pyspark.sql import functions as F

from ocr_spark.operators.temporal import asof_join
from ocr_spark.streaming.temporal import asof_enrich_writer

SF_DIR = "/root/testdata/sf0.001"
EV_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


class _few_state_partitions:
    """Run a streaming query with 4 shuffle partitions instead of the
    session's 32: stream-stream joins keep one state store PER shuffle
    partition PER side, and each micro-batch checkpoints all of them —
    at 32 partitions × several micro-batches that is hundreds of state
    files whose fsync cost, not compute, made these tests exceed a
    600 s drain under full-suite disk pressure (passes in ~20 s
    isolated; the data is a few hundred rows). The partition count is
    captured into the checkpoint at first start, so setting it around
    `.start()` is sufficient and the session value is restored after."""

    def __init__(self, spark, n=4):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


def test_stream_asof_equals_batch(spark, tmp_path):
    src = str(tmp_path / "ev_src")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev.withColumn("_b", F.col("event_id") % 4).repartition(4, "_b").drop(
        "_b"
    ).write.mode("overwrite").parquet(src)

    # static dimension: each user's signup events as versioned attributes
    dim = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("dim_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )

    stream = (
        spark.readStream.schema(EV_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out: list = []
    q = (
        asof_enrich_writer(
            stream.filter(F.col("event_type") == "purchase").select(
                "user_id", "event_id", "ts"
            ),
            dim,
            sink=lambda df, bid: out.extend(df.collect()),
            on="user_id",
            right_cols=["dim_id"],
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "streaming query did not drain in time"

    want = asof_join(purchases, dim, on="user_id", right_cols=["dim_id"]).collect()
    key = lambda rows: sorted((r.event_id, r.dim_id, r.matched_ts) for r in rows)
    assert key(out) == key(want)
    assert len(out) == purchases.count()


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """True stream-stream join: clicks x purchases per user within
    [0, 30 min], both sides watermarked file streams — the drained
    result must equal the batch join under the identical condition."""
    from ocr_spark.streaming.temporal import interval_join_stream

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("buy_id"), "ts"
    )
    lsrc, rsrc = str(tmp_path / "clicks"), str(tmp_path / "buys")
    clicks.withColumn("_b", F.col("click_id") % 3).repartition(3, "_b").drop(
        "_b"
    ).write.mode("overwrite").parquet(lsrc)
    buys.withColumn("_b", F.col("buy_id") % 3).repartition(3, "_b").drop(
        "_b"
    ).write.mode("overwrite").parquet(rsrc)

    ls = spark.readStream.schema("user_id long, click_id long, ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(lsrc)
    rs = spark.readStream.schema("user_id long, buy_id long, ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(rsrc)
    # The watermark covers the events' whole 30-day span. Each source file
    # spans that range, and the file source reads files in mtime order,
    # which the parallel write above leaves to task timing. With a
    # 2-hour watermark the first micro-batch pushed it to the range's end,
    # every later file's rows were late, and the result (0 rows in two
    # full-suite runs, both pairs when run alone) followed the file order.
    joined = interval_join_stream(
        ls, rs, on="user_id", before_sec=0, after_sec=1800, watermark="31 days"
    )

    def _drain(attempt: int) -> set:
        name = f"ssj{attempt}"
        with _few_state_partitions(spark):
            q = (
                joined.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / f"ck{attempt}"))
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(900), "streaming query did not drain in time"
        return {
            (r["user_id"], r["click_id"], r["buy_id"])
            for r in spark.sql(f"select * from {name}").collect()
        }

    got = _drain(0)
    if not got:
        # Observed once under a heavily loaded host: the availableNow
        # stream-stream join "completed" with zero rows emitted while the
        # identical run in isolation (and the batch twin) produces the
        # matches.  One fresh-checkpoint retry distinguishes that host
        # race from a real correctness regression — the equality assert
        # below stays strict either way.
        warnings.warn(
            "stream-stream interval join drained zero rows on its first run;"
            " retrying once with a fresh checkpoint",
            RuntimeWarning,
        )
        got = _drain(1)

    want = {
        (r["user_id"], r["click_id"], r["buy_id"])
        for r in clicks.alias("l")
        .join(
            buys.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 1800 SECONDS")),
            "inner",
        )
        .collect()
    }
    assert got == want and len(want) > 0


def test_stream_stream_asof_equals_batch(spark, tmp_path):
    """TRUE stream-stream as-of (latest-before): purchases stream joined
    to the latest signup-version row at-or-before each purchase, both
    sides file streams split across micro-batches; the drained result
    must equal the batch asof_join. A far-future sentinel row (written
    with a later mtime so it lands in the final micro-batch) advances
    the watermark past every real event, which both exercises the
    event-time-timeout flush path and makes every real left row final."""
    import time

    from ocr_spark.streaming.temporal import asof_join_stream

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    dim = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("dim_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("buy_id"), "ts"
    )
    bounds = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    range_sec = int((bounds.hi - bounds.lo).total_seconds()) + 60
    delay = f"{range_sec} seconds"  # nothing is late until the sentinel

    lsrc, rsrc = str(tmp_path / "buys"), str(tmp_path / "dim")
    purchases.withColumn("_b", F.col("buy_id") % 3).repartition(3, "_b").drop(
        "_b"
    ).write.mode("overwrite").parquet(lsrc)
    dim.withColumn("_b", F.col("dim_id") % 3).repartition(3, "_b").drop(
        "_b"
    ).write.mode("overwrite").parquet(rsrc)
    time.sleep(1.2)  # sentinel file must sort after the data files (mtime)
    sentinel_ts = bounds.hi + pd.Timedelta(seconds=2 * range_sec + 120)
    spark.createDataFrame(
        [(-1, -1, sentinel_ts)], "user_id long, buy_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(lsrc)

    ls = spark.readStream.schema("user_id long, buy_id long, ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(lsrc)
    rs = spark.readStream.schema("user_id long, ts timestamp, dim_id long").option(
        "maxFilesPerTrigger", 1
    ).parquet(rsrc)
    joined = asof_join_stream(
        ls, rs, on="user_id", right_cols=["dim_id"], watermark=delay
    )
    with _few_state_partitions(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName("ssasof")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(900), "streaming query did not drain in time"
    got = {
        (r["user_id"], r["buy_id"], r["matched_ts"], r["dim_id"])
        for r in spark.sql("select * from ssasof where user_id >= 0").collect()
    }
    want = {
        (r["user_id"], r["buy_id"], r["matched_ts"], r["dim_id"])
        for r in asof_join(
            purchases, dim, on="user_id", right_cols=["dim_id"]
        ).collect()
    }
    assert got == want and len(want) > 0
    # matched rows exist AND unmatched lefts survive with nulls (left-outer)
    assert any(m is not None for (_, _, m, _) in got)
