"""Checkpoint manifests: resumable, partition-granular, exactly-once writes.

North rule: "every partition writes checkpoint manifests with lineage +
row-count/byte metrics ... so a killed run resumes at partition
granularity".  On a cluster this maps onto Iceberg snapshot isolation
(SURVEY.md §4.2 item 3); here the same contract is implemented over plain
parquet with a commit protocol:

* data files land under   ``<out>/data/bucket=<b>/epoch=<e>/...``
* a manifest row (bucket, input_snapshot, row_count, byte_count,
  lineage_hash, job_epoch) is appended under ``<out>/manifests/`` only
  AFTER the data job for that epoch commits;
* readers (:func:`read_committed`) semi-join data on manifested
  (bucket, epoch) pairs, so files from crashed epochs are invisible;
* a resumed run (:func:`checkpointed_write` with the same
  ``input_snapshot``) filters out completed buckets and only
  processes the remainder — no duplicates, idempotent re-runs.

The bucket is the salted doc_id hash partition (north rule), so "resume at
partition granularity" is resume at bucket granularity.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _data_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "data")


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "manifests")


def _filestats_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "filestats")


def _rel_data_path(out_dir: str, file_uri: str) -> str:
    """input_file_name() URI → path relative to the data dir (the
    sidecar's key space, stable under table relocation)."""
    from urllib.parse import unquote, urlparse

    p = unquote(urlparse(file_uri).path) or file_uri
    return os.path.relpath(p, os.path.abspath(_data_dir(out_dir)))


def _write_filestats(out_dir: str, epoch: str, files: dict[str, str]) -> None:
    """Atomically (tmp + rename) persist the per-file zone maps of one
    compacted epoch: {relative_file_path: col_stats_json}. Metadata-sized
    (one entry per written file) and advisory — readers that find no
    sidecar fall back to directory-level pruning."""
    d = _filestats_dir(out_dir)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"epoch={epoch}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"epoch": epoch, "files": files}, f)
    os.replace(tmp, path)


def _load_filestats(out_dir: str, epoch: str) -> dict[str, str] | None:
    path = os.path.join(_filestats_dir(out_dir), f"epoch={epoch}.json")
    try:
        with open(path) as f:
            return json.load(f)["files"]
    except (FileNotFoundError, json.JSONDecodeError, KeyError):
        return None


def _compactions_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "compactions")


def with_bucket(
    df: DataFrame, n_buckets: int, salt: int = 0, key_col: str = "doc_id"
) -> DataFrame:
    return df.withColumn(
        "bucket",
        F.pmod(F.xxhash64(F.col(key_col), F.lit(salt)), F.lit(n_buckets)).cast("int"),
    )


def _meta_path(out_dir: str) -> str:
    return os.path.join(out_dir, "meta.json")


def _write_table_meta(
    out_dir: str, n_buckets: int, salt: int, key_col: str, key_type: str
) -> None:
    """Record the bucketing spec once per table so point-lookup readers
    need no out-of-band parameters. The key's Spark dtype is part of the
    spec: xxhash64 is TYPE-sensitive (hash of long 5 != hash of '5'), so
    a lookup must build its literal keys with the writer's type. First
    writer wins; a later writer with a DIFFERENT spec is a caller bug
    (its rows would land in buckets existing readers never probe), so it
    raises."""
    import json as _json

    path = _meta_path(out_dir)
    spec = {"n_buckets": n_buckets, "salt": salt, "key_col": key_col, "key_type": key_type}
    if os.path.exists(path):
        have = _json.loads(open(path).read())
        if have != spec:
            raise ValueError(
                f"bucketing spec drift for {out_dir}: table has {have}, write used {spec}"
            )
        return
    os.makedirs(out_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(_json.dumps(spec))
    os.replace(tmp, path)


def read_table_meta(out_dir: str) -> dict | None:
    """The table's bucketing spec, or None for pre-meta tables. (Plain
    local-file form, like compact's vacuum step; an object-storage
    deployment swaps in a put-if-absent — one seam, same contract.)"""
    import json as _json

    path = _meta_path(out_dir)
    if not os.path.exists(path):
        return None
    return _json.loads(open(path).read())


# Every column a manifest row has carried over the sink's life. Reading
# with this declared schema instead of mergeSchema inference skips a
# footer-merge job per read; a file written before a column existed
# (col_stats, key_bloom, committed_at) reads it as null.
_MANIFEST_SCHEMA = (
    "bucket int, input_snapshot string, row_count bigint, byte_count bigint, "
    "lineage_hash string, job_epoch string, col_stats string, "
    "committed_at double, key_bloom string"
)
_COMPACTION_SCHEMA = _MANIFEST_SCHEMA + ", superseded array<string>"
_DELETE_MANIFEST_SCHEMA = (
    "epoch string, n_keys bigint, committed_at double, input_snapshot string"
)


def _read_if_exists(spark: SparkSession, path: str, schema: str) -> DataFrame | None:
    """Parquet read of a metadata directory, or None when it does not
    exist yet (first write, never compacted, no deletes). A Hadoop
    ``exists`` call costs ~1.5 ms; letting the read raise
    PATH_NOT_FOUND costs a failed analysis (~60 ms). Every other read
    error propagates: swallowing a genuine failure after a data append
    would skip the manifest rows of committed buckets, and the retry
    would re-append them."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(sc._jsc.hadoopConfiguration()).exists(jpath):
        return None
    return spark.read.schema(schema).parquet(path)


def read_manifests(spark: SparkSession, out_dir: str) -> DataFrame | None:
    return _read_if_exists(spark, _manifest_dir(out_dir), _MANIFEST_SCHEMA)


def read_compactions(spark: SparkSession, out_dir: str) -> DataFrame | None:
    return _read_if_exists(spark, _compactions_dir(out_dir), _COMPACTION_SCHEMA)


def _stats_aggs(stats_cols: list[str]) -> list:
    """Per-group zone-map aggregates: min/max/null-count per tracked
    column (all JVM partial aggs — they ride the same groupBy the
    manifest metrics already pay for; zero extra passes)."""
    aggs = []
    for c in stats_cols:
        aggs += [
            F.min(c).alias(f"_mn_{c}"),
            F.max(c).alias(f"_mx_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"_nl_{c}"),
        ]
    return aggs


def _stats_json(stats_cols: list[str] | None):
    """Serialize the zone map as ONE json string column so the manifest
    schema is stable no matter which (or how many) columns are tracked:
    {"col": {"min": ..., "max": ..., "nulls": n}, ...}. to_json keeps
    numerics as JSON numbers and dates/timestamps as ISO strings, which
    is exactly what the driver-side pruner's comparator expects."""
    if not stats_cols:
        return F.lit(None).cast("string")
    return F.to_json(
        F.struct(
            *[
                F.struct(
                    F.col(f"_mn_{c}").alias("min"),
                    F.col(f"_mx_{c}").alias("max"),
                    F.col(f"_nl_{c}").alias("nulls"),
                ).alias(c)
                for c in stats_cols
            ]
        )
    )


# --------------------------------------------------------------------------
# key bloom filters (per-file-group membership pruning for point lookups)
# --------------------------------------------------------------------------

# 4096 bits / 5 hashes ≈ 1 % false positives at ~400 distinct keys per
# group, ~2.7 % at 1000 — and a group's bloom saturating to all-ones just
# disables pruning for that group, never correctness
_BLOOM_M = 4096
_BLOOM_K = 5

# key dtypes whose Spark cast-to-string the driver can reproduce exactly
# (str(int) == CAST(bigint AS STRING)); float keys are excluded — their
# string forms diverge, and nobody point-looks-up by float
_BLOOM_KEY_TYPES = {"string", "bigint", "int", "smallint", "tinyint"}


def _bloom_positions_expr(key: "F.Column", m: int, k: int) -> "F.Column":
    """array<long> of the k bloom bit positions of a key — salted md5,
    the same portable construction every sketch in this repo uses."""
    return F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{h}:"), key.cast("string"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % m
            for h in range(k)
        ]
    )


def _bloom_frame(
    written: DataFrame, key_col: str, group_cols: list[str], m: int, k: int
) -> DataFrame:
    """Per-group key bloom: ``(group_cols..., key_bloom)`` where
    key_bloom is self-describing JSON ``{"m","k","bits"}`` and bits is
    the m-bit bitmap as m/64 big-endian 16-hex-digit words (word w =
    positions [64w, 64w+63]).

    One keyed agg over the delivery's rows (delivery-sized, not
    table-sized): positions dedupe map-side, pack into ≤ m/64 words per
    group via bit_or, and the hex assembly walks a ≤ m-bit map per
    group — the output is one ~1 KB string per file group."""
    nwords = m // 64
    pos = written.select(
        *group_cols,
        F.explode(_bloom_positions_expr(F.col(key_col), m, k)).alias("pos"),
    ).distinct()
    words = (
        pos.select(
            *group_cols,
            (F.col("pos") / 64).cast("int").alias("word"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy(*group_cols, "word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    wm = F.map_from_entries(F.collect_list(F.struct("word", "bits")))
    hexbits = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), F.lit(nwords - 1)),
            lambda w: F.lpad(F.hex(F.coalesce(F.element_at(F.col("_wm"), w), F.lit(0))), 16, "0"),
        ),
    )
    return (
        words.groupBy(*group_cols)
        .agg(wm.alias("_wm"))
        .select(
            *group_cols,
            F.concat(
                F.lit('{"m":%d,"k":%d,"bits":"' % (m, k)), hexbits, F.lit('"}')
            ).alias("key_bloom"),
        )
    )


def _live_bloom_spec(manifests: DataFrame | None) -> tuple[int, int] | None:
    """(m, k) of the live manifests' key blooms, or None if the table
    never recorded any (one non-null row is representative — a table's
    writers share the spec like they share the bucketing)."""
    if manifests is None:
        return None
    head = (
        manifests.filter(F.col("key_bloom").isNotNull()).select("key_bloom").head(1)
    )
    if not head:
        return None
    spec = json.loads(head[0][0])
    return int(spec["m"]), int(spec["k"])


def _bloom_may_contain(bloom_json: str | None, key_strs: list[str]) -> bool:
    """Driver-side membership test: can this file group contain ANY of
    the keys? None / unparsable bloom → True (pruning is only ever a
    superset guarantee). md5 is engine-portable, so Python reproduces
    the writer's positions exactly."""
    import hashlib

    if not bloom_json:
        return True
    try:
        spec = json.loads(bloom_json)
        m, k, bits_hex = spec["m"], spec["k"], spec["bits"]
        words = [
            int(bits_hex[i * 16 : (i + 1) * 16], 16) for i in range(m // 64)
        ]
    except (ValueError, KeyError, IndexError):
        return True
    for s in key_strs:
        if all(
            (
                words[p // 64] >> (p % 64)
            )
            & 1
            for p in (
                int(hashlib.md5(f"{h}:{s}".encode()).hexdigest()[:15], 16) % m
                for h in range(k)
            )
        ):
            return True
    return False


def _live_view(m: DataFrame | None, c: DataFrame | None) -> DataFrame | None:
    """Manifest rows plus compaction rows, minus every epoch a compaction
    supersedes (a later compaction supersedes an earlier one's epoch the
    same way)."""
    if c is None:
        return m
    sup = c.select(F.explode("superseded").alias("job_epoch")).distinct()
    rows = c.drop("superseded")
    if m is not None:
        rows = m.unionByName(rows)
    return rows.join(F.broadcast(sup), on="job_epoch", how="left_anti")


def active_manifests(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The live manifest view: original manifest rows whose epoch has not
    been superseded by a compaction, plus non-superseded compaction rows.
    All readers and the resume skip go through this view, so a
    compaction is invisible to every consumer except in file counts."""
    return _live_view(read_manifests(spark, out_dir), read_compactions(spark, out_dir))


def completed_buckets(spark: SparkSession, out_dir: str, input_snapshot: str) -> set[int]:
    """Buckets already manifested for this delivery: one collect of the
    metadata-sized live view, deduplicated in the set rather than by a
    distinct shuffle."""
    m = active_manifests(spark, out_dir)
    if m is None:
        return set()
    return {
        r[0]
        for r in m.filter(F.col("input_snapshot") == input_snapshot)
        .select("bucket")
        .collect()
    }


def checkpointed_write(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    n_buckets: int,
    input_snapshot: str,
    salt: int = 0,
    lineage_cols: list[str] | None = None,
    key_col: str = "doc_id",
    stats_cols: list[str] | None = None,
    bloom_key: bool = False,
) -> dict:
    """Write ``df`` bucket-partitioned with manifests, bucketing on
    ``key_col`` (doc_id for document-keyed tables; e.g. invoice_id for
    the goals table, which carries no doc_id).

    ``bloom_key=True`` additionally records a per-bucket bloom filter of
    the key column in the manifest row (self-describing JSON, ~1 KB).
    :func:`lookup_read` then skips (bucket, epoch) groups whose bloom
    rejects every probed key — the within-bucket EPOCH dimension hash
    bucketing can't prune: a year of daily deliveries leaves ~365 live
    epochs per bucket, and a point lookup for last week's keys opens
    ~7 of them instead of all 365 (the Iceberg/Parquet bloom analogue,
    lifted to the manifest so skipped groups are never even listed).
    Costs one extra delivery-sized keyed agg at write time. Requires an
    integer or string key (the driver must reproduce Spark's
    cast-to-string exactly); silently skipped otherwise.

    ``stats_cols`` adds a per-bucket zone map (min/max/null-count for
    each named column) to the manifest row — the Iceberg
    column-stats/manifest-pruning analogue. :func:`pruned_read` uses it
    to skip whole (bucket, epoch) file groups driver-side BEFORE any
    listing or scan. At 100 TB the win is structural: a time predicate
    on an append-mostly table touches only the deliveries whose range
    overlaps, so a "last week" query over a year of dailies lists ~2 %
    of the files instead of all of them. The stats ride the same
    read-back groupBy the row-count metrics already pay for (zero extra
    passes over the data).

    Returns {"epoch", "buckets_written", "buckets_skipped", "rows"}.
    Already-manifested buckets for this input_snapshot are skipped
    (resume semantics); the epoch id isolates this attempt's files.

    A commit costs a fixed number of Spark jobs whatever the delivery
    size: one collect of the resume set, the data write, the manifest
    write (aggregated from this epoch's files, read back with the
    schema the write already knows, so no inference job) and one
    collect of the persisted manifest rows for the return dict — 6 jobs
    for a first write and 7 for a later one at local[4], 3 for a replay
    whose buckets are all done. The manifest rows land as ONE file: the
    commit point, as in :func:`compact`.
    """
    # 'bucket' / 'epoch' / 'input_snapshot' are the sink's own layout
    # columns: withColumn would silently REPLACE a same-named user
    # column and readers strip it — data loss, not an error, unless
    # caught here (found via a curate-job label column named 'bucket')
    reserved = {"bucket", "epoch", "input_snapshot"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"column(s) {sorted(reserved)} are reserved by the manifest "
            "sink layout; rename them before writing"
        )
    epoch = uuid.uuid4().hex[:16]
    _write_table_meta(
        out_dir, n_buckets, salt, key_col, df.schema[key_col].dataType.simpleString()
    )
    # input_snapshot rides IN the data files (dictionary-encodes to ~0
    # bytes: constant per write) so cross-snapshot compaction can merge
    # epochs while readers still slice one delivery out of a merged file
    bucketed = (
        with_bucket(df, n_buckets, salt, key_col)
        .withColumn("epoch", F.lit(epoch))
        .withColumn("input_snapshot", F.lit(input_snapshot))
    )

    done = completed_buckets(spark, out_dir, input_snapshot)
    if done:
        bucketed = bucketed.filter(~F.col("bucket").isin(sorted(done)))
    schema = bucketed.schema  # the read-back's: no inference job

    # cluster rows by bucket before partitionBy: otherwise every task
    # appends a file into every bucket dir (tasks × buckets files — a
    # measured 6-9× small-file storm on the staged-FIELDS path); with the
    # repartition each bucket is one task writing one file
    bucketed = bucketed.repartition(n_buckets, "bucket")
    bucketed.write.partitionBy("bucket", "epoch").mode("append").parquet(_data_dir(out_dir))

    # metrics from the files actually committed this epoch (read-back keeps
    # the manifest honest about what is on disk).  The read targets ONLY
    # this epoch's partition dirs, listed driver-side by one Hadoop glob:
    # listing cost is one readdir per bucket plus this epoch's files — a
    # full unpruned read of <out>/data would LIST every epoch ever written,
    # growing unboundedly on a long-lived output (VERDICT r01 #6).  Reading
    # the listed dirs, not the glob, spares Spark a failed metadata-dir
    # probe of the glob path (a WARN with a stack trace per commit).
    sc = spark.sparkContext
    jglob = sc._jvm.org.apache.hadoop.fs.Path(
        os.path.join(_data_dir(out_dir), "bucket=*", f"epoch={epoch}")
    )
    listed = jglob.getFileSystem(sc._jsc.hadoopConfiguration()).globStatus(jglob) or []
    if not listed:  # no bucket written: all already manifested
        return {
            "epoch": epoch,
            "buckets_written": 0,
            "buckets_skipped": len(done),
            "rows": 0,
        }
    written = (
        spark.read.schema(schema)
        .option("basePath", _data_dir(out_dir))
        .parquet(*[st.getPath().toString() for st in listed])
    )
    lineage_cols = lineage_cols or [
        c for c in df.columns if c not in (key_col, "input_snapshot")
    ]
    stats_cols = [c for c in (stats_cols or []) if c in written.columns]
    lineage_expr = F.xxhash64(key_col, *[F.to_json(F.struct(c)) for c in lineage_cols])
    manifest = (
        written.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.sum(F.octet_length(F.to_json(F.struct(*lineage_cols)))).alias("byte_count"),
            F.bit_xor(lineage_expr).alias("_lh"),  # order-independent, no overflow
            *_stats_aggs(stats_cols),
        )
        .select(
            "bucket",
            F.lit(input_snapshot).alias("input_snapshot"),
            "row_count",
            "byte_count",
            F.conv(F.col("_lh").cast("string"), 10, 16).alias("lineage_hash"),
            F.lit(epoch).alias("job_epoch"),
            _stats_json(stats_cols).alias("col_stats"),
            # wall-clock commit stamp: operational metadata for
            # read_as_of time travel, never part of any data row
            F.lit(time.time()).alias("committed_at"),
        )
    )
    key_type = df.schema[key_col].dataType.simpleString()
    if bloom_key and key_type in _BLOOM_KEY_TYPES:
        blooms = _bloom_frame(written, key_col, ["bucket"], _BLOOM_M, _BLOOM_K)
        manifest = manifest.join(F.broadcast(blooms), on="bucket", how="left")
    else:
        manifest = manifest.withColumn("key_bloom", F.lit(None).cast("string"))
    # single-file append = the atomic commit point; the return dict comes
    # from the same persisted rows instead of a manifest-directory re-read
    manifest = manifest.persist()
    manifest.coalesce(1).write.mode("append").parquet(_manifest_dir(out_dir))
    counts = [r[0] for r in manifest.select("row_count").collect()]  # one row per bucket
    manifest.unpersist()
    return {
        "epoch": epoch,
        "buckets_written": len(counts),
        "buckets_skipped": len(done),
        "rows": sum(counts),
    }


def _with_zorder_key(df: DataFrame, cols: list[str], bits: int = 6) -> DataFrame:
    """Append a ``_zkey`` column: the Morton (Z-order) interleaving of the
    cluster columns' equi-depth bucket ids — the Delta ``OPTIMIZE ZORDER``
    / Iceberg z-order rewrite analogue, built entirely from JVM-side
    expressions.

    Lexicographic multi-column clustering only localizes the FIRST
    column; every later column's per-file min/max spans the whole domain
    except within ties of the leader, so file-level zone maps cannot
    prune on it. Z-ordering interleaves the bit patterns of all cluster
    columns' rank-bucket ids, so a sorted run of ``_zkey`` is a z-curve
    segment — a compact rectangle-ish region whose min/max are tight on
    EVERY z column at once (each file spans ~domain/2^(k/ncols) per
    column instead of the full domain).

    Rank normalization is equi-depth, not equi-width: per column,
    2^bits−1 quantile boundaries come from one sampled
    ``approxQuantile`` pass (driver-bounded: ≤63 doubles per column by
    default — the RangePartitioner-style sampling Delta's z-order uses),
    and the bucket id is a linear ``when``-chain over those literal
    boundaries (each branch references the value once — no
    expression-tree doubling; 64 branches is well inside plan-analysis
    comfort, unlike the centroid-literal ceiling). Skewed or constant
    columns degrade gracefully: tied boundaries dedupe to fewer buckets.

    Z columns must be numeric, timestamp, or date (rank order is what
    the curve preserves; hashing strings would destroy the range
    locality that makes pruning work) — strings raise.

    The interleaved key must fit a signed 64-bit long: ``bits * ncols``
    is clamped to 63 (JVM shift amounts wrap mod 64, which would
    silently scramble the sort order — clustering quality, not
    correctness: zone maps are measured from file contents so pruning
    stays superset-safe either way). With many cluster columns each
    column simply gets fewer bits (``63 // ncols``), mirroring how
    Delta's z-order degrades.
    """
    if bits * len(cols) > 63:
        bits = max(1, 63 // len(cols))
    dtypes = dict(df.dtypes)
    proxies: list = []
    for c in cols:
        dt = dtypes[c]
        if dt == "timestamp":
            proxies.append(F.col(c).cast("double"))
        elif dt == "timestamp_ntz":
            # NTZ has no direct numeric cast; route through LTZ (session
            # tz offset is a constant shift — rank order, which is all the
            # equi-depth bucketing consumes, is preserved)
            proxies.append(F.col(c).cast("timestamp_ltz").cast("double"))
        elif dt == "date":
            proxies.append(F.col(c).cast("timestamp").cast("double"))
        elif dt in ("string", "binary", "boolean"):
            raise ValueError(
                f"zorder cluster column {c!r} has type {dt}: z-ordering "
                "needs rank-orderable numeric/timestamp/date columns"
            )
        else:
            proxies.append(F.col(c).cast("double"))
    probs = [i / float(1 << bits) for i in range(1, 1 << bits)]
    qdf = df.select(*[p.alias(f"_z{i}") for i, p in enumerate(proxies)])
    all_bounds = qdf.stat.approxQuantile(
        [f"_z{i}" for i in range(len(cols))], probs, 0.01
    )
    ncols = len(cols)
    terms = []
    for j, (p, bounds) in enumerate(zip(proxies, all_bounds)):
        uniq: list[float] = sorted({b for b in bounds if b is not None})
        if not uniq:
            continue  # all-null/unsampleable column: contributes nothing
        # equi-depth bucket id 0..len(uniq) (≤ 2^bits − 1, so it fits in
        # `bits` bits); nulls sort first
        bucket = F.when(p.isNull(), F.lit(0))
        for i, b in enumerate(uniq):
            bucket = bucket.when(p < F.lit(float(b)), F.lit(i))
        bucket = bucket.otherwise(F.lit(len(uniq))).cast("long")
        for i in range(bits):
            # bit i of column j lands at interleaved position i*ncols + j;
            # positions are disjoint so summation == bitwise OR
            terms.append(
                F.shiftleft(
                    F.shiftright(bucket, i).bitwiseAND(F.lit(1)), i * ncols + j
                )
            )
    if not terms:
        return df.withColumn("_zkey", F.lit(0).cast("long"))
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return df.withColumn("_zkey", z)


def compact(
    spark: SparkSession,
    out_dir: str,
    key_col: str = "doc_id",
    lineage_cols: list[str] | None = None,
    min_epochs: int = 2,
    vacuum: bool = False,
    max_file_rows: int | None = None,
    stats_cols: list[str] | None = None,
    target_file_bytes: int | None = None,
    cluster_by: str | list[str] | None = None,
    zorder: bool = False,
    zorder_bits: int = 6,
) -> dict:
    """Rewrite ALL committed data as a single fresh epoch — one file per
    bucket — and atomically supersede the old epochs: the Iceberg
    `rewrite_data_files` analogue for this sink.

    ``max_file_rows`` caps rows per output file (parquet
    ``maxRecordsPerFile``): at 100 TB a bucket's single file would be
    corpus/n_buckets — splitting keeps files scan-sized while still
    collapsing the epoch-directory count to one per bucket.
    ``target_file_bytes`` derives that cap from the manifests' own
    byte/row metrics instead (Iceberg's target-file-size knob): the
    recorded byte_count is the JSON-serialized row size — an upper
    bound on columnar-compressed parquet bytes — so files come out AT
    OR UNDER the target, never over. Explicit ``max_file_rows`` wins
    when both are given.

    Concurrency: appends racing a compaction are safe (the record only
    supersedes the epochs it read; a newer epoch stays live), but TWO
    compactors racing would both commit overlapping rewrites and
    double the data — run one compactor per table, the same external
    coordination plain-filesystem Iceberg needs for rewrites.

    Why it matters at scale: every delivery (input_snapshot) and every
    crash-resume attempt appends its own epoch, so a long-lived output
    accumulates one file AND one partition directory per bucket per
    delivery; after a year of dailies every read lists and opens ~365
    files per bucket. Compaction collapses each bucket to one file.
    Per-delivery reads survive because ``input_snapshot`` rides in the
    data rows (written by :func:`checkpointed_write`) — a merged file
    still slices cleanly by delivery.

    Crash-safe commit protocol (same shape as checkpointed_write):

    1. the compacted files land under ``epoch=c<uuid>`` via plain append —
       INVISIBLE, because no manifest/compaction row references the epoch;
    2. per-(bucket, snapshot) metrics are read back from the files
       actually written (row counts and the order-independent lineage
       hash must equal the superseded rows' — compaction moves bytes,
       never rows);
    3. the commit point is ONE single-file parquet append to
       ``compactions/`` carrying the new manifest rows plus the
       ``superseded`` epoch list. Readers resolve visibility through
       :func:`active_manifests`, so the switch is a single file
       materialization: crash before it → orphan files only; after it →
       old epochs are dead.

    ``vacuum=True`` additionally deletes the superseded epoch directories
    (safe only after the commit record is durable — the default leaves
    them for a later sweep, mirroring Iceberg's separate expire step).
    Chained compactions supersede earlier compaction epochs the same way.

    ``cluster_by`` (a column or list) is the rewrite-with-sort-order
    analogue (Iceberg ``rewrite_data_files`` + sort order): rows are
    sorted by the cluster column(s) WITHIN each bucket before writing,
    so with ``max_file_rows``/``target_file_bytes`` each rolled file
    covers a contiguous, near-disjoint range of the cluster column —
    and per-FILE min/max zone maps are recorded in a metadata sidecar
    (``filestats/epoch=<id>.json``). :func:`prune_plan` then prunes at
    file granularity inside kept buckets. This matters because the
    bucket dimension is a hash of the KEY: every bucket's min/max on a
    range column (timestamp, length, score) spans the whole domain, so
    epoch-level zone maps cannot prune range predicates at all —
    clustering is what turns them selective. The sidecar is advisory:
    a missing/partial one degrades to directory-level pruning, never
    to wrong rows. Cluster columns are added to the per-file stats
    even when absent from ``stats_cols``.

    ``zorder=True`` upgrades a multi-column ``cluster_by`` from
    lexicographic to Z-order (see :func:`_with_zorder_key`): rows sort by
    the Morton interleaving of the cluster columns' equi-depth bucket
    ids, so the rolled files' zone maps are tight on EVERY cluster
    column, not just the first — a range predicate on any of them prunes
    files. Costs one extra sampled ``approxQuantile`` pass over the
    compaction input (the same price Delta's OPTIMIZE ZORDER pays);
    ``zorder_bits`` (default 6 → 64 rank buckets per column) bounds both
    the sampled boundary count and the per-row bucketing chain.
    """
    import glob as _glob
    import shutil

    active = active_manifests(spark, out_dir)
    if active is None:
        return {"new_epoch": None, "epochs_compacted": 0}
    old_epochs = [r["job_epoch"] for r in active.select("job_epoch").distinct().collect()]
    if len(old_epochs) < min_epochs:
        return {"new_epoch": None, "epochs_compacted": 0}

    if target_file_bytes and not max_file_rows:
        tot = active.agg(F.sum("byte_count"), F.sum("row_count")).collect()[0]
        bytes_per_row = (tot[0] or 1) / max(tot[1] or 1, 1)
        max_file_rows = max(1, int(target_file_bytes / bytes_per_row))

    keys = active.select("bucket", F.col("job_epoch").alias("epoch")).distinct()
    n_buckets = keys.select("bucket").distinct().count()
    new_epoch = "c" + uuid.uuid4().hex[:15]
    # mergeSchema ALWAYS here: a later delivery may have added columns,
    # and a compaction that read only a sampled file's schema would
    # silently rewrite the table WITHOUT them — with vacuum, that is
    # permanent data loss. (Lineage hashes of pre-widening deliveries are
    # recomputed over the union schema, so they legitimately differ from
    # the superseded rows' when schemas were heterogeneous; row counts
    # remain the invariant.)
    data = spark.read.option("mergeSchema", "true").parquet(
        _data_dir(out_dir)
    ).join(F.broadcast(keys), on=["bucket", "epoch"], how="left_semi")
    # apply live equality deletes physically: the rewritten epoch's
    # commit stamp postdates every existing tombstone, so after this
    # commit the tombstones are inert for current reads (they keep
    # serving pre-compaction time travel until retention removes them).
    # Row counts in the commit record legitimately shrink by the
    # deleted rows.
    data = (
        _minus_deletes(spark, out_dir, data)
        .drop("epoch")
        .withColumn("epoch", F.lit(new_epoch))
    )
    # one task per bucket → one file per bucket (the small-file point)
    cluster_cols = (
        [cluster_by] if isinstance(cluster_by, str) else list(cluster_by or [])
    )
    shaped = data.repartition(n_buckets, "bucket")
    if cluster_cols:
        # sort includes the partition columns FIRST so the write path's
        # required ordering (bucket, epoch) is already satisfied and the
        # writer inserts no sort of its own — Spark's sort is not stable,
        # so a writer-side re-sort on (bucket, epoch) alone would undo
        # the clustering
        if zorder:
            shaped = _with_zorder_key(shaped, cluster_cols, zorder_bits)
            # cluster cols as tie-breakers keep each z-cell's rows
            # contiguous; _zkey is dropped before the write (a Project
            # preserves row order, and the writer's required (bucket,
            # epoch) ordering prefix stays satisfied — verified by the
            # pruning tests, which fail if the sort were undone)
            shaped = shaped.sortWithinPartitions(
                "bucket", "epoch", "_zkey", *cluster_cols
            ).drop("_zkey")
        else:
            shaped = shaped.sortWithinPartitions("bucket", "epoch", *cluster_cols)
    writer = shaped.write
    if max_file_rows:
        writer = writer.option("maxRecordsPerFile", max_file_rows)
    writer.partitionBy("bucket", "epoch").mode("append").parquet(_data_dir(out_dir))

    epoch_glob = os.path.join(_data_dir(out_dir), "bucket=*", f"epoch={new_epoch}")
    written = spark.read.option("basePath", _data_dir(out_dir)).parquet(epoch_glob)
    lineage_cols = lineage_cols or [
        c
        for c in written.columns
        if c not in (key_col, "bucket", "epoch", "input_snapshot")
    ]
    if stats_cols is None:
        stats_cols = _tracked_stats_cols(active)  # keep pruning power across compactions
    stats_cols = [c for c in stats_cols if c in written.columns]
    lineage_expr = F.xxhash64(key_col, *[F.to_json(F.struct(c)) for c in lineage_cols])
    record = (
        written.groupBy("bucket", "input_snapshot")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.sum(F.octet_length(F.to_json(F.struct(*lineage_cols)))).alias("byte_count"),
            F.bit_xor(lineage_expr).alias("_lh"),
            *_stats_aggs(stats_cols),
        )
        .select(
            "bucket",
            "input_snapshot",
            "row_count",
            "byte_count",
            F.conv(F.col("_lh").cast("string"), 10, 16).alias("lineage_hash"),
            F.lit(new_epoch).alias("job_epoch"),
            _stats_json(stats_cols).alias("col_stats"),
            F.array(*[F.lit(e) for e in old_epochs]).alias("superseded"),
            F.lit(time.time()).alias("committed_at"),
        )
    )
    # keep lookup-pruning power across compactions: if the live manifests
    # carried key blooms, rebuild them per (bucket, delivery) with the
    # same spec
    bloom_spec = _live_bloom_spec(active)
    if bloom_spec is not None:
        blooms = _bloom_frame(
            written, key_col, ["bucket", "input_snapshot"], *bloom_spec
        )
        record = record.join(
            F.broadcast(blooms), on=["bucket", "input_snapshot"], how="left"
        )
    else:
        record = record.withColumn("key_bloom", F.lit(None).cast("string"))
    # per-file zone maps for the clustered rewrite — written BEFORE the
    # commit record so a visible clustered epoch always has its sidecar
    # (crash in between leaves sidecar + data as orphans together)
    if cluster_cols:
        file_cols = [
            c
            for c in dict.fromkeys([*cluster_cols, *(stats_cols or [])])
            if c in written.columns
        ]
        if file_cols:
            fs_rows = (
                written.withColumn("_f", F.input_file_name())
                .groupBy("_f")
                .agg(*_stats_aggs(file_cols))
                .select("_f", _stats_json(file_cols).alias("_js"))
                .collect()  # metadata-sized: one row per written file
            )
            _write_filestats(
                out_dir,
                new_epoch,
                {_rel_data_path(out_dir, r["_f"]): r["_js"] for r in fs_rows},
            )
    # single-file append = the atomic commit point
    record.coalesce(1).write.mode("append").parquet(_compactions_dir(out_dir))

    removed = 0
    if vacuum:
        for e in old_epochs:
            for d in _glob.glob(os.path.join(_data_dir(out_dir), "bucket=*", f"epoch={e}")):
                shutil.rmtree(d, ignore_errors=True)
                removed += 1
    return {
        "new_epoch": new_epoch,
        "epochs_compacted": len(old_epochs),
        "buckets": n_buckets,
        "vacuumed_dirs": removed,
    }


def read_committed(
    spark: SparkSession,
    out_dir: str,
    input_snapshot: str | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read only data whose (bucket, epoch) is manifested; crashed-epoch
    orphan files are invisible.

    ``merge_schema=True`` unions the schemas of every live epoch
    (columns added by later deliveries come back, null-filled for older
    rows — parquet schema evolution). Off by default: schema merging
    reads every file's footer at planning time, which on a wide-open
    long-lived table is a real listing cost; flip it on when deliveries
    are known to evolve."""
    m = active_manifests(spark, out_dir)
    if m is None:
        raise FileNotFoundError(f"no manifests under {out_dir}")
    if input_snapshot is not None:
        m = m.filter(F.col("input_snapshot") == input_snapshot)
    keys = m.select("bucket", F.col("job_epoch").alias("epoch")).distinct()
    data = spark.read.option("mergeSchema", str(merge_schema).lower()).parquet(
        _data_dir(out_dir)
    )
    out = data.join(F.broadcast(keys), on=["bucket", "epoch"], how="left_semi")
    if input_snapshot is not None and "input_snapshot" in data.columns:
        # a compacted epoch holds every delivery; slice the requested one
        # out by the in-row snapshot column
        out = out.filter(F.col("input_snapshot") == input_snapshot)
    out = _minus_deletes(spark, out_dir, out)
    return out.drop("bucket", "epoch", "input_snapshot")


# --------------------------------------------------------------------------
# equality deletes (Iceberg v2 merge-on-read analogue)
# --------------------------------------------------------------------------


def _deletes_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "deletes")


def _delete_manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "delete_manifests")


def delete_keys(
    spark: SparkSession,
    out_dir: str,
    keys,
    key_col: str | None = None,
    input_snapshot: str | None = None,
) -> dict:
    """Commit an equality-delete: every committed row whose key is in
    ``keys`` becomes invisible to readers — WITHOUT rewriting any data
    file (merge-on-read; the GDPR/right-to-be-forgotten and correction
    shape). ``keys`` is a DataFrame carrying the key column or a plain
    Python list.

    Sequence semantics via the same commit stamps time travel uses: a
    delete suppresses rows from epochs committed AT OR BEFORE it, so a
    later re-insert of the key is visible, and ``read_as_of`` before the
    delete still shows the old rows (tombstone files are retention-bound
    like superseded epochs). Commit protocol mirrors the sink's: key
    files land invisibly under ``deletes/epoch=<id>/``, then ONE
    single-file append to ``delete_manifests/`` makes them live.

    Compaction applies live tombstones physically (the rewritten epoch's
    stamp postdates them, so they turn inert afterwards).

    ``input_snapshot`` (optional) records which delivery this tombstone
    belongs to — :func:`upsert_write` stamps its snapshot here so a
    retried MERGE can detect that its retraction already committed and
    must NOT re-tombstone (a fresh tombstone would postdate the
    already-committed data epoch and silently suppress the delivery)."""
    meta = read_table_meta(out_dir)
    if meta is None:
        raise FileNotFoundError(f"no meta.json under {out_dir} — nothing written yet")
    key_col = key_col or meta["key_col"]
    if not isinstance(keys, DataFrame):
        keys = spark.createDataFrame(
            [(k,) for k in keys], f"{key_col} {meta['key_type']}"
        )
    epoch = "d" + uuid.uuid4().hex[:15]
    kdf = keys.select(key_col).distinct()
    kdf.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(_deletes_dir(out_dir), f"epoch={epoch}")
    )
    n = spark.read.parquet(
        os.path.join(_deletes_dir(out_dir), f"epoch={epoch}")
    ).count()
    rec = spark.createDataFrame(
        [(epoch, n, time.time(), input_snapshot)],
        "epoch string, n_keys long, committed_at double, input_snapshot string",
    )
    rec.coalesce(1).write.mode("append").parquet(_delete_manifest_dir(out_dir))
    return {"delete_epoch": epoch, "n_keys": n}


def _snapshot_tombstoned(
    spark: SparkSession, out_dir: str, input_snapshot: str
) -> bool:
    """True when a committed tombstone is already stamped with this
    delivery snapshot — the retry-detection read for
    :func:`upsert_write`. Pre-stamping tombstone records lack the column
    (they read as null, never matching)."""
    dm = _read_delete_manifests(spark, out_dir)
    if dm is None:
        return False
    return (
        dm.filter(F.col("input_snapshot") == F.lit(input_snapshot)).limit(1).count()
        > 0
    )


def _delete_expiry_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "delete_expiries")


def _read_delete_manifests(spark: SparkSession, out_dir: str) -> DataFrame | None:
    return _read_if_exists(spark, _delete_manifest_dir(out_dir), _DELETE_MANIFEST_SCHEMA)


def _expired_delete_epochs(spark: SparkSession, out_dir: str) -> set:
    df = _read_if_exists(
        spark, _delete_expiry_dir(out_dir), "epoch string, expired_at double"
    )
    if df is None:
        return set()
    return {r["epoch"] for r in df.select("epoch").distinct().collect()}


def expire(
    spark: SparkSession,
    out_dir: str,
    older_than: float,
    respect_tags: bool = True,
) -> dict:
    """Retention sweep (the Iceberg expire-snapshots analogue): after
    this, time travel to instants BEFORE ``older_than`` may read
    incomplete data — that is the retention contract — while every read
    as-of ``older_than`` or later is untouched. Physically removes:

    1. data epochs superseded by a compaction committed at or before
       ``older_than`` (reads ≥ that instant resolve to the compacted
       epoch, never these);
    2. tombstone epochs that are INERT for all surviving reads: the
       tombstone committed ≤ ``older_than`` AND every live data epoch's
       commit postdates it (true after any compaction, which rewrites
       the data with a fresh stamp). Tombstone removal is crash-safe:
       an expiry marker (single-file append to ``delete_expiries/``)
       commits first, the key files are removed after — a crash between
       leaves orphaned-but-invisible files.

    Run it on the compactor's schedule with ``older_than = now −
    retention_window``.

    ``respect_tags`` (default) clamps ``older_than`` to the oldest live
    tag's pinned instant, so a tagged snapshot (a reproducible training
    corpus someone still references) survives any retention setting —
    the Iceberg behavior, where tagged snapshots are exempt from
    expire. Delete the tag first to let its history go."""
    import glob as _glob
    import shutil

    if respect_tags:
        tags = list_tags(out_dir)
        if tags:
            older_than = min(older_than, min(t["as_of"] for t in tags))

    c = read_compactions(spark, out_dir)
    removed_data = 0
    sup: set = set()
    if c is not None:
        old_c = c.filter(F.coalesce("committed_at", F.lit(0.0)) <= F.lit(older_than))
        sup = {
            r["job_epoch"]
            for r in old_c.select(F.explode("superseded").alias("job_epoch"))
            .distinct()
            .collect()
        }
        for e in sup:
            for d in _glob.glob(
                os.path.join(_data_dir(out_dir), "bucket=*", f"epoch={e}")
            ):
                shutil.rmtree(d, ignore_errors=True)
                removed_data += 1
            # the expired epoch's per-file zone-map sidecar (if it was a
            # clustered compaction later superseded) goes with it
            try:
                os.remove(os.path.join(_filestats_dir(out_dir), f"epoch={e}.json"))
            except FileNotFoundError:
                pass

    removed_tomb = 0
    dm = _read_delete_manifests(spark, out_dir)
    if dm is not None:
        already = _expired_delete_epochs(spark, out_dir)
        # a tombstone is inert only if EVERY data epoch visible to ANY
        # read as-of >= older_than postdates it. That visible union is:
        # all manifest + compaction epochs, minus those superseded by a
        # compaction committed at or before older_than (invisible to
        # every surviving read) — NOT merely the live-now set: an epoch
        # superseded by a NEWER compaction is still read by as-of
        # instants between older_than and that compaction.
        stamps = _epoch_commit_stamps(spark, out_dir)
        vis = stamps.filter(~F.col("epoch").isin(list(sup)) if sup else F.lit(True))
        row = vis.agg(F.min("_dct")).collect()[0]
        min_live = row[0]
        candidates = dm.filter(F.col("committed_at") <= F.lit(older_than))
        if min_live is not None:
            candidates = candidates.filter(F.col("committed_at") < F.lit(min_live))
        else:
            candidates = candidates.where(F.lit(False))  # no stamps: keep all
        eps = [
            r["epoch"]
            for r in candidates.select("epoch").distinct().collect()
            if r["epoch"] not in already
        ]
        if eps:
            marker = spark.createDataFrame(
                [(e, time.time()) for e in eps], "epoch string, expired_at double"
            )
            marker.coalesce(1).write.mode("append").parquet(
                _delete_expiry_dir(out_dir)
            )
            for e in eps:
                shutil.rmtree(
                    os.path.join(_deletes_dir(out_dir), f"epoch={e}"),
                    ignore_errors=True,
                )
                removed_tomb += 1
    return {"data_epoch_dirs_removed": removed_data, "tombstone_epochs_removed": removed_tomb}


def changes_between(
    spark: SparkSession,
    out_dir: str,
    t1: float,
    t2: float,
    merge_schema: bool = False,
) -> DataFrame:
    """Incremental (CDC) read: the row changes between two snapshot
    instants, as full rows tagged ``_op`` ('I' insert / 'D' delete) —
    the Iceberg incremental-scan analogue. Contract (tested exactly
    this way): REPLAYING the changes onto ``read_as_of(t1)`` — drop the
    D keys, add the I rows — reproduces ``read_as_of(t2)``. An upsert
    inside the window emits its D+I pair; an insert-then-delete inside
    the window nets to nothing.

    Metadata-pruned on the insert side: only DATA epochs committed in
    (t1, t2] are scanned (compaction epochs are rewrites, not changes —
    excluded via the compaction records), with deletes-as-of-t2 applied
    so an insert-then-delete inside the window nets out. The delete
    side reads the window's tombstones (delivery-sized) and keeps keys
    that were visible at t1 — served from the t1 snapshot so the
    emitted delete carries the full old row. A downstream consumer
    replays the table by applying D then I per key."""
    m = read_manifests(spark, out_dir)
    if m is None:
        raise FileNotFoundError(f"no manifests under {out_dir}")
    meta = read_table_meta(out_dir)
    key_col = meta["key_col"] if meta else "doc_id"
    c = read_compactions(spark, out_dir)
    compaction_epochs = (
        {r["job_epoch"] for r in c.select("job_epoch").distinct().collect()}
        if c is not None
        else set()
    )
    ct = F.coalesce("committed_at", F.lit(0.0))
    win = m.filter((ct > F.lit(t1)) & (ct <= F.lit(t2)))
    new_epochs = [
        r["job_epoch"]
        for r in win.select("job_epoch").distinct().collect()
        if r["job_epoch"] not in compaction_epochs
    ]
    ms = str(merge_schema).lower()
    snap1 = read_as_of(spark, out_dir, t1, merge_schema=merge_schema)
    if new_epochs:
        paths = []
        for r in win.filter(
            F.col("job_epoch").isin(new_epochs)
        ).select("bucket", "job_epoch").distinct().collect():
            paths.append(
                os.path.join(
                    _data_dir(out_dir),
                    f"bucket={r['bucket']}",
                    f"epoch={r['job_epoch']}",
                )
            )
        ins = spark.read.option("mergeSchema", ms).option(
            "basePath", _data_dir(out_dir)
        ).parquet(*paths)
        ins = _minus_deletes(spark, out_dir, ins, as_of=t2).drop(
            "bucket", "epoch", "input_snapshot"
        )
    else:
        ins = snap1.where(F.lit(False))
    # deletes: keys whose latest tombstone landed in the window AND that
    # were visible at t1 (full old rows served from the t1 snapshot)
    idx2 = _delete_index(spark, out_dir, key_col, as_of=t2)
    dels = snap1.where(F.lit(False))
    if idx2 is not None:
        win_keys = idx2.filter(
            (F.col("_last_del") > F.lit(t1)) & (F.col("_last_del") <= F.lit(t2))
        ).select(key_col)
        dels = snap1.join(win_keys, on=key_col, how="left_semi")
    return ins.withColumn("_op", F.lit("I")).unionByName(
        dels.withColumn("_op", F.lit("D"))
    )


def upsert_write(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    n_buckets: int,
    input_snapshot: str,
    **kwargs,
) -> dict:
    """MERGE (upsert) as delete-then-append: equality-delete the
    incoming keys, then land the delivery through the normal
    checkpointed write — matched rows are replaced (the new epoch's
    commit postdates the tombstone), unmatched rows insert, untouched
    rows stay. Two metadata-bounded commits, no data-file rewrite: the
    merge-on-read form of MERGE INTO. kwargs pass through to
    :func:`checkpointed_write` (key_col, stats_cols, bloom_key, ...).

    Retry-safe: the retraction tombstone is stamped with this
    delivery's ``input_snapshot``, and a re-run (same snapshot) SKIPS
    the delete step when that stamp is already committed — the first
    run's tombstone already retracted the matched keys, and committing
    a fresh one would postdate the delivery's own data epoch, so
    ``_minus_deletes`` would suppress the delivered rows while the
    resume anti-join skips re-writing them (silent data loss). With the
    skip, every crash point resumes cleanly: before the tombstone
    commit nothing is visible; between tombstone and data the retry
    goes straight to the append; mid-append the bucket anti-join
    finishes the remainder; after completion the retry is a no-op.
    Contract (same as :func:`checkpointed_write`): one ``input_snapshot``
    == one immutable delivery — never reuse a snapshot id for
    different rows."""
    key_col = kwargs.get("key_col", "doc_id")
    meta = read_table_meta(out_dir)
    if meta is not None and not _snapshot_tombstoned(spark, out_dir, input_snapshot):
        # table exists and this delivery has not retracted yet
        delete_keys(
            spark,
            out_dir,
            df.select(key_col),
            key_col=key_col,
            input_snapshot=input_snapshot,
        )
    return checkpointed_write(
        spark, df, out_dir, n_buckets, input_snapshot, **kwargs
    )


def _delete_index(
    spark: SparkSession, out_dir: str, key_col: str, as_of: float | None = None
) -> DataFrame | None:
    """(key, _last_del): latest committed delete stamp per key, or None
    when the table has no committed deletes (in range, for as-of)."""
    dm = _read_delete_manifests(spark, out_dir)
    if dm is None:
        return None
    if as_of is not None:
        dm = dm.filter(F.col("committed_at") <= F.lit(as_of))
    expired = _expired_delete_epochs(spark, out_dir)
    commits = [
        r
        for r in dm.select("epoch", "committed_at").distinct().collect()
        if r["epoch"] not in expired
    ]
    if not commits:
        return None
    paths = [
        os.path.join(_deletes_dir(out_dir), f"epoch={r['epoch']}") for r in commits
    ]
    keys = spark.read.option("basePath", _deletes_dir(out_dir)).parquet(*paths)
    stamped = keys.join(
        F.broadcast(dm.select("epoch", "committed_at")), on="epoch"
    )
    return stamped.groupBy(key_col).agg(F.max("committed_at").alias("_last_del"))


def _epoch_commit_stamps(spark: SparkSession, out_dir: str) -> DataFrame:
    """(epoch, _dct): commit stamp per data epoch (manifests ∪
    compaction records; legacy rows without stamps → 0.0 = predate every
    delete). Metadata-sized."""
    frames = [
        df.select(
            F.col("job_epoch").alias("epoch"),
            F.coalesce("committed_at", F.lit(0.0)).alias("_dct"),
        )
        for df in (read_manifests(spark, out_dir), read_compactions(spark, out_dir))
        if df is not None
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.groupBy("epoch").agg(F.max("_dct").alias("_dct"))


def _minus_deletes(
    spark: SparkSession,
    out_dir: str,
    df: DataFrame,
    as_of: float | None = None,
) -> DataFrame:
    """Apply committed equality deletes to a data frame that still
    carries its ``epoch`` partition column: a row survives when no
    delete targets its key, or its epoch's commit postdates the key's
    latest delete (re-insert). One metadata-sized broadcast join for the
    epoch stamps plus one keyed join against the (usually tiny) delete
    index — AQE broadcasts it when it fits."""
    meta = read_table_meta(out_dir)
    if meta is None:
        return df
    key_col = meta["key_col"]
    idx = _delete_index(spark, out_dir, key_col, as_of)
    if idx is None:
        return df
    stamps = _epoch_commit_stamps(spark, out_dir)
    return (
        df.join(F.broadcast(stamps), on="epoch", how="left")
        .withColumn("_dct", F.coalesce(F.col("_dct"), F.lit(0.0)))
        .join(idx, on=key_col, how="left")
        .filter(F.col("_last_del").isNull() | (F.col("_last_del") < F.col("_dct")))
        .drop("_dct", "_last_del")
    )


def _filter_as_of(df: DataFrame | None, as_of: float) -> DataFrame | None:
    """Rows committed at or before ``as_of``; rows from before commit
    stamping existed (no/null committed_at) are treated as always
    visible."""
    if df is None:
        return df
    return df.filter(
        F.col("committed_at").isNull() | (F.col("committed_at") <= F.lit(as_of))
    )


def manifests_as_of(
    spark: SparkSession, out_dir: str, as_of: float
) -> DataFrame | None:
    """The live manifest view AS OF a wall-clock instant (epoch
    seconds): manifest rows committed by then, minus epochs superseded
    by compactions committed by then — a compaction committed AFTER
    ``as_of`` is invisible, so the read resolves to the original
    epochs. This is the Iceberg snapshot-read analogue for this sink."""
    return _live_view(
        _filter_as_of(read_manifests(spark, out_dir), as_of),
        _filter_as_of(read_compactions(spark, out_dir), as_of),
    )


def read_as_of(
    spark: SparkSession,
    out_dir: str,
    as_of: float,
    merge_schema: bool = False,
) -> DataFrame:
    """Time travel: read the table as it was committed at ``as_of``
    (wall-clock epoch seconds). Deliveries and compactions committed
    later are invisible; crashed-epoch orphans are invisible as always.

    History is readable until ``vacuum`` physically removes superseded
    epoch directories — exactly Iceberg's expire-snapshots boundary: an
    ``as_of`` predating a vacuumed compaction selects epochs whose files
    are gone and reads incomplete data, so retention policy must keep
    superseded epochs as long as time travel is wanted."""
    m = manifests_as_of(spark, out_dir, as_of)
    if m is None:
        raise FileNotFoundError(f"no manifests under {out_dir}")
    keys = m.select("bucket", F.col("job_epoch").alias("epoch")).distinct()
    data = spark.read.option("mergeSchema", str(merge_schema).lower()).parquet(
        _data_dir(out_dir)
    )
    out = data.join(F.broadcast(keys), on=["bucket", "epoch"], how="left_semi")
    out = _minus_deletes(spark, out_dir, out, as_of=as_of)
    return out.drop("bucket", "epoch", "input_snapshot")


# --------------------------------------------------------------------------
# zone-map scan pruning (Iceberg manifest-pruning analogue)
# --------------------------------------------------------------------------


def _tracked_stats_cols(manifests: DataFrame | None) -> list[str]:
    """Which columns the live manifests carry zone maps for (keys of the
    first non-null col_stats row — every writer of a table tracks the
    same set, so one row is representative)."""
    if manifests is None:
        return []
    head = manifests.filter(F.col("col_stats").isNotNull()).select("col_stats").head(1)
    if not head:
        return []
    return sorted(json.loads(head[0][0]).keys())


def _parse_dt(s: str) -> datetime | None:
    try:
        d = datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return None
    return d if d.tzinfo else d.replace(tzinfo=timezone.utc)


def _cmp(a, b) -> int | None:
    """Three-way compare of a JSON-decoded stat value against a
    predicate value; None = incomparable (pruner must keep the group).
    Numerics compare numerically; strings that both parse as ISO
    datetimes compare as instants (to_json serializes timestamp stats
    as ISO strings); otherwise lexicographic — safe for the fixed-width
    encodings this repo uses everywhere (md5 hex, zero-padded ids)."""
    if isinstance(a, bool) or isinstance(b, bool):  # bool is int; exclude
        return None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return (a > b) - (a < b)
    if isinstance(a, str) and isinstance(b, str):
        da, db = _parse_dt(a), _parse_dt(b)
        if da is not None and db is not None:
            return (da > db) - (da < db)
        return (a > b) - (a < b)
    return None


def _range_may_match(mn, mx, op: str, val) -> bool:
    """Can any value in [mn, mx] satisfy (x op val)? Conservative: an
    incomparable pair keeps the group (pruning is only ever a superset
    guarantee)."""
    if op == "between":
        lo, hi = val
        return _range_may_match(mn, mx, ">=", lo) and _range_may_match(mn, mx, "<=", hi)
    c_mn = None if mn is None else _cmp(mn, val)
    c_mx = None if mx is None else _cmp(mx, val)
    if op == ">=":
        return c_mx is None or c_mx >= 0
    if op == ">":
        return c_mx is None or c_mx > 0
    if op == "<=":
        return c_mn is None or c_mn <= 0
    if op == "<":
        return c_mn is None or c_mn < 0
    if op == "=":
        return (c_mn is None or c_mn <= 0) and (c_mx is None or c_mx >= 0)
    raise ValueError(f"unknown zone-map op: {op!r}")


def _row_may_match(col_stats: str | None, predicates: list[tuple]) -> bool:
    if col_stats is None:
        return True  # no zone map recorded → cannot prune
    stats = json.loads(col_stats)
    for colname, op, val in predicates:
        st = stats.get(colname)
        if st is None:
            continue  # column not tracked → this predicate can't prune
        mn, mx = st.get("min"), st.get("max")
        if mn is None and mx is None:
            return False  # group is all-NULL in colname: no comparison matches
        if not _range_may_match(mn, mx, op, val):
            return False
    return True


def prune_plan(
    spark: SparkSession,
    out_dir: str,
    predicates: list[tuple],
    input_snapshot: str | None = None,
) -> dict:
    """Driver-side zone-map pruning: decide which committed
    (bucket, epoch) file groups can possibly contain rows matching ALL
    ``predicates`` — a list of (col, op, value) with op in
    {'=', '<', '<=', '>', '>=', 'between'} (between takes a (lo, hi)
    tuple). Returns {"paths", "kept_groups", "total_groups"}.

    This is the Iceberg manifest-pruning shape: the manifest table is
    metadata-sized (buckets × live epochs — thousands of rows at 100 TB,
    not billions), so collecting it to the driver is the CHEAP way to
    prune, and the surviving groups become an explicit path list — the
    skipped epochs are never even LISTED, which on object storage is
    where an append-heavy table's read cost actually lives. A compacted
    epoch carries per-(bucket, delivery) stats rows; its directory
    survives if ANY of its deliveries may match, and the in-file parquet
    row-group stats then narrow further within the kept files.

    Zone maps give a superset guarantee only — callers re-apply the real
    predicate on the returned data (:func:`pruned_read` documents this).
    """
    m = active_manifests(spark, out_dir)
    if m is None:
        raise FileNotFoundError(f"no manifests under {out_dir}")
    if input_snapshot is not None:
        m = m.filter(F.col("input_snapshot") == input_snapshot)
    rows = m.select("bucket", "job_epoch", "col_stats").collect()  # metadata-sized
    groups: dict[tuple, bool] = {}
    for r in rows:
        key = (r["bucket"], r["job_epoch"])
        groups[key] = groups.get(key, False) or _row_may_match(
            r["col_stats"], predicates
        )
    kept = sorted(k for k, keep in groups.items() if keep)
    # file-level refinement: a clustered compaction (compact(cluster_by=…))
    # leaves a filestats sidecar whose per-file min/max are near-disjoint
    # on the cluster column — prune individual FILES inside kept buckets.
    # Missing sidecar (plain epochs, pre-cluster tables, torn write) →
    # whole-directory path, same superset guarantee.
    data_dir = _data_dir(out_dir)
    fs_cache: dict[str, dict[str, str] | None] = {}
    paths: list[str] = []
    kept_files = total_files = 0
    for b, e in kept:
        if e not in fs_cache:
            fs_cache[e] = _load_filestats(out_dir, e)
        fs = fs_cache[e]
        prefix = f"bucket={b}/epoch={e}/"
        bucket_files = (
            {rel: js for rel, js in fs.items() if rel.startswith(prefix)} if fs else {}
        )
        if not bucket_files:
            paths.append(os.path.join(data_dir, f"bucket={b}", f"epoch={e}"))
            continue
        total_files += len(bucket_files)
        for rel in sorted(bucket_files):
            if _row_may_match(bucket_files[rel], predicates):
                kept_files += 1
                paths.append(os.path.join(data_dir, rel))
    return {
        "paths": paths,
        "kept_groups": len(kept),
        "total_groups": len(groups),
        "kept_files": kept_files,
        "total_files": total_files,
    }


def pruned_read(
    spark: SparkSession,
    out_dir: str,
    predicates: list[tuple],
    input_snapshot: str | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read only the committed file groups whose zone maps may satisfy
    ``predicates`` (see :func:`prune_plan`). The result is a SUPERSET of
    the matching rows — the caller applies the actual filter on top
    (which Spark then also pushes into the parquet row-group stats of
    the few files actually opened: manifest pruning and parquet
    pushdown compose, they don't compete). ``merge_schema`` as on
    :func:`read_committed` — and here the footers read are only the
    SURVIVING groups', so evolution support rides the pruning for free."""
    ms = str(merge_schema).lower()
    plan = prune_plan(spark, out_dir, predicates, input_snapshot)
    data_dir = _data_dir(out_dir)
    if not plan["paths"]:
        # schema-only read; the false filter folds to an empty relation
        out = spark.read.option("mergeSchema", ms).parquet(data_dir).where(F.lit(False))
    else:
        out = spark.read.option("mergeSchema", ms).option("basePath", data_dir).parquet(
            *plan["paths"]
        )
    if input_snapshot is not None and "input_snapshot" in out.columns:
        out = out.filter(F.col("input_snapshot") == input_snapshot)
    out = _minus_deletes(spark, out_dir, out)
    return out.drop("bucket", "epoch", "input_snapshot")


def lookup_plan(
    spark: SparkSession,
    out_dir: str,
    keys: list,
    key_col: str | None = None,
    use_bloom: bool = True,
) -> dict:
    """Driver-side point-lookup pruning plan: which committed
    (bucket, epoch) file groups can contain any of ``keys``. Two stages:

    1. hash bucketing — keys map to buckets via the writer's own JVM
       xxhash64 expression (one driver-sized job over the literal key
       list; Python cannot reproduce Spark's xxhash64), so only those
       buckets' groups are candidates;
    2. key blooms (when the manifests carry them and the key dtype's
       string form is driver-reproducible) — a surviving bucket's
       individual EPOCHS are tested against each manifest row's bloom,
       pruning the dimension bucketing can't touch: deliveries that
       never saw any probed key.

    Returns {"paths", "key_col", "kept_groups", "total_groups",
    "bloom_pruned"} — paths is [] when nothing can match.
    """
    meta = read_table_meta(out_dir)
    if meta is None:
        raise FileNotFoundError(f"no meta.json under {out_dir} (pre-meta table)")
    key_col = key_col or meta["key_col"]
    keys = list(keys)
    if not keys:
        return {
            "paths": [],
            "key_col": key_col,
            "kept_groups": 0,
            "total_groups": 0,
            "bloom_pruned": 0,
        }
    kdf = spark.createDataFrame(
        [(k,) for k in keys], f"`{key_col}` {meta['key_type']}"
    )
    bucket_keys: dict[int, list[str]] = {}
    for r in (
        with_bucket(kdf, meta["n_buckets"], meta["salt"], key_col)
        .select("bucket", F.col(key_col).cast("string").alias("_ks"))
        .collect()
    ):
        bucket_keys.setdefault(r["bucket"], []).append(r["_ks"])
    m = active_manifests(spark, out_dir)
    if m is None:
        raise FileNotFoundError(f"no manifests under {out_dir}")
    rows = m.select("bucket", "job_epoch", "key_bloom").collect()  # metadata-sized
    total = len({(r["bucket"], r["job_epoch"]) for r in rows})
    check_bloom = use_bloom and meta["key_type"] in _BLOOM_KEY_TYPES
    groups: dict[tuple, bool] = {}
    for r in rows:
        ks = bucket_keys.get(r["bucket"])
        if ks is None:
            continue  # bucket holds none of the keys
        key = (r["bucket"], r["job_epoch"])
        admit = _bloom_may_contain(r["key_bloom"], ks) if check_bloom else True
        groups[key] = groups.get(key, False) or admit
    kept = sorted(k for k, keep in groups.items() if keep)
    return {
        "paths": [
            os.path.join(_data_dir(out_dir), f"bucket={b}", f"epoch={e}")
            for b, e in kept
        ],
        "key_col": key_col,
        "kept_groups": len(kept),
        "total_groups": total,
        "bloom_pruned": len(groups) - len(kept),
    }


def lookup_read(
    spark: SparkSession,
    out_dir: str,
    keys: list,
    key_col: str | None = None,
    use_bloom: bool = True,
) -> DataFrame:
    """Point lookup: return exactly the committed rows whose key is in
    ``keys``, reading ONLY the file groups :func:`lookup_plan` keeps —
    O(k/n_buckets) of the table via hash bucketing, times the bloom cut
    across live epochs — and the final exact filter runs inside the few
    files actually opened (where it also hits parquet row-group and
    dictionary pushdown on the key column)."""
    plan = lookup_plan(spark, out_dir, keys, key_col, use_bloom)
    key_col = plan["key_col"]
    if not plan["paths"]:
        return read_committed(spark, out_dir).where(F.lit(False))
    out = spark.read.option("basePath", _data_dir(out_dir)).parquet(*plan["paths"])
    out = out.filter(F.col(key_col).isin(list(keys)))
    out = _minus_deletes(spark, out_dir, out)
    return out.drop("bucket", "epoch", "input_snapshot")


# --------------------------------------------------------------------------
# table maintenance: tags (the Iceberg refs analogue) and the
# auto-compaction policy
# --------------------------------------------------------------------------

_TAG_NAME_RE = None  # compiled lazily


def _tags_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "tags")


def _tag_path(out_dir: str, name: str) -> str:
    import re

    global _TAG_NAME_RE
    if _TAG_NAME_RE is None:
        _TAG_NAME_RE = re.compile(r"^[A-Za-z0-9._-]+$")
    if not _TAG_NAME_RE.match(name):
        raise ValueError(f"invalid tag name {name!r} (use [A-Za-z0-9._-]+)")
    return os.path.join(_tags_dir(out_dir), f"{name}.json")


def create_tag(
    out_dir: str, name: str, as_of: float | None = None, replace: bool = False
) -> dict:
    """Pin a named snapshot (Iceberg tag): readers resolve the tag to its
    captured instant, so `read_tag(..., "training-2024-01")` keeps
    returning the same rows no matter how many deliveries, upserts, or
    compactions land afterwards — the reproducible-training-corpus
    handle. ``as_of`` defaults to now. Atomic single-file commit, same
    protocol as every other metadata write here; retention caveat as on
    :func:`read_as_of` (expire/vacuum eventually strips the history a
    tag points into — keep retention >= the oldest live tag)."""
    rec = {"name": name, "as_of": float(as_of if as_of is not None else time.time()),
           "created_at": time.time()}
    path = _tag_path(out_dir, name)
    if os.path.exists(path) and not replace:
        raise FileExistsError(f"tag {name!r} already exists (replace=True to move it)")
    os.makedirs(_tags_dir(out_dir), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, path)
    return rec


def list_tags(out_dir: str) -> list[dict]:
    d = _tags_dir(out_dir)
    if not os.path.isdir(d):
        return []
    out = []
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".json"):
            with open(os.path.join(d, fn)) as f:
                out.append(json.load(f))
    return out


def drop_tag(out_dir: str, name: str) -> bool:
    try:
        os.remove(_tag_path(out_dir, name))
        return True
    except FileNotFoundError:
        return False


def read_tag(
    spark: SparkSession, out_dir: str, name: str, merge_schema: bool = False
) -> DataFrame:
    """Read the table as of the named tag (see :func:`create_tag`)."""
    try:
        with open(_tag_path(out_dir, name)) as f:
            rec = json.load(f)
    except FileNotFoundError:
        raise FileNotFoundError(f"no tag {name!r} under {out_dir}") from None
    return read_as_of(spark, out_dir, rec["as_of"], merge_schema=merge_schema)


def maybe_compact(
    spark: SparkSession,
    out_dir: str,
    max_live_epochs: int = 8,
    **compact_kwargs,
) -> dict:
    """Auto-compaction policy: rewrite only when the live epoch count
    exceeds ``max_live_epochs`` — the maintenance-loop form of
    :func:`compact` (Iceberg's "rewrite when small files accumulate"
    trigger). A table ingesting one delivery per period accumulates one
    epoch directory per bucket per delivery; this keeps the read-side
    listing cost bounded at ~max_live_epochs files per bucket without
    paying a full rewrite on every maintenance tick. The decision reads
    only the metadata-sized manifest table. All other keyword args pass
    through to :func:`compact` (cluster_by/zorder/stats keep their
    pruning power across policy-driven rewrites exactly as they do for
    manual ones)."""
    m = active_manifests(spark, out_dir)
    if m is None:
        return {"skipped": True, "live_epochs": 0}
    live = m.select("job_epoch").distinct().count()
    if live <= max_live_epochs:
        return {"skipped": True, "live_epochs": live}
    res = compact(spark, out_dir, min_epochs=2, **compact_kwargs)
    res["skipped"] = False
    res["live_epochs"] = live
    return res

