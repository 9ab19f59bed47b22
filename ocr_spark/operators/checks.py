"""Data-quality constraint checking (the Deequ / Great Expectations seat):
declarative rules evaluated as ONE aggregation pass per table, emitted as
a metrics report a pipeline can gate on.

Rules are plain aggregate expressions, so the whole report compiles to a
single groupBy-less agg over one scan — completeness (null fraction),
uniqueness (distinct vs total on the key), range conformance, set
membership. Nothing here is row-level output — the report is a
handful of numbers whatever the table's size, which is what makes it
cheap enough to run on every delivery.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def completeness(col: str) -> Column:
    """Fraction of non-null values in ``col``."""
    n = F.count(F.lit(1))
    return (F.count(col) / n).alias(f"complete_{col}")


def uniqueness(col: str) -> Column:
    """Distinct-to-total ratio of ``col`` (1.0 = unique key)."""
    return (F.countDistinct(col) / F.count(F.lit(1))).alias(f"unique_{col}")


def in_range(col: str, lo, hi) -> Column:
    """Fraction of non-null values inside [lo, hi]."""
    ok = F.sum(
        F.when(F.col(col).between(F.lit(lo), F.lit(hi)), 1).otherwise(0)
    )
    return (ok / F.count(col)).alias(f"range_{col}")


def in_set(col: str, values: list) -> Column:
    """Fraction of non-null values inside the allowed set."""
    ok = F.sum(F.when(F.col(col).isin(values), 1).otherwise(0))
    return (ok / F.count(col)).alias(f"set_{col}")


def check_report(df: DataFrame, rules: list[Column]) -> DataFrame:
    """One-row report: every rule metric from a single aggregation pass
    (one scan, no shuffle beyond the final partial-agg merge)."""
    return df.agg(*rules)


def skew_profile(
    df: DataFrame,
    keys: str | list[str],
    top_n: int = 20,
    target_rows_per_task: int = 1_000_000,
) -> DataFrame:
    """Join-key skew diagnostic: the top-N heaviest keys with their row
    count, share of the table, skew ratio vs the mean key, and the salt
    factor that would cap each key's partition at
    ``target_rows_per_task`` rows.

    At 100 TB this is the cheap pre-flight before any keyed join or
    groupBy: one partial-aggregated keyed count (map-side combine makes
    the shuffle carry one row per key per task), a TakeOrdered top-N,
    and a broadcast one-row scalar attach for the totals (the
    deliberate crossJoin shape the plan audit whitelists). The
    ``salt_factor`` column is directly actionable — it is the fan-out
    to salt the hot keys with (AQE's skew-join split works on the same
    signal at runtime; this profiles it ahead of time, which is what
    you want before committing a 1000-executor shuffle). Integer-safe
    everywhere: salt_factor is ceil(n_rows / target) computed as
    floor((n + target − 1) / target), so the result is engine-portable.

    Ties in n_rows break on the key columns ascending, so the top-N set
    is deterministic under any partitioning.
    """
    key_cols = [keys] if isinstance(keys, str) else list(keys)
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("_total"), F.count(F.lit(1)).alias("_n_keys")
    )
    top = counts.orderBy(F.desc("n_rows"), *key_cols).limit(top_n)
    fix4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return top.crossJoin(F.broadcast(totals)).select(
        *key_cols,
        "n_rows",
        fix4(F.col("n_rows") / F.col("_total")).alias("share"),
        fix4(F.col("n_rows") * F.col("_n_keys") / F.col("_total")).alias(
            "skew_vs_mean"
        ),
        F.floor(
            (F.col("n_rows") + F.lit(target_rows_per_task - 1))
            / F.lit(float(target_rows_per_task))
        )
        .cast("long")
        .alias("salt_factor"),
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    k: float = 3.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Robust outlier detection via the modified z-score (Iglewicz &
    Hoaglin 1993): flag rows where 0.6745·|x − median| / MAD > ``k``,
    with median and MAD (median absolute deviation) computed per group.
    Mean/stddev outlier rules break down exactly when outliers exist
    (the outliers inflate the stddev that is supposed to catch them);
    the median/MAD pair has a 50 % breakdown point, which is why it is
    the curation-grade length/score filter.

    Two keyed exact-percentile aggregations (median, then MAD over the
    residuals) plus broadcast stats joins back — groups are recipe-sized
    (languages/sources), so every agg is a tiny shuffle and the corpus
    itself never reshuffles. A zero-MAD group (over half the values
    identical) yields null robust_z and flags nothing — the
    conservative reading of a degenerate scale estimate.

    Returns (id, [group], value, med, mad, robust_z) for flagged rows.
    """
    gcols = [group_col] if group_col else []
    med = df.groupBy(*gcols).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    )
    joined = (
        df.join(F.broadcast(med), on=gcols) if gcols
        else df.crossJoin(F.broadcast(med))
    )
    mad = joined.groupBy(*gcols).agg(
        F.expr(f"percentile(abs({value_col} - _med), 0.5)").alias("_mad")
    )
    stats = (
        med.join(mad, on=gcols) if gcols else med.crossJoin(F.broadcast(mad))
    )
    scored = (
        df.join(F.broadcast(stats), on=gcols) if gcols
        else df.crossJoin(F.broadcast(stats))
    )
    rz = F.lit(0.6745) * F.abs(F.col(value_col) - F.col("_med")) / F.col("_mad")
    return (
        scored.withColumn("robust_z", F.when(F.col("_mad") > 0, rz))
        .filter(F.col("robust_z") > k)
        .select(
            id_col,
            *gcols,
            value_col,
            F.col("_med").alias("med"),
            F.col("_mad").alias("mad"),
            "robust_z",
        )
    )
