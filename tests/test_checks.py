"""Constraint checking on planted violations: every metric must price
the defect exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_spark.operators import checks


def test_report_prices_planted_defects(spark):
    rows = [
        (1, 10.0, "A"),
        (2, 20.0, "A"),
        (2, -5.0, "B"),     # dup key + below range
        (None, 30.0, "C"),  # null key + bad status
        (4, 200.0, "A"),    # above range
    ]
    df = spark.createDataFrame(rows, "k int, v double, s string")
    rep = checks.check_report(
        df,
        [
            checks.completeness("k"),
            checks.uniqueness("k"),
            checks.in_range("v", 0.0, 100.0),
            checks.in_set("s", ["A", "B"]),
        ],
    ).collect()[0]
    assert abs(rep["complete_k"] - 4 / 5) < 1e-9
    assert abs(rep["unique_k"] - 3 / 5) < 1e-9          # {1,2,4} of 5 rows
    assert abs(rep["range_v"] - 3 / 5) < 1e-9           # 10,20,30 in range
    assert abs(rep["set_s"] - 4 / 5) < 1e-9             # C fails


def test_skew_profile_ranks_and_salts(spark):
    # planted skew: key 'hot' 100 rows, 'warm' 10, 8 singletons
    rows = (
        [("hot",)] * 100 + [("warm",)] * 10 + [(f"k{i}",) for i in range(8)]
    )
    df = spark.createDataFrame(rows, "k string").repartition(7)
    out = checks.skew_profile(df, "k", top_n=3, target_rows_per_task=40).collect()
    assert [r["k"] for r in out] == ["hot", "warm", "k0"]  # ties break on key
    hot = out[0]
    assert hot["n_rows"] == 100
    assert abs(hot["share"] - round(100 / 118, 4)) < 1e-9
    # 10 distinct keys, mean 11.8 rows -> hot is ~8.47x the mean
    assert abs(hot["skew_vs_mean"] - 8.4746) < 1e-9
    assert hot["salt_factor"] == 3  # ceil(100/40)
    assert out[1]["salt_factor"] == 1 and out[2]["salt_factor"] == 1


def test_skew_profile_deterministic_under_partitioning(spark):
    rows = [(f"k{i % 13}",) for i in range(390)]
    df = spark.createDataFrame(rows, "k string")
    a = checks.skew_profile(df.repartition(2), "k", top_n=5).collect()
    b = checks.skew_profile(df.repartition(17), "k", top_n=5).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_mad_outliers_flags_planted_extremes_only(spark):
    # 20 lengths near 100, two far outliers; ungrouped
    rows = [(f"d{i}", 100 + (i % 5)) for i in range(20)]
    rows += [("big", 10_000), ("tiny", 1)]
    df = spark.createDataFrame(rows, "doc_id string, v long")
    got = {r["doc_id"]: r for r in checks.mad_outliers(df, "v", k=3.5).collect()}
    assert set(got) == {"big", "tiny"}
    assert got["big"]["robust_z"] > 1000  # med=102, mad=1 -> z ~ 6676
    # stddev-based rules would NOT flag tiny here (the big outlier
    # inflates sigma); the 50%-breakdown median/MAD pair does


def test_mad_outliers_grouped_and_zero_mad_guard(spark):
    rows = [("a", f"x{i}", 50) for i in range(10)] + [("a", "out", 500)]
    rows += [("b", f"y{i}", 7) for i in range(8)]  # constant group: MAD=0
    df = spark.createDataFrame(rows, "g string, doc_id string, v long")
    got = checks.mad_outliers(df, "v", group_col="g", k=3.5).collect()
    # zero-MAD groups flag nothing (a: mad=0 too! all 50s except one ->
    # median 50, residuals all 0 except 450 -> mad=0) -> nothing flagged
    assert got == []
    rows2 = [("a", f"x{i}", 50 + (i % 3)) for i in range(10)] + [("a", "out", 500)]
    df2 = spark.createDataFrame(rows2, "g string, doc_id string, v long")
    got2 = checks.mad_outliers(df2, "v", group_col="g", k=3.5).collect()
    assert [r["doc_id"] for r in got2] == ["out"]
