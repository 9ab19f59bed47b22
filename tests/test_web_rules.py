"""Planted-case tests for the Gopher rule battery and the C4 cleaner.

Every expectation below is hand-computed from the published rule
definitions (Rae et al. 2021 §A1.1; Raffel et al. 2020 §2.2) — no
oracle replay here, except that the non-ASCII alpha-word case also runs
the DuckDB twin on its planted doc; the DuckDB-twin hash equality lives
in tests/test_queries_oracle.py rows ``gopher_rules`` / ``c4_clean``.
"""

from __future__ import annotations

from ocr_spark.operators.curation import c4_clean
from ocr_spark.operators.quality import gopher_rules

# 25 words (11 + 11 + 3), mean length in [3,10], two Gopher stopwords
# (the, with), no symbols/bullets/ellipses -> passes every rule at
# min_words=20
GOOD = " ".join(
    ["the quick brown fox jumps with great speed over lazy dogs"] * 2
    + ["apple banana cherry"]
)


def _rows(spark, docs):
    return {
        r["doc_id"]: r.asDict()
        for r in gopher_rules(
            spark.createDataFrame(docs, ["doc_id", "text"]), min_words=20
        ).collect()
    }


def test_gopher_good_doc_keeps(spark):
    row = _rows(spark, [("g", GOOD)])["g"]
    assert row["n_words"] == 25
    assert row["stop_hits"] == 2  # the, with
    assert row["keep"] is True


def test_gopher_bullet_rule(spark):
    # every line bullet-started -> 3/3 > 0.9 fails; words otherwise fine
    text = "\n".join("- " + GOOD for _ in range(3))
    row = _rows(spark, [("b", text)])["b"]
    assert row["n_bullet_lines"] == 3 and row["n_lines"] == 3
    assert row["ok_bullet_lines"] is False
    assert row["keep"] is False


def test_gopher_ellipsis_rule(spark):
    # 2 of 3 lines ellipsis-ended -> 2/3 > 0.3 fails
    text = GOOD + "...\n" + GOOD + "…\n" + GOOD
    row = _rows(spark, [("e", text)])["e"]
    assert row["n_ellipsis_lines"] == 2
    assert row["ok_ellipsis_lines"] is False


def test_gopher_symbol_rule(spark):
    # 25 words + 3 '#' -> 3/25 > 0.1 fails; '...' counts once more
    row = _rows(spark, [("s", GOOD + " # # #")])["s"]
    assert row["n_symbols"] == 3
    assert row["ok_symbol_ratio"] is False
    # boundary: 2 symbols on 25 words -> 2*10 <= 25 passes (exact integers)
    row2 = _rows(spark, [("s2", GOOD + " # #")])["s2"]
    assert row2["n_symbols"] == 2 and row2["ok_symbol_ratio"] is True


def test_gopher_alpha_and_length_rules(spark):
    # 7 numeric words in 32 -> alpha 25/32 < 0.8 (125 < 128, exact) fails
    text = GOOD + " " + " ".join(["123"] * 7)
    row = _rows(spark, [("a", text)])["a"]
    assert row["n_words"] == 32 and row["n_alpha_words"] == 25
    assert row["ok_alpha_words"] is False
    # 10 words < min 20 -> min-words rule fails
    short = _rows(spark, [("m", "one two three four five six s e v n")])["m"]
    assert short["ok_min_words"] is False and short["keep"] is False


def test_gopher_alpha_rule_counts_unicode_letters(spark):
    # a word is alphabetic when it holds any Unicode letter: 10 Cyrillic
    # words, the all-accented French/Portuguese words 'à' and 'é', and
    # 'élève' count; the 2 numbers do not -> 13/15 >= 0.8 passes
    import duckdb

    from ocr_spark.queries import SQL_GOPHER_RULES

    words = (
        "съешь же ещё этих мягких французских булок да выпей чаю".split()
        + ["à", "é", "élève", "123", "42"]
    )
    text = " ".join(words)
    row = _rows(spark, [("u", text)])["u"]
    assert row["n_words"] == 15 and row["n_alpha_words"] == 13
    assert row["ok_alpha_words"] is True
    # the DuckDB oracle twin agrees; doc_id 11 gets no marked-view lines
    # or prefixes, only re-wrapping, which keeps the same 15 tokens
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT 11 AS doc_id, ? AS text", [text])
    got = con.execute(
        f"SELECT n_words, n_alpha_words FROM ({SQL_GOPHER_RULES})"
    ).fetchall()
    con.close()
    assert got == [(15, 13)]


def test_gopher_stopword_rule(spark):
    # zero function words -> stop_hits 0 < 2 fails even when long enough
    text = " ".join(["alpha beta gamma delta epsilon"] * 5)
    row = _rows(spark, [("w", text)])["w"]
    assert row["stop_hits"] == 0 and row["ok_stop_words"] is False


L1 = "this first line carries exactly seven words."
L2 = "another line with six good words!"
L3 = 'a third quoted line of five words here?"'


def _clean(spark, docs):
    return {
        r["doc_id"]: r.asDict()
        for r in c4_clean(
            spark.createDataFrame(docs, ["doc_id", "text"])
        ).collect()
    }


def test_c4_keeps_three_good_lines(spark):
    text = "\n".join([L1, "too short.", "no terminal punctuation here at all", L2, L3])
    row = _clean(spark, [("k", text)])["k"]
    assert row["kept"] is True
    assert row["n_lines"] == 5 and row["n_kept"] == 3
    assert row["clean_text"] == "\n".join([L1, L2, L3])


def test_c4_page_drops(spark):
    base = "\n".join([L1, L2, L3])
    rows = _clean(
        spark,
        [
            ("lorem", base + "\nsome Lorem Ipsum filler text."),
            ("brace", base + "\nif (x) { return; }"),
            ("short", "\n".join([L1, L2])),  # only 2 surviving lines
        ],
    )
    for doc_id, row in rows.items():
        assert row["kept"] is False, doc_id
        assert row["n_kept"] == 0 and row["clean_text"] == ""


def test_c4_javascript_line_filtered_page_survives(spark):
    js = "please enable javascript to view this content today."
    row = _clean(spark, [("j", "\n".join([L1, L2, L3, js]))])["j"]
    assert row["kept"] is True
    assert row["n_kept"] == 3  # the js line is filtered, page survives
    assert "javascript" not in row["clean_text"]


def test_ratio_flag_integer_exactness(spark):
    """The integer cross-multiplication must agree with exact-rational
    comparison on every (num, den) pair — including values landing
    EXACTLY on the threshold, where a float division's last ulp could
    flip the boolean."""
    from fractions import Fraction

    import pyspark.sql.functions as F

    from ocr_spark.operators.quality import _ratio_flag

    cases = [
        (n, d)
        for n in range(0, 40)
        for d in (1, 3, 7, 10, 20, 30, 37)
    ]
    df = spark.createDataFrame(cases, "num long, den long")
    for thr in (0.1, 0.3, 0.8, 0.9):
        got = {
            (r["num"], r["den"]): (r["le"], r["ge"])
            for r in df.select(
                "num",
                "den",
                _ratio_flag(F.col("num"), F.col("den"), thr, le=True).alias("le"),
                _ratio_flag(F.col("num"), F.col("den"), thr, le=False).alias("ge"),
            ).collect()
        }
        t = Fraction(thr).limit_denominator(10_000)
        for n, d in cases:
            assert got[(n, d)] == (
                Fraction(n, d) <= t if d else n * t.denominator <= 0,
                Fraction(n, d) >= t if d else n * t.denominator >= 0,
            ), (n, d, thr)
