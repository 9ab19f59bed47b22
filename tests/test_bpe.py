"""BPE trainer tests: Spark learner == pure-Python textbook reference
(tests/ref_bpe.py) on small corpora, plus targeted semantics (tie-break
determinism, non-overlapping left-to-right merges, early stop).

The corpus-scale proof is the golden pin: tools/gen_bpe_golden.py
writes the reference's output over the 100-doc synthesized corpus and
the catalog rows hash-match it (driver-sim + oracle gate)."""

from __future__ import annotations

import re

from tests import ref_bpe
from ocr_spark.operators import bpe


def _corpus(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _learn_both(spark, texts, n_merges=10, min_count=2):
    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe.bpe_learn(
            _corpus(spark, texts), n_merges=n_merges, min_count=min_count
        ).orderBy("rank").collect()
    ]
    want, _ = ref_bpe.learn(
        ref_bpe.word_counts(texts), n_merges=n_merges, min_count=min_count
    )
    return got, want


def test_learn_matches_reference_classic_corpus(spark):
    texts = ["low low low low low", "lower lower newest newest", "widest newest"]
    got, want = _learn_both(spark, texts)
    assert got == want and len(got) == 10


def test_learn_tie_break_and_early_stop(spark):
    # two words, all pairs count 1 -> below min_count 2 everywhere after
    # the shared prefix merges; ties resolve lexicographically the same
    # way in both implementations
    texts = ["ab ab cd"]
    got, want = _learn_both(spark, texts, n_merges=50)
    assert got == want
    assert len(got) < 50  # ran out of >= min_count pairs -> early stop


def test_merge_is_left_to_right_non_overlapping(spark):
    # 'aaaa': the (a,a) COUNT is over raw adjacent pairs (3 per word
    # x 2 words = 6), but the MERGE applies left-to-right
    # non-overlapping -> [aa, aa, </w>]. Rank-1 then TIES (aa,aa) with
    # (aa,</w>) at 2 and the lexicographic tie-break picks (aa,</w>)
    # ('<' sorts before 'a').
    texts = ["aaaa aaaa"]
    got, want = _learn_both(spark, texts, n_merges=2, min_count=2)
    assert got == want
    assert (got[0][1], got[0][2], got[0][3]) == ("a", "a", 6)
    assert (got[1][1], got[1][2]) == ("aa", "</w>")


def test_segment_matches_reference(spark):
    texts = ["low low low low low", "lower lower newest newest", "widest newest"]
    merges_df = bpe.bpe_learn(_corpus(spark, texts), n_merges=8)
    got = {
        r["word"]: (r["tokens"], r["cnt"], r["n_tokens"])
        for r in bpe.bpe_segment(_corpus(spark, texts), merges_df).collect()
    }
    wc = ref_bpe.word_counts(texts)
    merges, _ = ref_bpe.learn(wc, n_merges=8)
    want = {
        w: (" ".join(toks), cnt, len(toks))
        for w, (toks, cnt) in ref_bpe.segment(wc, merges).items()
    }
    assert got == want


def test_learn_from_counts_equals_learn(spark):
    # the loop over a precomputed statistic == the end-to-end learner
    # (word_type_counts and quality.token_counts compute the identical
    # normalized statistic, so either feeds it)
    from ocr_spark.operators import quality

    texts = ["low low low low low", "lower lower newest newest", "widest newest"]
    c = _corpus(spark, texts)
    direct = bpe.bpe_learn(c, n_merges=6).orderBy("rank").collect()
    via_counts = bpe.bpe_learn_from_counts(
        quality.token_counts(c, "text"), n_merges=6, word_col="tok"
    ).orderBy("rank").collect()
    assert [tuple(r) for r in direct] == [tuple(r) for r in via_counts]


def test_golden_corpus_has_only_ascii_whitespace():
    r"""The golden pin's precondition: ``ref_bpe.normalize`` (Unicode
    ``\s``, ``str.strip``) equals the ASCII-whitespace form Spark's
    ``dedup.normalized`` computes (Java ``\s``, ``trim`` of spaces) on
    every text of the golden corpus."""
    from tools.gen_bpe_golden import N_DOCS, corpus_texts

    texts = corpus_texts()
    assert len(texts) == N_DOCS
    for t in texts:
        ascii_form = re.sub(r"\s+", " ", t.lower(), flags=re.ASCII).strip(" ")
        assert ref_bpe.normalize(t) == ascii_form
