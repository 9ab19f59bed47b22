"""Semantics tests for repetition stats, line dedup, and sequence packing
(ocr_spark.operators.quality) on hand-computable inputs. Engine-vs-oracle
equality for the catalog forms is covered by test_queries_oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators import quality


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_stats_hand_computed(spark):
    # doc 0: 4 lines, "a b" repeated twice -> 1 dup line
    txt = "a b\nc d e\na b\nf"
    df = quality.repetition_stats(_docs(spark, [(0, txt)]))
    r = df.collect()[0]
    assert r["n_lines"] == 4
    assert r["dup_line_frac"] == pytest.approx(1 / 4)
    # chars: "a b"(3)*2 + "c d e"(5) + "f"(1) = 12; dup repeats: 1*3
    assert r["dup_line_char_frac"] == pytest.approx(3 / 12)
    # normalized words: a b c d e a b f -> top bigram "a b" (2 of 7)
    assert r["top_bigram"] == "a b"
    # norm text "a b c d e a b f" = 15 chars; "a b" len 3, cnt 2 -> 6/15
    assert r["top_bigram_frac"] == pytest.approx(6 / 15)


def test_repetition_stats_no_dups_single_word(spark):
    df = quality.repetition_stats(_docs(spark, [(1, "solo")]))
    r = df.collect()[0]
    assert r["n_lines"] == 1
    assert r["dup_line_frac"] == 0.0
    assert r["top_bigram"] is None
    assert r["top_bigram_frac"] == 0.0


def test_dedup_lines_keeps_first_occurrence_order(spark):
    txt = "x\ny\nx\nz\ny\nx"
    df = quality.dedup_lines(_docs(spark, [(0, txt)]))
    assert df.collect()[0]["text_clean"] == "x\ny\nz"


def test_pack_chunks_spans_and_offsets(spark):
    # one shard; budget 10. docs: 4, 10, 3 tokens in id order.
    rows = [
        (0, " ".join(["w"] * 4)),
        (8, " ".join(["w"] * 10)),
        (16, " ".join(["w"] * 3)),
    ]
    out = quality.pack_chunks(
        _docs(spark, rows), budget=10, n_shards=8
    ).filter(F.col("shard") == 0)
    got = {
        (r["doc_id"], r["seq_id"]): (r["doc_tok_start"], r["doc_tok_end"], r["seq_off"])
        for r in out.collect()
    }
    # layout: doc0 [0,4), doc8 [4,14) -> spans seqs 0 and 1, doc16 [14,17)
    assert got == {
        (0, 0): (0, 4, 0),
        (8, 0): (0, 6, 4),
        (8, 1): (6, 10, 0),
        (16, 1): (0, 3, 4),
    }


def test_pack_chunks_exact_boundary_no_empty_span(spark):
    # doc fills seq 0 exactly; next doc starts cleanly in seq 1
    rows = [(0, " ".join(["w"] * 10)), (8, "a b")]
    out = quality.pack_chunks(_docs(spark, rows), budget=10, n_shards=8)
    got = {(r["doc_id"], r["seq_id"]) for r in out.collect()}
    assert got == {(0, 0), (8, 1)}


def test_pack_chunks_deterministic_across_partitionings(spark):
    rows = [(i, " ".join(["w"] * (1 + i % 17))) for i in range(200)]
    base = quality.pack_chunks(_docs(spark, rows), budget=32, n_shards=4)
    shuffled = quality.pack_chunks(
        _docs(spark, rows).repartition(13), budget=32, n_shards=4
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, shuffled.collect()))
    # every token of every doc is covered exactly once
    tok = base.groupBy("doc_id").agg(
        F.sum(F.col("doc_tok_end") - F.col("doc_tok_start")).alias("n")
    )
    expect = {i: 1 + i % 17 for i in range(200)}
    assert {r["doc_id"]: r["n"] for r in tok.collect()} == expect


def _rand_docs(spark, n=60):
    """Deterministic pseudo-random lined docs (md5-derived words, planted
    repeats) — no RNG, same corpus every run."""
    import hashlib

    rows = []
    for i in range(n):
        words = [
            hashlib.md5(f"{i}:{j}".encode()).hexdigest()[: 2 + (i + j) % 3]
            for j in range(i % 23)
        ]
        width = 2 + i % 4
        lines = [
            " ".join(words[k : k + width]) for k in range(0, len(words), width)
        ]
        if i % 3 == 0 and lines:
            lines += lines[: 1 + i % 2]  # planted duplicate lines
        rows.append((i, "\n".join(lines) if lines else "x"))
    return _docs(spark, rows)


def test_dedup_lines_idempotent(spark):
    docs = _rand_docs(spark)
    once = quality.dedup_lines(docs)
    twice = quality.dedup_lines(
        once.select(F.col("doc_id"), F.col("text_clean").alias("text"))
    )
    a = {r["doc_id"]: r["text_clean"] for r in once.collect()}
    b = {r["doc_id"]: r["text_clean"] for r in twice.collect()}
    assert a == b
    # and a dedup'd doc has no repeated lines at all
    for t in a.values():
        ls = t.split("\n")
        assert len(ls) == len(set(ls))


def test_repetition_stats_bounds(spark):
    stats = quality.repetition_stats(_rand_docs(spark)).collect()
    assert len(stats) == 60
    for r in stats:
        assert 0.0 <= r["dup_line_frac"] < 1.0
        assert 0.0 <= r["dup_line_char_frac"] < 1.0
        assert 0.0 <= r["top_bigram_frac"] <= 1.0
        assert r["n_lines"] >= 1
        # planted duplicates must register
        if r["doc_id"] % 3 == 0 and r["doc_id"] % 23 > 2:
            assert r["dup_line_frac"] > 0.0


def _ref_repetition(text):
    """Pure-Python repetition_stats row: Java-ASCII ``\\s`` collapse,
    space-only trim, (count, bigram) argmax; a null text keeps no line
    signals and no bigram."""
    import re
    from collections import Counter

    if text is None:
        return (None, None, None, None, 0.0)
    lines = text.split("\n")
    uniq = set(lines)
    sumlen = sum(map(len, lines))
    words = re.sub(r"[ \t\n\x0b\f\r]+", " ", text).strip(" ").split(" ")
    bigrams = Counter(" ".join(words[i : i + 2]) for i in range(len(words) - 1))
    top = max(((c, b) for b, c in bigrams.items()), default=None)
    return (
        len(lines),
        (len(lines) - len(uniq)) / len(lines),
        (sumlen - sum(map(len, uniq))) / max(sumlen, 1),
        top and top[1],
        0.0 if top is None else top[0] * len(top[1]) / max(len(" ".join(words)), 1),
    )


def _ref_dedup_lines(text):
    return None if text is None else "\n".join(dict.fromkeys(text.split("\n")))


def test_repetition_and_dedup_match_python_reference(spark):
    """repetition_stats and dedup_lines equal pure-Python references on
    randomized docs plus hand-picked edges (empty text, one word, tied
    bigram counts, all-identical lines, a trailing newline, null text)."""
    edge = [
        (9001, ""),
        (9002, "one"),
        (9003, "a b a b a b"),
        (9004, "x\nx\nx\ny"),
        (9005, "t u\nt u"),
        (9006, "z z z z z z"),
        (9007, "  spaced   words  here  "),
        (9008, "a b c a b c"),  # 'a b' and 'b c' tie -> greatest wins
        (9009, "p\tq\n\nq p\n"),
        (9010, None),
    ]
    rand = [(r["doc_id"], r["text"]) for r in _rand_docs(spark).collect()]
    texts = dict(rand + edge)
    docs = _docs(spark, rand + edge)
    got = {r["doc_id"]: tuple(r)[1:] for r in quality.repetition_stats(docs).collect()}
    assert got == {d: _ref_repetition(t) for d, t in texts.items()}
    assert got[9008][3] == "b c"
    clean = {r["doc_id"]: r["text_clean"] for r in quality.dedup_lines(docs).collect()}
    assert clean == {d: _ref_dedup_lines(t) for d, t in texts.items()}


def test_unigram_logprob_matches_scalar_reference(spark):
    import math

    corpus = {1: "a a b", 2: "b c", 3: "a"}
    docs = _docs(spark, list(corpus.items()))
    got = {
        r["doc_id"]: (r["n_tok"], round(r["logprob"], 9))
        for r in quality.unigram_logprob(docs).collect()
    }
    toks = {d: t.split() for d, t in corpus.items()}
    n_total = sum(len(t) for t in toks.values())
    cnt = {}
    for t in toks.values():
        for w in t:
            cnt[w] = cnt.get(w, 0) + 1
    want = {}
    for d, words in toks.items():
        lp = sum(math.log(cnt[w] / n_total) for w in words) / len(words)
        want[d] = (len(words), round(lp, 9))
    assert got == want


# --------------------------------------------------------------------------
# DSIR importance resampling
# --------------------------------------------------------------------------


def test_dsir_importance_matches_scalar_reference(spark):
    import math

    src = {1: "a a b", 2: "b c", 3: "a c c"}
    tgt = {10: "c c c a"}
    docs = _docs(spark, list(src.items()))
    target = _docs(spark, list(tgt.items()))
    tm = quality.unigram_model(target, vocab_size=100)
    sm = quality.unigram_model(docs, vocab_size=100)
    got = {
        r["doc_id"]: (r["n_tok"], round(r["llr"], 9))
        for r in quality.dsir_importance(docs, tm, sm).collect()
    }
    # scalar replay
    scnt, tcnt = {}, {}
    for t in src.values():
        for w in t.split():
            scnt[w] = scnt.get(w, 0) + 1
    for t in tgt.values():
        for w in t.split():
            tcnt[w] = tcnt.get(w, 0) + 1
    sN, tN = sum(scnt.values()), sum(tcnt.values())
    def lp(c, n, w):
        return math.log(c[w] / n) if w in c else math.log(0.5 / n)
    want = {}
    for d, t in src.items():
        ws = t.split()
        want[d] = (
            len(ws),
            round(sum(lp(tcnt, tN, w) - lp(scnt, sN, w) for w in ws), 9),
        )
    assert got == want


def test_dsir_select_prefers_target_like_docs(spark):
    """Docs made of the target's tokens must out-select docs that share
    nothing with the target."""
    target = _docs(spark, [(100, "xx yy zz xx yy")])
    # 60-token docs: the llr gap between the two groups (~28 nats) dwarfs
    # the Gumbel noise (ln(-ln u) spans a few nats), so the draw is
    # effectively the top-llr set
    rows = [(i, "xx yy zz yy xx zz " * 10) for i in range(10)] + [
        (i, "aa bb cc dd ee ff " * 10) for i in range(10, 20)
    ]
    docs = _docs(spark, rows)
    picked = {
        r["doc_id"]
        for r in quality.dsir_select(docs, target, n=10, vocab_size=100).collect()
    }
    assert picked == set(range(10))


def test_dsir_select_survives_extreme_llr(spark):
    """llr of ±hundreds would overflow exp() in the naive A-ES key; the
    Gumbel-log form must keep every key finite and still rank the
    target-identical long doc first."""
    long_hit = "tok " * 500  # 500 target tokens -> llr >> 700 (exp overflows)
    long_miss = "other " * 500
    docs = _docs(spark, [(1, long_hit), (2, long_miss), (3, "tok other")])
    target = _docs(spark, [(9, "tok tok tok")])
    out = quality.dsir_select(docs, target, n=2, vocab_size=100).collect()
    ids = [r["doc_id"] for r in out]
    assert 1 in ids and 2 not in ids
    for r in out:
        import math
        assert math.isfinite(r["llr"])


def test_bigram_model_counts_and_head_ties(spark):
    import math

    corpus = spark.createDataFrame(
        [("d1", "a b a b"), ("d2", "a c b")], "doc_id string, text string"
    )
    m = {(r["w1"], r["w2"]): r["lp"] for r in quality.bigram_model(corpus, 2).collect()}
    # counts: ab:2 ba:1 ac:1 cb:1; unigrams a:3 b:3 c:1 -> head keeps ab
    # then the tie at c12=1 breaks on (w1, w2) asc -> ac
    assert set(m) == {("a", "b"), ("a", "c")}
    assert abs(m[("a", "b")] - math.log(2 / 3)) < 1e-12
    assert abs(m[("a", "c")] - math.log(1 / 3)) < 1e-12


def test_bigram_score_exercises_all_backoff_branches(spark):
    import math

    corpus = spark.createDataFrame(
        [("d1", "a b a b"), ("d2", "a c b")], "doc_id string, text string"
    )
    uni = quality.unigram_model(corpus, vocab_size=2)   # head = {a, b}, N=7
    bi = quality.bigram_model(corpus, bigram_size=2)    # head = {ab, ac}
    q = spark.createDataFrame([("q1", "b a c a b x")], "doc_id string, text string")
    rows = quality.score_with_bigram_model(q, bi, uni, alpha=0.4).collect()
    assert len(rows) == 1 and rows[0]["n_pairs"] == 5
    ln, a = math.log, math.log(0.4)
    expected = (
        (a + ln(3 / 7))        # (b,a): bigram miss -> backoff to unigram a
        + ln(1 / 3)            # (a,c): bigram head hit
        + (a + ln(3 / 7))      # (c,a): backoff to unigram a
        + ln(2 / 3)            # (a,b): bigram head hit
        + (a + ln(0.5 / 7))    # (b,x): backoff, x OOV -> floor
    ) / 5
    assert abs(rows[0]["logprob"] - expected) < 1e-12


def test_bigram_pairs_short_docs_emit_nothing(spark):
    df = spark.createDataFrame(
        [("one", "solo"), ("zero", ""), ("two", "x y")],
        "doc_id string, text string",
    )
    got = {(r["doc_id"], r["w1"], r["w2"]) for r in quality.bigram_pairs(df).collect()}
    assert got == {("two", "x", "y")}


def test_token_entropy_hand_computed(spark):
    import math

    df = spark.createDataFrame(
        [("d1", "a a b"), ("d2", "x"), ("d3", "")], "doc_id string, text string"
    )
    rows = {r["doc_id"]: r for r in quality.token_entropy(df).collect()}
    assert set(rows) == {"d1", "d2"}  # zero-token docs emit nothing
    d1 = rows["d1"]
    assert d1["n_tok"] == 3 and d1["n_types"] == 2
    assert abs(d1["entropy"] - (math.log(3) - 2 * math.log(2) / 3)) < 1e-12
    assert abs(d1["ttr"] - 2 / 3) < 1e-12
    d2 = rows["d2"]
    assert d2["n_tok"] == d2["n_types"] == 1
    assert abs(d2["entropy"]) < 1e-12 and abs(d2["ttr"] - 1.0) < 1e-12


def test_collocations_pmi_hand_computed(spark):
    import math

    df = spark.createDataFrame(
        [("d1", "new york new york new york"), ("d2", "old boston")],
        "doc_id string, text string",
    )
    got = {(r["w1"], r["w2"]): r for r in quality.collocations(df, min_count=2).collect()}
    # pairs: (new,york) x3, (york,new) x2, (old,boston) x1 -> threshold keeps 2
    assert set(got) == {("new", "york"), ("york", "new")}
    # N_pairs = 6 (ALL pairs, not just survivors), N_tok = 8; c(new)=c(york)=3
    ny, yn = got[("new", "york")], got[("york", "new")]
    assert ny["c12"] == 3 and yn["c12"] == 2
    assert abs(ny["pmi"] - math.log((3 / 6) / ((3 / 8) * (3 / 8)))) < 1e-12
    assert abs(yn["pmi"] - math.log((2 / 6) / ((3 / 8) * (3 / 8)))) < 1e-12


def test_chunk_documents_windows_and_overlap(spark):
    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame(
        [("d1", text), ("d2", "a b"), ("d3", "")], "doc_id string, text string"
    )
    rows = sorted(
        ((r["doc_id"], r["chunk_id"], r["n_tok"], r["chunk"])
         for r in quality.chunk_documents(df, chunk_tokens=4, stride=3).collect())
    )
    # d1: starts 0,3,6,9 -> windows of 4 with 1-token overlap; tail short
    assert rows == [
        ("d1", 0, 4, "t0 t1 t2 t3"),
        ("d1", 1, 4, "t3 t4 t5 t6"),
        ("d1", 2, 4, "t6 t7 t8 t9"),
        ("d1", 3, 1, "t9"),
        ("d2", 0, 2, "a b"),          # short doc: one short chunk
    ]                                  # empty doc emits nothing
    # every token appears in at least one chunk
    covered = set()
    for _, _, _, c in rows[:4]:
        covered.update(c.split())
    assert covered == {f"t{i}" for i in range(10)}


def test_chunk_documents_rejects_bad_stride(spark):
    df = spark.createDataFrame([("d", "x")], "doc_id string, text string")
    with pytest.raises(ValueError, match="stride"):
        quality.chunk_documents(df, chunk_tokens=4, stride=5)
    with pytest.raises(ValueError, match="stride"):
        quality.chunk_documents(df, chunk_tokens=0)


def test_boilerplate_lines_cross_doc_counts(spark):
    # "footer" in docs 0,1,2; "menu" in 0,1; "body N" unique per doc
    docs = _docs(
        spark,
        [
            (0, "body 0\nmenu\nfooter"),
            (1, "menu\nbody 1\nfooter"),
            (2, "footer\nbody 2"),
        ],
    )
    got = {
        r["line_md5"]: r["n_docs"]
        for r in quality.boilerplate_lines(docs, min_docs=2).collect()
    }
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got == {md5("footer"): 3, md5("menu"): 2}


def test_remove_boilerplate_drops_shared_keeps_unique(spark):
    docs = _docs(
        spark,
        [
            (0, "body 0\nmenu\nfooter"),
            (1, "menu\nbody 1\nfooter"),
            (2, "footer\nbody 2"),
            (3, "footer\nmenu"),  # all-boilerplate doc -> empty, still present
        ],
    )
    got = {
        r["doc_id"]: r["text_clean"]
        for r in quality.remove_boilerplate(docs, min_docs=2).collect()
    }
    assert got == {0: "body 0", 1: "body 1", 2: "body 2", 3: ""}


def test_remove_boilerplate_within_doc_repeats_survive(spark):
    # a line repeated WITHIN one doc is not cross-document boilerplate
    docs = _docs(spark, [(0, "x\ny\nx"), (1, "z")])
    got = {
        r["doc_id"]: r["text_clean"]
        for r in quality.remove_boilerplate(docs, min_docs=2).collect()
    }
    assert got == {0: "x\ny\nx", 1: "z"}


def test_remove_boilerplate_threshold_and_stats_injection(spark):
    docs = _docs(spark, [(0, "a\nb"), (1, "a\nc"), (2, "a\nd")])
    # min_docs=3: only "a" (3 docs) flagged
    got = {
        r["doc_id"]: r["text_clean"]
        for r in quality.remove_boilerplate(docs, min_docs=3).collect()
    }
    assert got == {0: "b", 1: "c", 2: "d"}
    # injected stats frame (the maintained-statistic path) must be honored
    stats = quality.boilerplate_lines(docs, min_docs=3)
    got2 = {
        r["doc_id"]: r["text_clean"]
        for r in quality.remove_boilerplate(docs, min_docs=3, stats=stats).collect()
    }
    assert got2 == got


def test_remove_boilerplate_local_equals_antijoin_form(spark):
    docs = _docs(
        spark,
        [
            (0, "body 0\nmenu\nfooter"),
            (1, "menu\nbody 1\nfooter"),
            (2, "footer\nbody 2"),
            (3, "footer\nmenu"),
        ],
    )
    stats = quality.boilerplate_lines(docs, min_docs=1)
    a = {
        r["doc_id"]: r["text_clean"]
        for r in quality.remove_boilerplate(docs, min_docs=2, stats=stats).collect()
    }
    b = {
        r["doc_id"]: r["text_clean"]
        for r in quality.remove_boilerplate_local(docs, stats, min_docs=2).collect()
    }
    assert a == b and b[3] == ""


def test_perplexity_buckets_terciles(spark):
    # one lang with three well-separated score tiers of 3 docs each
    # (common tokens score high, unique gibberish low), plus a 3-doc
    # second lang — boundaries must be computed per language.
    rows = []
    for i in range(3):
        rows.append((i, "the the the the", "en"))  # high logprob tier
        rows.append((3 + i, f"the mid{i} the", "en"))  # middle tier
        rows.append((6 + i, f"zz{i}a zz{i}b zz{i}c zz{i}d", "en"))  # low tier
    rows += [(9, "le le le", "fr"), (10, "le un", "fr"), (11, "uniq1 uniq2", "fr")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r["doc_id"]: r for r in quality.perplexity_buckets(docs).collect()}
    assert len(got) == 12
    # en: each tier lands in its own bucket
    assert all(got[i]["bucket"] == "head" for i in range(3))
    assert all(got[3 + i]["bucket"] == "middle" for i in range(3))
    assert all(got[6 + i]["bucket"] == "tail" for i in range(3))
    # fr terciles are independent of en's boundaries
    assert (got[9]["bucket"], got[10]["bucket"], got[11]["bucket"]) == (
        "head",
        "middle",
        "tail",
    )
    # bucket label must be monotone in the score within each lang
    for lang in ("en", "fr"):
        rank = {"head": 0, "middle": 1, "tail": 2}
        rs = sorted(
            (r for r in got.values() if r["lang"] == lang),
            key=lambda r: -r["lp"],
        )
        assert [rank[r["bucket"]] for r in rs] == sorted(
            rank[r["bucket"]] for r in rs
        )


def _tiered_docs(spark):
    rows = []
    for i in range(3):
        rows.append((i, "the the the the", "en"))
        rows.append((3 + i, f"the mid{i} the", "en"))
        rows.append((6 + i, f"zz{i}a zz{i}b zz{i}c zz{i}d", "en"))
    rows += [(9, "le le le", "fr"), (10, "le un", "fr"), (11, "uniq1 uniq2", "fr")]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_bucket_with_bounds_full_vocab_equals_self_buckets(spark):
    # with the model head covering the whole vocabulary, the artifact
    # score equals the self-corpus unigram_logprob, so the frozen-bounds
    # apply must reproduce perplexity_buckets exactly
    docs = _tiered_docs(spark)
    model = quality.unigram_model(docs, vocab_size=10_000)
    bounds = quality.perplexity_bucket_bounds(docs, model)
    applied = {
        r["doc_id"]: (r["lang"], r["lp"], r["bucket"])
        for r in quality.bucket_with_bounds(docs, model, bounds).collect()
    }
    full = {
        r["doc_id"]: (r["lang"], r["lp"], r["bucket"])
        for r in quality.perplexity_buckets(docs).collect()
    }
    assert applied == full


def test_bucket_with_bounds_unseen_lang_is_null(spark):
    docs = _tiered_docs(spark)
    model = quality.unigram_model(docs, vocab_size=10_000)
    bounds = quality.perplexity_bucket_bounds(docs, model)
    delivery = spark.createDataFrame(
        [(100, "the the mid0", "de")], "doc_id long, text string, lang string"
    )
    rows = quality.bucket_with_bounds(delivery, model, bounds).collect()
    assert len(rows) == 1 and rows[0]["bucket"] is None


# ------------------------------------------------------------------
# Naive Bayes classifier quality filter (nb_model / nb_classify)
# ------------------------------------------------------------------

import math


def _labeled(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _nb_train(spark):
    # web: tokens {cat:3, dog:1, fish:1} over 2 docs, N=5
    # book: tokens {dog:2, bird:4, cat:1} over 2 docs, N=7
    return _labeled(
        spark,
        [
            (0, "web", "cat cat dog"),
            (1, "web", "cat fish"),
            (2, "book", "dog dog bird"),
            (3, "book", "bird bird bird cat"),
        ],
    )


def test_nb_model_dense_head_and_hand_computed_lp(spark):
    m = quality.nb_model(_nb_train(spark), label_col="source", vocab_size=10)
    rows = m.collect()
    # dense over classes x head: 2 labels x 4 distinct tokens
    assert len(rows) == 2 * 4
    by = {(r["label"], r["tok"]): r for r in rows}
    # web: denom = 5 + 0.5 * (4 + 1) = 7.5
    assert by[("web", "cat")]["lp"] == pytest.approx(math.log(3.5 / 7.5))
    # head token the class never produced -> alpha mass, == oov_lp
    assert by[("web", "bird")]["lp"] == pytest.approx(math.log(0.5 / 7.5))
    assert by[("web", "bird")]["oov_lp"] == pytest.approx(math.log(0.5 / 7.5))
    # book: denom = 7 + 2.5 = 9.5
    assert by[("book", "bird")]["lp"] == pytest.approx(math.log(4.5 / 9.5))
    # priors: 2/4 docs each
    assert by[("web", "cat")]["prior_lp"] == pytest.approx(math.log(0.5))
    # full-vocab head: per-class likelihood mass (head + oov bucket) == 1
    for lab in ("web", "book"):
        s = sum(math.exp(r["lp"]) for r in rows if r["label"] == lab)
        oov = math.exp(by[(lab, "cat")]["oov_lp"])
        assert s + oov == pytest.approx(1.0)


def test_nb_model_head_is_global_topv_with_tok_tiebreak(spark):
    m = quality.nb_model(_nb_train(spark), label_col="source", vocab_size=2)
    toks = {r["tok"] for r in m.collect()}
    # global counts: cat 4, bird 4, dog 3, fish 1 -> top-2 ties (cat,
    # bird) both at 4; head is deterministic regardless
    assert toks == {"bird", "cat"}


def test_nb_classify_hand_computed_scores_and_margin(spark):
    model = quality.nb_model(_nb_train(spark), label_col="source", vocab_size=10)
    new = spark.createDataFrame(
        [(10, "cat cat fish"), (11, "bird bird dog")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in quality.nb_classify(new, model).collect()}
    assert got[10]["pred"] == "web" and got[11]["pred"] == "book"
    want_web = math.log(0.5) + 2 * math.log(3.5 / 7.5) + math.log(1.5 / 7.5)
    want_book = math.log(0.5) + 2 * math.log(1.5 / 9.5) + math.log(0.5 / 9.5)
    assert got[10]["score"] == pytest.approx(want_web)
    assert got[10]["margin"] == pytest.approx(want_web - want_book)
    assert got[11]["margin"] > 0


def test_nb_classify_oov_only_doc_uses_the_floor(spark):
    model = quality.nb_model(_nb_train(spark), label_col="source", vocab_size=10)
    new = spark.createDataFrame([(12, "zebra")], "doc_id long, text string")
    r = quality.nb_classify(new, model).collect()[0]
    # equal priors -> decided purely by the OOV floor; web's smaller
    # denominator gives it the larger (less negative) floor
    assert r["pred"] == "web"
    assert r["score"] == pytest.approx(math.log(0.5) + math.log(0.5 / 7.5))
    assert r["margin"] == pytest.approx(math.log(9.5 / 7.5))


def test_nb_classify_single_class_margin_zero_and_empty_doc_dropped(spark):
    train = _labeled(spark, [(0, "a", "x y"), (1, "a", "y z")])
    model = quality.nb_model(train, label_col="source", vocab_size=10)
    new = spark.createDataFrame(
        [(5, "x unseen"), (6, "   ")], "doc_id long, text string"
    )
    rows = quality.nb_classify(new, model).collect()
    assert len(rows) == 1  # the zero-token doc produces no row
    assert rows[0]["pred"] == "a" and rows[0]["margin"] == 0.0


def test_nb_reference_filter_keeps_reference_like_docs(spark):
    # NOTE the raw side doubles as the negative class (GPT-3 recipe),
    # so the reference-like raw doc is label noise in its own negative
    # class; the reference corpus must carry the stronger signal.
    # Hand-checked: doc 0 scores ref -4.666 vs raw -7.565; doc 1 scores
    # ref -10.504 vs raw -5.109.
    reference = spark.createDataFrame(
        [("alpha beta gamma",)] * 3, "text string"
    )
    raw = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "spam eggs ham"),
            (2, "spam ham eggs"),
            (3, "ham spam spam"),
        ],
        "doc_id long, text string",
    )
    out = quality.nb_reference_filter(raw, reference, min_margin=0.0)
    assert sorted(r["doc_id"] for r in out.collect()) == [0]
    # without the threshold every row survives with labels attached
    labeled = quality.nb_reference_filter(raw, reference)
    rows = {r["doc_id"]: r["nb_pred"] for r in labeled.collect()}
    assert len(rows) == 4 and rows[0] == "ref" and rows[1] == "raw"


def test_nb_reference_filter_zero_token_doc(spark):
    reference = spark.createDataFrame([("alpha beta",)] * 2, "text string")
    raw = spark.createDataFrame(
        [(0, "alpha beta alpha"), (1, "   "), (2, "zzz yyy zzz"), (3, "yyy zzz yyy")],
        "doc_id long, text string",
    )
    labeled = quality.nb_reference_filter(raw, reference)
    rows = {r["doc_id"]: r["nb_pred"] for r in labeled.collect()}
    assert len(rows) == 4 and rows[1] is None  # zero-token doc: NULL label
    filtered = quality.nb_reference_filter(raw, reference, min_margin=0.0)
    assert [r["doc_id"] for r in filtered.collect()] == [0]


def _spans_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id long, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>",
    )


def test_pack_interleaved_greedy_and_atomic_media(spark):
    # budget 30, media 24: doc 0 fits whole (3+24+2=29); doc 1's 70-token
    # text span exceeds the budget alone (own sequence, never split) and
    # the image starts sequence 1; doc 2's three images can never pair
    # (24+24>30) -> one per sequence, atomic.
    df = _spans_df(
        spark,
        [
            (0, [("text", "one two three", "", 0), ("image", "", "img:0", 1),
                 ("text", "four five", "", 2)]),
            (1, [("text", " ".join(["w"] * 70), "", 0), ("image", "", "img:1", 1)]),
            (2, [("image", "", "a", 0), ("image", "", "b", 1), ("image", "", "c", 2)]),
        ],
    )
    out = quality.pack_interleaved(df, budget=30, media_tokens=24)
    got = {
        (r["doc_id"], r["seq"]): (r["n_spans"], r["n_tokens"], r["n_media"], r["kinds"])
        for r in out.collect()
    }
    assert got == {
        (0, 0): (3, 29, 1, "text,image,text"),
        (1, 0): (1, 70, 0, "text"),
        (1, 1): (1, 24, 1, "image"),
        (2, 0): (1, 24, 1, "image"),
        (2, 1): (1, 24, 1, "image"),
        (2, 2): (1, 24, 1, "image"),
    }


def test_pack_interleaved_empty_and_zero_cost_spans(spark):
    # empty spans array -> no rows; a zero-token text span never forces
    # a roll (used + 0 <= budget) and stays in the current sequence.
    df = _spans_df(
        spark,
        [
            (0, []),
            (1, [("text", "a b c", "", 0), ("text", "   ", "", 1),
                 ("text", "d e", "", 2)]),
        ],
    )
    out = quality.pack_interleaved(df, budget=4, media_tokens=4)
    rows = out.collect()
    assert {r["doc_id"] for r in rows} == {1}
    got = {r["seq"]: (r["n_spans"], r["n_tokens"]) for r in rows}
    assert got == {0: (2, 3), 1: (1, 2)}


def test_pack_interleaved_export_payload(spark):
    # same fixture as the manifest test: the export must carry the
    # sequence's in-order text and media refs
    df = _spans_df(
        spark,
        [
            (0, [("text", "one two three", "", 0), ("image", "", "img:0", 1),
                 ("text", "four five", "", 2)]),
            (2, [("image", "", "a", 0), ("image", "", "b", 1)]),
        ],
    )
    out = quality.pack_interleaved_export(df, budget=30, media_tokens=24)
    got = {
        (r["doc_id"], r["seq"]): (r["text"], r["media_refs"], r["n_tokens"])
        for r in out.collect()
    }
    assert got == {
        (0, 0): ("one two three four five", "img:0", 29),
        (2, 0): ("", "a", 24),
        (2, 1): ("", "b", 24),
    }


def test_pack_interleaved_export_consistent_with_manifest(spark):
    # the export re-derives the greedy assignment independently; on the
    # corpus-shaped interleaved view (budget/media as in the catalog)
    # its (doc, seq, n_tokens) must equal the manifest's exactly
    from ocr_spark.queries import (
        _IPACK_BUDGET,
        _IPACK_MEDIA,
        _interleaved_view,
        _t,
    )

    view = _interleaved_view(_t(spark, "/root/testdata/sf0.001", "documents"))
    man = {
        (r["doc_id"], r["seq"]): r["n_tokens"]
        for r in quality.pack_interleaved(
            view, budget=_IPACK_BUDGET, media_tokens=_IPACK_MEDIA
        ).collect()
    }
    exp = {
        (r["doc_id"], r["seq"]): r["n_tokens"]
        for r in quality.pack_interleaved_export(
            view, budget=_IPACK_BUDGET, media_tokens=_IPACK_MEDIA
        ).collect()
    }
    assert man == exp and len(man) > 0


def _ref_pack(spans, budget, media_tokens):
    """Pure-Python greedy packer: (manifest rows, export rows) keyed by seq."""
    seqs, used = [], 0
    for kind, text, ref, _ in spans:
        cost = media_tokens if ref != "" else len(text.split())
        if not seqs or (used + cost > budget and used > 0):
            seqs.append([])
            used = 0
        seqs[-1].append((kind, text, ref, cost))
        used += cost
    manifest, export = {}, {}
    for q, run in enumerate(seqs):
        n_tok = sum(c for *_, c in run)
        manifest[q] = (
            len(run), n_tok, sum(r != "" for _, _, r, _ in run),
            ",".join(k for k, *_ in run),
        )
        export[q] = (
            " ".join(t for _, t, r, _ in run if r == ""),
            ",".join(r for _, _, r, _ in run if r != ""),
            n_tok,
        )
    return manifest, export


def test_pack_interleaved_long_doc_matches_python_packer(spark):
    # 131 mixed spans: images and pdfs, empty and blank text, text spans
    # longer than the budget (own sequence), under a budget of 12
    spans = []
    for i in range(131):
        if i % 3 == 1:
            spans.append(("image", "", f"img:{i}", i))
        elif i % 7 == 0:
            spans.append(("pdf", "", f"pdf:{i}", i))
        elif i % 13 == 2:
            spans.append(("text", " ".join(["long"] * 20), "", i))
        elif i % 11 == 5:
            spans.append(("text", "   ", "", i))
        else:
            spans.append(("text", " ".join(f"w{i}" for _ in range(i * 5 % 11)), "", i))
    df = _spans_df(spark, [(7, spans)])
    manifest, export = _ref_pack(spans, budget=12, media_tokens=5)
    assert len(manifest) > 20
    got = {
        (r["doc_id"], r["seq"]): (r["n_spans"], r["n_tokens"], r["n_media"], r["kinds"])
        for r in quality.pack_interleaved(df, budget=12, media_tokens=5).collect()
    }
    assert got == {(7, q): v for q, v in manifest.items()}
    got = {
        (r["doc_id"], r["seq"]): (r["text"], r["media_refs"], r["n_tokens"])
        for r in quality.pack_interleaved_export(df, budget=12, media_tokens=5).collect()
    }
    assert got == {(7, q): v for q, v in export.items()}
