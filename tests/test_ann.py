"""ANN quality: the approximate paths must reach reasonable recall@k
against the brute-force baseline on the same data, and stay deterministic."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from ocr_spark.operators import similarity
from tests import ref_ann
from tests.spark_jobs import counted

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _topk_sets(df):
    rows = df.collect()
    out: dict[int, set] = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def test_ivf_recall_vs_brute(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = _topk_sets(similarity.brute_force_topk(emb, queries, k=5))
    approx = _topk_sets(similarity.ivf_topk(emb, queries, k=5, n_lists=16, nprobe=4))
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    recall = hits / total
    assert recall >= 0.5, f"IVF recall@5 too low: {recall:.2f}"


def test_ivf_deterministic(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    a = similarity.ivf_topk(emb, queries, k=5).collect()
    b = similarity.ivf_topk(emb, queries, k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ivf_every_query_answered(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    out = similarity.ivf_topk(emb, queries, k=5, n_lists=16, nprobe=4)
    per_q = out.groupBy("query_id").count().collect()
    assert len(per_q) == 20
    assert all(r["count"] == 5 for r in per_q)


def test_lsh_recall_vs_brute(spark, emb):
    """Round-1 hole: single-band LSH returned >50% empty slots with no
    quality gate.  Multi-band + multiprobe must reach recall@5 ≥ 0.6 on
    the near-orthogonal synthetic embeddings (measured 0.84 at defaults)."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = _topk_sets(similarity.brute_force_topk(emb, queries, k=5))
    approx = _topk_sets(similarity.lsh_topk(emb, queries, dim=64, k=5))
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    recall = hits / total
    assert recall >= 0.6, f"LSH recall@5 too low: {recall:.2f}"


def test_lsh_every_query_answered(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    out = similarity.lsh_topk(emb, queries, dim=64, k=5)
    per_q = out.groupBy("query_id").count().collect()
    assert len(per_q) == 20
    assert all(r["count"] == 5 for r in per_q)


def test_lsh_deterministic(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    a = similarity.lsh_topk(emb, queries, dim=64, k=5).collect()
    b = similarity.lsh_topk(emb, queries, dim=64, k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --------------------------------------------------------------------------
# product quantization (PQ / ADC)
# --------------------------------------------------------------------------


def test_pq_codes_bounded_and_deterministic(spark, emb):
    books = similarity.pq_codebooks(emb, dim=64, m=8, k=16)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    codes = similarity.pq_encode(emb, books, dim=64).collect()
    assert len(codes) == emb.count()
    for r in codes:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])
    again = similarity.pq_encode(emb, books, dim=64).collect()
    assert sorted(map(tuple, ((r["vec_id"], tuple(r["codes"])) for r in codes))) == sorted(
        map(tuple, ((r["vec_id"], tuple(r["codes"])) for r in again))
    )


def test_pq_adc_recall_and_rerank_gate(spark, emb):
    """ADC-only recall clears a floor; the shortlist re-rank stage lifts
    it to near-exact (the production IVFADC shape) and fills every
    k-slot."""
    queries = emb.filter(F.col("vec_id") < 10)
    exact = _topk_sets(similarity.brute_force_topk(emb, queries, k=5))

    adc = _topk_sets(similarity.pq_topk(emb, queries, dim=64, k=5, m=16))
    hits = sum(len(exact[q] & adc.get(q, set())) for q in exact)
    r_adc = hits / sum(len(v) for v in exact.values())
    assert r_adc >= 0.1, f"ADC-only recall@5 collapsed: {r_adc:.2f}"

    rr = similarity.pq_topk(emb, queries, dim=64, k=5, m=16, rerank=100)
    rows = rr.collect()
    assert len(rows) == 10 * 5  # every k-slot filled
    rr_sets = _topk_sets(rr)
    hits = sum(len(exact[q] & rr_sets.get(q, set())) for q in exact)
    r_rr = hits / sum(len(v) for v in exact.values())
    assert r_rr >= 0.8, f"reranked recall@5 too low: {r_rr:.2f}"
    assert r_rr >= r_adc


def test_ivfadc_recall_matches_coarse_bound(spark, emb):
    """IVFADC's recall is bounded by the coarse probe (unprobed lists are
    unreachable); within probed lists the shortlist re-rank must recover
    PQ's quantization loss, so recall sits at (or within epsilon of) the
    IVF-flat bound."""
    queries = emb.filter(F.col("vec_id") < 10)
    exact = _topk_sets(similarity.brute_force_topk(emb, queries, k=5))
    total = sum(len(v) for v in exact.values())

    flat = _topk_sets(similarity.ivf_topk(emb, queries, k=5, n_lists=16, nprobe=4))
    r_flat = sum(len(exact[q] & flat.get(q, set())) for q in exact) / total

    adc = similarity.ivfadc_topk(
        emb, queries, dim=64, k=5, n_lists=16, nprobe=4, m=16, rerank=100
    )
    rows = adc.collect()
    assert len(rows) == 10 * 5
    a_sets = _topk_sets(adc)
    r_adc = sum(len(exact[q] & a_sets.get(q, set())) for q in exact) / total
    assert r_adc >= 0.4, f"IVFADC recall@5 too low: {r_adc:.2f}"
    assert r_adc >= r_flat - 0.1, f"re-rank failed to recover PQ loss: {r_adc:.2f} vs flat {r_flat:.2f}"


# --------------------------------------------------------------------------
# labeled-embedding ops
# --------------------------------------------------------------------------


def test_hard_negatives_and_knn_vote_planted(spark):
    """Planted two-cluster geometry: hard negatives for a cluster-A
    anchor are the nearest B vectors (never A, never self); the kNN vote
    recovers the planted label."""
    rows = []
    for i in range(10):
        rows.append((i, [1.0 + 0.01 * i, 0.0, 0.0, 0.0], 0))      # cluster A
        rows.append((100 + i, [0.0, 1.0 + 0.01 * i, 0.0, 0.0], 1))  # cluster B
    # one borderline vector between the clusters, labeled B
    rows.append((200, [1.0, 0.9, 0.0, 0.0], 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    anchors = emb.filter(F.col("vec_id") == 0)
    negs = similarity.hard_negatives(emb, anchors, k=3).collect()
    assert len(negs) == 3
    # nearest different-label vector is the borderline one
    assert negs[0]["neighbor_id"] == 200 or any(
        r["rank"] == 1 and r["neighbor_id"] == 200 for r in negs
    )
    ids = {r["neighbor_id"] for r in negs}
    assert 0 not in ids and all(i >= 100 for i in ids)  # label-0 excluded

    votes = {
        r["query_id"]: (r["pred_label"], r["votes"])
        for r in similarity.knn_label_vote(
            emb, emb.filter(F.col("vec_id") < 5), k=5
        ).collect()
    }
    for q in range(5):
        assert votes[q][0] == 0 and votes[q][1] == 5  # all-A neighborhoods


# ---------------------------------------------------------------------------
# scale-safe centroid assignment (VERDICT r03 #3): the Arrow matmul path
# must agree exactly with the plan-literal expression path, and must keep
# working at centroid counts the expression form cannot plan.
# ---------------------------------------------------------------------------


def test_assign_matmul_matches_expr(spark, emb):
    """probe_ids/nearest_id under 'matmul' reproduce the 'expr' ordering
    contract exactly (descending cosine, ties to lower cid) on real
    fixture vectors — the equivalence that lets auto mode switch paths
    without changing results."""
    cents = similarity.ivf_centroids(emb, 16)
    e = emb.select(
        "vec_id",
        similarity.probe_ids(F.col("embedding"), cents, 4, "expr").alias("p"),
        similarity.nearest_id(F.col("embedding"), cents, "expr").alias("n"),
    )
    m = emb.select(
        "vec_id",
        similarity.probe_ids(F.col("embedding"), cents, 4, "matmul").alias("p2"),
        similarity.nearest_id(F.col("embedding"), cents, "matmul").alias("n2"),
    )
    j = e.join(m, on="vec_id")
    assert j.filter((F.col("p") != F.col("p2")) | (F.col("n") != F.col("n2"))).count() == 0


def test_semantic_dup_pairs_matmul_equals_expr(spark, emb):
    a = similarity.semantic_dup_pairs(emb, 0.3, n_lists=8, nprobe=2, assign="expr")
    b = similarity.semantic_dup_pairs(emb, 0.3, n_lists=8, nprobe=2, assign="matmul")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() > 0  # the equality is over a non-trivial pair set


def test_ivf_topk_at_4096_lists(spark):
    """The old expression form capped n_lists at a few thousand (plan
    literals). Auto mode must route n_lists=4096 through the matmul UDF
    and return a complete, well-formed top-k."""
    assert similarity._resolve_assign("auto", 4096) == "matmul"
    assert similarity._resolve_assign("auto", 16) == "expr"
    n, dim = 5000, 16
    rows = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.sin(F.col("id") * F.lit(0.7 + 0.13 * d)) + F.lit(0.01) * d).alias(f"x{d}")
                for d in range(dim)
            ]
        ).alias("embedding"),
    )
    queries = rows.filter(F.col("vec_id") < 5)
    out = similarity.ivf_topk(
        rows, queries, k=3, n_lists=4096, nprobe=32, assign="auto"
    )
    per_q = out.groupBy("query_id").count().collect()
    assert len(per_q) == 5
    assert all(r["count"] == 3 for r in per_q)
    ranks = {r["rank"] for r in out.select("rank").distinct().collect()}
    assert ranks == {1, 2, 3}


def test_semantic_block_pairs_equal_join(spark, emb):
    """The per-cluster BLAS block form (applyInPandas) must reproduce the
    self-join form exactly — raw pair set (threshold inclusion) and 6dp
    sims (the oracle hash contract)."""
    j = similarity.semantic_dup_pairs(emb, 0.3, n_lists=8, nprobe=2, pairs_impl="join")
    b = similarity.semantic_dup_pairs(emb, 0.3, n_lists=8, nprobe=2, pairs_impl="block")
    jj = j.select("list_id", "a", "b", F.round("sim", 6).alias("sim"))
    bb = b.select("list_id", "a", "b", F.round("sim", 6).alias("sim"))
    assert jj.exceptAll(bb).count() == 0 and bb.exceptAll(jj).count() == 0
    assert j.count() > 0


def test_pq_query_batch_cap_raises(spark, emb):
    """pq_topk/ivfadc_topk build per-query ADC tables driver-side; query
    batches above max_query_batch must fail fast with a clear error, not
    OOM the driver (ADVICE r03)."""
    big = emb  # any batch larger than the tiny cap
    with pytest.raises(ValueError, match="max_query_batch"):
        similarity.pq_topk(emb, big, dim=64, k=5, m=16, max_query_batch=3)
    with pytest.raises(ValueError, match="max_query_batch"):
        similarity.ivfadc_topk(emb, big, dim=64, k=5, max_query_batch=3)
    # at the cap boundary it still works
    out = similarity.pq_topk(
        emb, emb.filter(F.col("vec_id") < 3), dim=64, k=5, m=16, max_query_batch=3
    )
    assert out.groupBy("query_id").count().count() == 3


def test_text_ivf_recall_vs_brute(spark):
    """VERDICT r04 next-step #5: the IVF index built over REAL hashed
    TF-IDF text vectors (not synthetic embeddings) must reach recall@5
    >= 0.9 against the brute text-ANN row at the catalog's parameters
    (n_lists=8, nprobe=4 — measured 0.92 over these 20 queries)."""
    from ocr_spark.operators import search
    from ocr_spark.queries import _HTFIDF_DIM, _TEXT_IVF_LISTS, _TEXT_IVF_NPROBE

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sp = search.hashed_tfidf(docs, dim=_HTFIDF_DIM)
    dense = (
        search.dense_from_sparse(sp, _HTFIDF_DIM)
        .select(F.col("doc_id").alias("vec_id"), "embedding")
        .cache()
    )
    queries = dense.filter(F.col("vec_id").isin([str(i) for i in range(20)]))
    exact = _topk_sets(similarity.brute_force_topk(dense, queries, k=5))
    approx = _topk_sets(
        similarity.ivf_topk(
            dense, queries, k=5,
            n_lists=_TEXT_IVF_LISTS, nprobe=_TEXT_IVF_NPROBE, assign="expr",
        )
    )
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    recall = hits / total
    dense.unpersist()
    assert recall >= 0.9, f"text-IVF recall@5 too low: {recall:.2f}"


def test_quantize_reconstruction_and_extremes(spark):
    rows = [
        (0, [0.5, -1.0, 0.25]),
        (1, [0.0, 0.0, 0.0]),
        (2, [3.0, 2.0, -4.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qe = {r["vec_id"]: r for r in similarity.quantize_embeddings(df).collect()}
    # zero vector: zero codes, zero scale (no NaN/div-by-zero leak)
    assert qe[1]["scale"] == 0.0 and all(q == 0 for q in qe[1]["qvec"])
    # the max-magnitude component uses the full int8 range
    assert max(abs(q) for q in qe[2]["qvec"]) == 127
    # reconstruction error bounded by scale/2 per component
    orig = {r[0]: r[1] for r in rows}
    for r in similarity.dequantize_embeddings(
        similarity.quantize_embeddings(df)
    ).collect():
        s = qe[r["vec_id"]]["scale"]
        for x, y in zip(orig[r["vec_id"]], r["embedding"]):
            assert abs(x - y) <= s / 2 + 1e-12


def test_quantized_recall_vs_brute(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = _topk_sets(similarity.brute_force_topk(emb, queries, k=5))
    deq = similarity.dequantize_embeddings(similarity.quantize_embeddings(emb))
    approx = _topk_sets(
        similarity.brute_force_topk(
            deq, deq.filter(F.col("vec_id") < 20), k=5
        )
    )
    hits = sum(len(exact[q] & approx[q]) for q in exact)
    recall = hits / (len(exact) * 5)
    assert recall >= 0.9, f"int8 recall@5 {recall}"


def test_quantized_ivf_composition_recall(spark, emb):
    """The int8 STORAGE table must feed the INDEX path unchanged:
    dequantize → ivf_topk, recall@5 vs the float brute baseline — the
    production composition (vectors at rest int8, probes over the
    reconstruction)."""
    exact = _topk_sets(
        similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 20), k=5)
    )
    deq = similarity.dequantize_embeddings(similarity.quantize_embeddings(emb))
    approx = _topk_sets(
        similarity.ivf_topk(
            deq, deq.filter(F.col("vec_id") < 20), k=5, n_lists=8, nprobe=4
        )
    )
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hits / (len(exact) * 5)
    assert recall >= 0.6, f"int8+IVF recall@5 {recall}"


# --------------------------------------------------------------------------
# trainers: the Spark-free reference and the per-call job budget
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def synth(spark):
    """The catalog rows' embeddings, and the same vectors as a dict."""
    from ocr_spark.queries import _synth_embeddings

    emb = _synth_embeddings(spark)
    return emb, {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}


def _max_abs_diff(got, want) -> float:
    """Max element difference of two equally shaped nested lists."""
    if isinstance(got, list):
        assert isinstance(want, list) and len(got) == len(want)
        return max((_max_abs_diff(a, b) for a, b in zip(got, want)), default=0.0)
    return abs(got - want)


@pytest.mark.parametrize("refine_iters", [0, 1, 3])
def test_pq_codebooks_match_reference(synth, refine_iters):
    """pq_codebooks (m=16, k=16) equals tests/ref_ann.py. At
    refine_iters=0 the books are the seed subvectors themselves, so equal
    seed ids agree bit for bit; a Lloyd mean may differ in the last bit
    from the order Spark adds partial sums in."""
    emb, vectors = synth
    got = similarity.pq_codebooks(emb, dim=64, m=16, k=16, refine_iters=refine_iters)
    want = ref_ann.pq_codebooks(vectors, dim=64, m=16, k=16, refine_iters=refine_iters)
    assert [len(book) for book in want] == [16] * 16
    diff = _max_abs_diff(got, want)
    assert diff <= (0.0 if refine_iters == 0 else 1e-12), diff


@pytest.mark.parametrize("refine_iters", [0, 1])
def test_ivf_centroids_match_reference(synth, refine_iters):
    emb, vectors = synth
    got = similarity.ivf_centroids(emb, 16, refine_iters=refine_iters)
    want = ref_ann.ivf_centroids(vectors, 16, refine_iters=refine_iters)
    assert [cid for cid, _ in got] == list(range(16))
    diff = _max_abs_diff([c for _, c in got], want)
    assert diff <= (0.0 if refine_iters == 0 else 1e-12), diff


# Spark jobs per trainer call at refine_iters=1 (local[4], AQE): the PQ
# seed window is a shuffle plus a collect, the IVF seed one collect, and
# each Lloyd step one shuffle plus a collect
PQ_JOBS = 4
IVF_JOBS = 3


def test_pq_codebooks_job_count_independent_of_m(spark, emb):
    """All m subspace fits run as one keyed plan: seeds in one collect,
    each Lloyd step in one more, so m=4 and m=16 take the same number of
    Spark jobs (a loop over subspaces took 4·m: 16 and 64). A Lloyd step
    is one shuffle (one avg per vector position), 2 jobs under AQE. The
    seed plan's row_number() <= k limit runs map-side, ahead of the
    exchange."""
    jobs = {
        m: counted(spark, lambda: similarity.pq_codebooks(emb, dim=64, m=m, k=16))[1]
        for m in (4, 16)
    }
    assert jobs == {4: PQ_JOBS, 16: PQ_JOBS}, jobs
    _, ivf_jobs = counted(spark, lambda: similarity.ivf_centroids(emb, 16))
    assert ivf_jobs == IVF_JOBS, ivf_jobs
    nv = similarity._normalized_vec(emb.select("vec_id", "embedding"), "embedding")
    seeds = similarity._pq_seeds(similarity._subvectors(nv, "vec_id", 16, 4), 16, "vec_id")
    plan = seeds._sc._jvm.PythonSQLUtils.explainString(seeds._jdf.queryExecution(), "simple")
    assert re.search(r"WindowGroupLimit \[.*, 16, Partial", plan), plan
