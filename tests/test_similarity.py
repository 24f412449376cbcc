"""Similarity-search semantics: exact brute force as ground truth, LSH
recall against it."""

from __future__ import annotations

import math
import random

import pytest

from df_to_azure_spark.functions import similarity as S


def _emb(spark, sf_smoke):
    return spark.read.parquet(f"{sf_smoke}/embeddings.parquet")


def test_cosine_topk_shape_and_ranges(spark, sf_smoke):
    emb = _emb(spark, sf_smoke)
    q = emb.where("vec_id < 3")
    out = S.cosine_topk(q, emb, k=5).collect()
    assert len(out) == 15  # 3 queries x 5 neighbors
    for r in out:
        assert -1.0001 <= r.cos_sim <= 1.0001
        assert r.neighbor_id != r.query_id
    ranks = sorted(r.rank for r in out if r.query_id == out[0].query_id)
    assert ranks == [1, 2, 3, 4, 5]


def test_cosine_matches_python(spark, sf_smoke):
    emb = _emb(spark, sf_smoke)
    rows = {r.vec_id: list(r.embedding) for r in emb.where("vec_id < 2").collect()}
    a, b = rows[0], rows[1]
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    expected = dot / (na * nb)
    got = [
        r.cos_sim
        for r in S.cosine_topk(emb.where("vec_id = 0"), emb.where("vec_id <= 1"), k=1).collect()
    ][0]
    assert abs(got - expected) < 1e-6


@pytest.mark.parametrize("digits", [8, 16])
def test_cosine_topk_score_is_bit_identical_to_cosine(spark, sf_smoke, digits):
    """The SQL-text score is the Column ``cosine`` fold, bit for bit; 16
    digits keep differences that rounding to 8 would hide."""
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_smoke)
    top = S.cosine_topk(emb.where("vec_id < 5"), emb, k=10, round_digits=digits)
    vecs = emb.select("vec_id", S._as_double("embedding").alias("v"))
    ref = (
        top.join(vecs.toDF("query_id", "qv"), "query_id")
        .join(vecs.toDF("neighbor_id", "cv"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.round(S.cosine(F.col("qv"), F.col("cv")), digits).alias("ref"),
        )
        .collect()
    )
    assert len(ref) == 50
    assert all(r.cos_sim == r.ref for r in ref)


def test_lsh_topk_recall_against_exact(spark, sf_smoke):
    emb = _emb(spark, sf_smoke)
    dim = len(emb.limit(1).collect()[0].embedding)
    rng = random.Random(7)
    planes = [[rng.gauss(0, 1) for _ in range(dim)]]  # 2 buckets → ~half scanned
    q = emb.where("vec_id < 5")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(q, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.lsh_topk(q, emb, planes, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall > 0.3  # 2 planes ≈ quarter of corpus scanned per query


def test_neardup_pairs_symmetric_free(spark, sf_smoke):
    emb = _emb(spark, sf_smoke)
    pairs = S.embedding_neardup_pairs(emb.where("vec_id < 50"), threshold=-1.0).collect()
    # lower triangle only: 50*49/2 pairs
    assert len(pairs) == 50 * 49 // 2
    assert all(r.id_a < r.id_b for r in pairs)


def test_neardup_lsh_subset_and_recall(spark, sf_smoke):
    """The bucketed near-dup pairs are a SUBSET of the exact pairs (no
    false positives — cosine is exact within buckets) with useful recall."""
    from df_to_azure_spark.plans.training_data import _neardup_planes

    emb = _emb(spark, sf_smoke)
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in S.embedding_neardup_pairs(emb, threshold=0.6).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cos_sim
        for r in S.embedding_neardup_pairs_lsh(
            emb, _neardup_planes(), threshold=0.6
        ).collect()
    }
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]  # identical scoring, not an approximation
    if exact:
        recall = len(lsh) / len(exact)
        # near-dup pairs are highly correlated vectors → rarely split by a
        # hyperplane; 3 planes keeps most of them in one bucket
        assert recall >= 0.5, recall


def test_ivf_topk_recall_and_subset(spark, sf_smoke):
    """IVF probe results are drawn from the exact scoring function (any
    returned pair matches the exact cosine) with useful recall at
    nprobe=2 of 8 lists (~1/4 of the corpus scanned)."""
    from df_to_azure_spark.plans.training_data import _ivf_centroids

    emb = _emb(spark, sf_smoke)
    q = emb.where("vec_id < 5")
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in S.cosine_topk(q, emb, k=10).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in S.ivf_topk(q, emb, _ivf_centroids(), k=10, nprobe=2).collect()
    }
    # scores are never invented: every IVF hit that is also an exact hit
    # carries the identical similarity
    for pair, sim in ivf.items():
        if pair in exact:
            assert sim == exact[pair]
    recall = len(set(ivf) & set(exact)) / len(exact)
    assert recall >= 0.15, recall


def test_multiprobe_improves_recall_over_single_probe(spark, sf_smoke):
    from df_to_azure_spark.plans.training_data import _lsh_knn_planes

    emb = _emb(spark, sf_smoke)
    q = emb.where("vec_id < 5")
    planes = _lsh_knn_planes()
    exact = {
        (r.query_id, r.neighbor_id) for r in S.cosine_topk(q, emb, k=10).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in S.lsh_topk(q, emb, planes, k=10).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in S.lsh_topk_multiprobe(q, emb, planes, k=10).collect()
    }
    r_single = len(exact & single) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    assert r_multi >= r_single  # probing more buckets can only help
    assert r_multi >= 0.5, (r_single, r_multi)


def test_pq_codes_shape_and_consistency(spark, sf_smoke):
    from df_to_azure_spark.plans.training_data import _PQ_K, _PQ_M, _pq_codebooks

    emb = _emb(spark, sf_smoke)
    books = _pq_codebooks()
    codes = S.pq_codes(emb, books).collect()
    assert len(codes) == emb.count()
    for r in codes:
        for m in range(_PQ_M):
            assert 0 <= r[f"code_{m}"] < _PQ_K
    # identical vectors encode identically (pure function of the vector)
    again = {r.vec_id: tuple(r[f"code_{m}"] for m in range(_PQ_M))
             for r in S.pq_codes(emb, books).collect()}
    first = {r.vec_id: tuple(r[f"code_{m}"] for m in range(_PQ_M)) for r in codes}
    assert first == again


def test_pq_adc_topk_contract_and_plan(spark, sf_smoke):
    """k rows per query with dense ranks, ADC distances non-decreasing in
    rank, and the plan is the compressed-domain one: the query distance
    table folds into ONE broadcast map (M element_at lookups per
    candidate row — not M chained joins, whose per-stage broadcast
    overhead dominated), no cartesian product, no explode of the corpus
    side."""
    from df_to_azure_spark.plans.training_data import _pq_codebooks

    emb = _emb(spark, sf_smoke)
    q = emb.where("vec_id < 5")
    out = S.pq_adc_topk(q, emb, _pq_codebooks(), k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "map_from_entries" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        dists = [r.adc_dist for r in rs]
        assert dists == sorted(dists)
        assert all(r.neighbor_id != qid for r in rs)


def test_pq_shortlist_rerank_recall(spark, sf_smoke):
    """Pure ADC recall is capped by quantization error on these
    near-random synthetic vectors (measured ~0.14 — distances
    concentrate, compressed codes can't separate them); the
    shortlist-then-exact-rerank form must recover well above chance
    (random baseline ≈ 10/n ≈ 0.02; measured 0.74 at C=100)."""
    from df_to_azure_spark.plans.training_data import (
        _PQ_RERANK_C,
        _PQ_RERANK_K,
        _PQ_RERANK_M,
    )

    emb = _emb(spark, sf_smoke)
    q = emb.where("vec_id < 5")
    # exact squared-L2 top-k (ADC approximates L2, not cosine)
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    a = q.select(F.col("vec_id").alias("query_id"),
                 F.transform("embedding", lambda x: x.cast("double")).alias("qv"))
    b = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.transform("embedding", lambda x: x.cast("double")).alias("cv"))
    d = S.dot(F.col("qv"), F.col("qv")) - 2.0 * S.dot(F.col("qv"), F.col("cv")) \
        + S.dot(F.col("cv"), F.col("cv"))
    scored = b.crossJoin(F.broadcast(a)).where("query_id <> neighbor_id").select(
        "query_id", "neighbor_id", d.alias("d2"))
    w = W.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    exact = {(r.query_id, r.neighbor_id)
             for r in scored.withColumn("rk", F.row_number().over(w))
             .where("rk <= 10").collect()}
    books = S.sample_codebooks(emb, _PQ_RERANK_M, _PQ_RERANK_K)
    approx = {(r.query_id, r.neighbor_id)
              for r in S.pq_adc_rerank_topk(
                  q, emb, books, k=10, shortlist=_PQ_RERANK_C).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_pq_dim_divisibility_enforced(spark, sf_smoke):
    emb = _emb(spark, sf_smoke)
    with pytest.raises(ValueError, match="not divisible"):
        S.sample_codebooks(emb, m=5, k=2)  # 64 % 5 != 0
    with pytest.raises(ValueError, match="not divisible"):
        S.train_codebooks_frame(emb, m=5, k=2)
    # codebooks whose m*sub doesn't cover the vector dim must be rejected
    bad_books = [[[0.0] * 8] * 2] * 4  # 4 subspaces x 8 dims = 32 != 64
    with pytest.raises(ValueError, match="must equal the dim"):
        S.pq_codes(emb, bad_books).collect()


def test_train_codebooks_shape_and_improvement_hook(spark, sf_smoke):
    emb = _emb(spark, sf_smoke)
    books = S.train_codebooks(emb, m=4, k=8, iters=1)
    assert len(books) == 4
    assert all(len(cb) == 8 for cb in books)
    assert all(len(c) == 16 for cb in books for c in cb)
    # trained codebooks must be valid pq_codes input end-to-end
    codes = S.pq_codes(emb, books)
    row = codes.first()
    assert all(0 <= row[f"code_{m}"] < 8 for m in range(4))


def test_mmr_rerank_prefers_diversity(spark):
    """Planted geometry: the three most relevant candidates are
    near-clones of each other; a slightly less relevant but orthogonal
    candidate exists.  Pure relevance ranks the clones 1-2-3; MMR must
    pick one clone first, then jump to the diverse candidate at step 2
    because the clone-clone similarity penalty dominates."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),      # query
        (1, [0.99, 0.14, 0.0, 0.0]),    # clone A (most relevant)
        (2, [0.99, 0.141, 0.0, 0.0]),   # clone B
        (3, [0.99, 0.139, 0.0, 0.0]),   # clone C
        (4, [0.7, 0.0, 0.71, 0.0]),     # diverse, lower relevance
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.mmr_rerank(
        emb.where("vec_id = 0"), emb, k_select=3, shortlist=4, lam=0.5
    ).collect()
    by_step = {r.step: r.neighbor_id for r in out if r.query_id == 0}
    assert by_step[1] in (1, 2, 3)
    assert by_step[2] == 4, by_step


def test_mmr_rerank_short_candidate_list(spark):
    """Fewer candidates than k_select: the greedy exhausts the shortlist
    and stops emitting rows — no padding, no failure."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.1, 0.9]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.mmr_rerank(
        emb.where("vec_id = 0"), emb, k_select=5, shortlist=10, lam=0.7
    ).collect()
    assert sorted(r.step for r in out) == [1, 2]
    assert {r.neighbor_id for r in out} == {1, 2}


def test_rrf_fuse_rewards_cross_list_agreement(spark):
    """An item ranked mid-list in BOTH rankings must outscore an item
    ranked first in only one: 1/(60+2)+1/(60+2) > 1/(60+1)."""
    r1 = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 20)], "query_id long, rank long, neighbor_id long"
    )
    r2 = spark.createDataFrame(
        [(0, 2, 20), (0, 1, 30)], "query_id long, rank long, neighbor_id long"
    )
    out = {r.neighbor_id: r for r in S.rrf_fuse([r1, r2]).collect()}
    # item 20: rank 2 in both lists (2/62); items 10 and 30: rank 1 in
    # one list each (1/61) — agreement wins
    assert out[20].n_lists == 2 and out[10].n_lists == 1
    assert out[20].rrf_score > out[30].rrf_score
    assert out[20].rank == 1


def test_rrf_fuse_empty_rankings_raises(spark):
    import pytest

    with pytest.raises(ValueError, match="at least one ranking"):
        S.rrf_fuse([])


def test_rrf_fuse_weights_scale_contributions(spark):
    import pytest

    r1 = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 20)], "query_id: long, rank: long, neighbor_id: long"
    )
    r2 = spark.createDataFrame(
        [(0, 1, 20), (0, 2, 10)], "query_id: long, rank: long, neighbor_id: long"
    )
    # unweighted: symmetric ranks -> tie broken by id
    even = {r.neighbor_id: r.rrf_score for r in S.rrf_fuse([r1, r2], k_const=10).collect()}
    assert even[10] == even[20]
    # 3:1 weight on r1 -> r1's top item (10) must win
    skew = {r.neighbor_id: r.rrf_score for r in
            S.rrf_fuse([r1, r2], k_const=10, weights=[3.0, 1.0]).collect()}
    assert skew[10] > skew[20]
    # exact: 3/(10+1) + 1/(10+2) rounded per contribution
    assert skew[10] == round(round(3/11, 12) + round(1/12, 12), 8)
    with pytest.raises(ValueError, match="must match"):
        S.rrf_fuse([r1, r2], weights=[1.0])


def test_sq8_rerank_contract_recall_and_invariance(spark, sf_smoke):
    emb = _emb(spark, sf_smoke)
    q = emb.where("vec_id < 3")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(q, emb, k=5).collect()
    }
    out = S.sq8_rerank_topk(q, emb, dim=64, k=5, shortlist=20).collect()
    assert len(out) == 15
    for r in out:
        assert r.neighbor_id != r.query_id
        assert -1.0001 <= r.cos_sim <= 1.0001
        assert -1.0001 <= r.sq8_sim <= 1.0001
    got = {(r.query_id, r.neighbor_id) for r in out}
    # mid-point-decoded int8 shortlist of 20 must recover most exact top-5
    assert len(got & exact) >= 0.6 * len(exact)
    # partitioning invariance: same rows under a different layout
    out2 = S.sq8_rerank_topk(
        q, emb.repartition(7), dim=64, k=5, shortlist=20
    ).collect()
    assert {tuple(r) for r in out2} == {tuple(r) for r in out}


def test_rp_rerank_contract_recall_and_invariance(spark, sf_smoke):
    rng = random.Random(29)
    planes = [
        [float(rng.choice((-1.0, 1.0))) for _ in range(64)] for _ in range(16)
    ]
    emb = _emb(spark, sf_smoke)
    q = emb.where("vec_id < 3")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(q, emb, k=5).collect()
    }
    out = S.rp_rerank_topk(q, emb, planes, k=5, shortlist=20).collect()
    assert len(out) == 15
    for r in out:
        assert r.neighbor_id != r.query_id
        assert -1.0001 <= r.cos_sim <= 1.0001
    # On isotropic synthetic embeddings all pairwise cosines are near 0
    # with tiny gaps, so a 16-dim JL sketch cannot reliably rank them —
    # the honest contract is mechanism, not geometry: recall must grow
    # with the shortlist, and a corpus-covering shortlist IS exact.
    n = emb.count()

    def recall(shortlist):
        got = {
            (r.query_id, r.neighbor_id)
            for r in S.rp_rerank_topk(q, emb, planes, k=5, shortlist=shortlist).collect()
        }
        return len(got & exact)

    assert recall(40) >= recall(10)
    assert recall(n) == len(exact)  # shortlist >= corpus: rerank == exact
    out2 = S.rp_rerank_topk(
        q, emb.repartition(5), planes, k=5, shortlist=20
    ).collect()
    assert {tuple(r) for r in out2} == {tuple(r) for r in out}


def test_pca_fit_matches_numpy_reference(spark):
    import numpy as np

    from df_to_azure_spark.functions.similarity import pca_fit

    rng = np.random.RandomState(7)
    X = (rng.randn(200, 6) @ np.diag([5, 3, 2, 1, 0.5, 0.1])).astype("float32")
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>",
    ).repartition(5)
    mean, comps, evals = pca_fit(df, dim=6, k=4)
    Xd = X.astype("float64")
    ref_cov = np.cov(Xd, rowvar=False)
    ref_evals, ref_evecs = np.linalg.eigh(ref_cov)
    ref_top = np.sort(ref_evals)[::-1][:4]
    assert np.allclose(mean, Xd.mean(axis=0), atol=1e-9)
    assert np.allclose(evals, ref_top, rtol=1e-9)
    # components orthonormal, rows are eigenvectors of the same cov
    W = np.array(comps)
    assert np.allclose(W @ W.T, np.eye(4), atol=1e-9)
    for i in range(4):
        assert np.allclose(ref_cov @ W[i], evals[i] * W[i], atol=1e-7)


def test_pca_project_variance_and_reconstruction(spark):
    import numpy as np

    from df_to_azure_spark.functions.similarity import pca_fit, pca_project

    rng = np.random.RandomState(11)
    X = (rng.randn(300, 8) * np.arange(8, 0, -1)).astype("float32")
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>",
    ).repartition(7)
    mean, comps, evals = pca_fit(df, dim=8, k=8)
    rows = pca_project(df, mean, comps).collect()
    P = np.array([r.proj for r in sorted(rows, key=lambda r: r.vec_id)])
    # projected coordinate variances = eigenvalues, descending
    v = P.var(axis=0, ddof=1)
    assert np.allclose(v, evals, rtol=1e-7)
    assert all(evals[i] >= evals[i + 1] for i in range(7))
    # full-rank projection reconstructs exactly (orthonormal basis)
    W = np.array(comps)
    recon = P @ W + np.array(mean)
    assert np.allclose(recon, X.astype("float64"), atol=1e-6)


def test_pca_whiten_unit_variance(spark):
    import numpy as np

    from df_to_azure_spark.functions.similarity import pca_fit, pca_project

    rng = np.random.RandomState(3)
    X = (rng.randn(250, 5) * [10, 4, 2, 1, 0.5]).astype("float32")
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>",
    )
    mean, comps, _ = pca_fit(df, dim=5, k=3, whiten=True)
    P = np.array([r.proj for r in pca_project(df, mean, comps).collect()])
    assert np.allclose(P.var(axis=0, ddof=1), np.ones(3), rtol=1e-6)


def test_pca_partitioning_stability(spark):
    import numpy as np

    from df_to_azure_spark.functions.similarity import pca_fit

    rng = np.random.RandomState(5)
    X = rng.randn(150, 4).astype("float32")
    rows = [(i, r.tolist()) for i, r in enumerate(X)]
    fits = []
    for parts in (1, 6, 17):
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).repartition(parts)
        fits.append(pca_fit(df, dim=4, k=2))
    for other in fits[1:]:
        assert np.allclose(fits[0][0], other[0], atol=1e-9)
        assert np.allclose(fits[0][1], other[1], atol=1e-6)
        assert np.allclose(fits[0][2], other[2], atol=1e-9)


def test_pca_guards(spark):
    import pytest

    from df_to_azure_spark.functions.similarity import pca_fit

    df = spark.createDataFrame([(1, [0.0, 0.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="1 <= k <= dim"):
        pca_fit(df, dim=2, k=3)
    with pytest.raises(ValueError, match="at least 2 rows"):
        pca_fit(df, dim=2, k=1)


def test_ivf_pq_index_lake_round_trip(spark, sf_smoke, tmp_path):
    """The production flow end-to-end: build the IVFADC codes table,
    persist it as a lake table, read it back, and search from the STORED
    index — results must equal the direct (in-session) search exactly."""
    from df_to_azure_spark.operators.lake import ParquetLake
    from df_to_azure_spark.plans.training_data import _ivf_centroids

    emb = _emb(spark, sf_smoke)
    cents = _ivf_centroids()
    res = S.residual_frame(emb.where("vec_id < 32"), cents)
    books = S.sample_codebooks(res, 4, 8, vec_col="rv")
    q = emb.where("vec_id < 3")

    direct = {
        (r.query_id, r.rank): (r.neighbor_id, r.adc_dist)
        for r in S.ivf_pq_residual_topk(
            q, emb, cents, books, k=5, nprobe=2
        ).collect()
    }

    lake = ParquetLake(spark, str(tmp_path))
    lake.create(S.ivf_pq_codes(emb, cents, books), "ivfpq_index")
    stored = lake.read("ivfpq_index")
    from_store = {
        (r.query_id, r.rank): (r.neighbor_id, r.adc_dist)
        for r in S.ivf_pq_residual_topk_from_codes(
            q, stored, cents, books, k=5, nprobe=2
        ).collect()
    }
    assert from_store == direct


def test_lsh_ivf_index_lake_round_trip(spark, sf_smoke, tmp_path):
    """Build/search split for the LSH and IVF variants: persist each
    index artifact to a lake table, search from the STORED table, and
    require bit-identical results to the direct one-plan search."""
    from df_to_azure_spark.operators.lake import ParquetLake
    from df_to_azure_spark.plans.training_data import (
        _ivf_centroids,
        _lsh_knn_planes,
    )

    emb = _emb(spark, sf_smoke)
    q = emb.where("vec_id < 3")
    planes = _lsh_knn_planes()
    cents = _ivf_centroids()
    lake = ParquetLake(spark, str(tmp_path))

    direct_lsh = sorted(
        map(tuple, S.lsh_topk(q, emb, planes, k=5).collect())
    )
    lake.create(S.lsh_index(emb, planes), "lsh_index")
    stored_lsh = sorted(
        map(
            tuple,
            S.lsh_topk_from_index(
                q, lake.read("lsh_index"), planes, k=5
            ).collect(),
        )
    )
    assert stored_lsh == direct_lsh

    direct_ivf = sorted(
        map(tuple, S.ivf_topk(q, emb, cents, k=5, nprobe=2).collect())
    )
    lake.create(S.ivf_index(emb, cents), "ivf_index")
    stored_ivf = sorted(
        map(
            tuple,
            S.ivf_topk_from_index(
                q, lake.read("ivf_index"), cents, k=5, nprobe=2
            ).collect(),
        )
    )
    assert stored_ivf == direct_ivf


def test_pq_rerank_from_codes_lake_round_trip(spark, sf_smoke, tmp_path):
    """Shortlist+rerank from a stored PQ codes table equals the direct
    encode-inline search exactly."""
    from df_to_azure_spark.operators.lake import ParquetLake

    emb = _emb(spark, sf_smoke)
    books = S.sample_codebooks(emb, 4, 8)
    q = emb.where("vec_id < 3")
    direct = sorted(
        map(
            tuple,
            S.pq_adc_rerank_topk(q, emb, books, k=5, shortlist=20).collect(),
        )
    )
    lake = ParquetLake(spark, str(tmp_path))
    lake.create(
        S.pq_codes(emb, books).withColumnRenamed("vec_id", "neighbor_id"),
        "pq_codes",
    )
    stored = sorted(
        map(
            tuple,
            S.pq_rerank_topk_from_codes(
                q, lake.read("pq_codes"), emb, books, k=5, shortlist=20
            ).collect(),
        )
    )
    assert stored == direct


def test_pq_codes_tolerates_colliding_column_names(spark, sf_smoke):
    """A caller frame already carrying one of the encode's intermediate
    names (m/s/ss/code/cell2) must not hit an ambiguous-reference
    analysis error (round-9 ADVICE)."""
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_smoke).withColumn("m", F.lit(1)).withColumn(
        "code", F.lit("x")
    )
    books = S.sample_codebooks(emb, 4, 8)
    out = S.pq_codes(emb.where("vec_id < 40"), books)
    assert out.columns == ["vec_id", "code_0", "code_1", "code_2", "code_3"]
    assert out.count() == 40


def test_ivf_pq_index_incremental_append(spark, sf_smoke, tmp_path):
    """Append-only index maintenance: the IVFADC encode is a per-row
    map (no cross-vector state), so appending the NEW vectors' codes to
    a stored index table must equal a full rebuild — the property that
    lets a 100 TB deployment index new data incrementally instead of
    re-encoding the corpus."""
    from df_to_azure_spark.operators.lake import ParquetLake
    from df_to_azure_spark.plans.training_data import _ivf_centroids

    emb = _emb(spark, sf_smoke)
    cents = _ivf_centroids()
    res = S.residual_frame(emb.where("vec_id < 32"), cents)
    books = S.sample_codebooks(res, 4, 8, vec_col="rv")
    q = emb.where("vec_id < 3")

    lake = ParquetLake(spark, str(tmp_path))
    old = emb.where("vec_id % 2 = 0")
    new = emb.where("vec_id % 2 = 1")
    lake.create(S.ivf_pq_codes(old, cents, books), "ivfpq")
    lake.append(S.ivf_pq_codes(new, cents, books), "ivfpq")

    incremental = sorted(
        map(
            tuple,
            S.ivf_pq_residual_topk_from_codes(
                q, lake.read("ivfpq"), cents, books, k=5, nprobe=2
            ).collect(),
        )
    )
    full = sorted(
        map(
            tuple,
            S.ivf_pq_residual_topk(q, emb, cents, books, k=5, nprobe=2).collect(),
        )
    )
    assert incremental == full


def test_checkpoint_knob_modes_agree_and_validate(spark):
    """'persist', 'local' and 'none' must produce identical results (the
    knob changes only the pin mechanism), and unknown modes must fail
    loudly before any job runs."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from df_to_azure_spark.functions.similarity import (
        pq_adc_topk,
        sample_codebooks,
    )

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 7), j -> CAST((id * 31 + j * 7) % 13"
            " AS DOUBLE))"
        ).alias("embedding"),
    )
    books = sample_codebooks(emb, 2, 4)
    queries = emb.where(F.col("vec_id") < 3)

    def rows(mode):
        return sorted(
            (r.query_id, r.rank, r.neighbor_id)
            for r in pq_adc_topk(
                queries, emb, books, k=5, checkpoint=mode
            ).collect()
        )

    base = rows("persist")
    assert rows("local") == base
    assert rows("none") == base
    with _pt.raises(ValueError, match="checkpoint"):
        pq_adc_topk(queries, emb, books, k=5, checkpoint="reliable")


def test_nn_descent_graph_matches_local_reference(spark):
    """The distributed build must equal a straightforward local
    implementation of the same deterministic iteration (ring init,
    k-capped reverse lists, local join, (cos desc, id) tie-breaks)."""
    import numpy as np

    from df_to_azure_spark.functions.similarity import nn_descent_graph

    rng = np.random.RandomState(7)
    n, k, cap, rounds = 120, 5, 8, 2
    pts = rng.randn(n, 3)
    norm = pts / np.linalg.norm(pts, axis=1, keepdims=True)
    cosm = norm @ norm.T
    np.fill_diagonal(cosm, -2)

    def topk_list(cands, u):
        c = sorted(
            {w for w in cands if w != u},
            key=lambda w: (-round(cosm[u, w], 8), w),
        )
        return c[:k]

    B = {
        u: topk_list([(u + o) % n for o in range(1, cap + 1)], u)
        for u in range(n)
    }
    for _ in range(rounds):
        R = {u: [] for u in range(n)}
        for u in range(n):
            for w in B[u]:
                R[w].append(u)
        for w in R:
            R[w] = sorted(
                R[w], key=lambda u: (-round(cosm[w, u], 8), u)
            )[:k]
        L = {v: set(B[v]) | set(R[v]) for v in range(n)}
        cand = {u: set(B[u]) for u in range(n)}
        for v in range(n):
            lv = L[v]
            for u in lv:
                cand[u].update(lv)
        B = {u: topk_list(cand[u], u) for u in range(n)}

    df = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]]) for i in range(n)],
        "vec_id bigint, embedding array<double>",
    )
    # single cell: the ring covers the whole id space, like the reference
    g = nn_descent_graph(
        df, centroids=[[0.0, 0.0, 1.0]], k=k, init_cap=cap, rounds=rounds,
        checkpoint="local",
    )
    got = {}
    for r in g.collect():
        got.setdefault(r.vec_id, []).append((r.rank, r.neighbor_id))
    assert set(got) == set(range(n))
    for u in range(n):
        ordered = [w for _, w in sorted(got[u])]
        assert ordered == B[u], f"node {u}"


def test_nn_descent_graph_validates_cell_args(spark):
    from df_to_azure_spark.functions.similarity import nn_descent_graph
    from pyspark.sql import functions as F

    df = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.expr("array(CAST(id AS DOUBLE), 1.0d)").alias("embedding"),
    )
    import pytest as _pt

    with _pt.raises(ValueError, match="exactly one"):
        nn_descent_graph(df)
    with _pt.raises(ValueError, match="exactly one"):
        nn_descent_graph(df, centroids=[[0.0, 1.0]], planes=[[1.0, 0.0]])


def test_nn_descent_search_matches_local_reference(spark):
    """Beam search over the k-NN graph must equal a straightforward
    local implementation of the same deterministic walk (cell entry
    seeds, top-beam frontier, one-hop expansion along out-edges,
    (cos desc, id) tie-breaks) — run on a single cell so entries are
    simply the `beam` lowest ids."""
    import numpy as np

    from df_to_azure_spark.functions.similarity import (
        nn_descent_graph,
        nn_descent_search,
    )

    rng = np.random.RandomState(11)
    n, k, cap, rounds = 120, 5, 8, 2
    kq, beam, hops = 4, 6, 3
    pts = rng.randn(n, 3)
    norm = pts / np.linalg.norm(pts, axis=1, keepdims=True)
    cosm = norm @ norm.T

    df = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]]) for i in range(n)],
        "vec_id bigint, embedding array<double>",
    )
    centroids = [[0.0, 0.0, 1.0]]
    graph = nn_descent_graph(
        df, centroids=centroids, k=k, init_cap=cap, rounds=rounds,
        checkpoint="local",
    )
    B = {}
    for r in graph.collect():
        B.setdefault(r.vec_id, []).append((r.rank, r.neighbor_id))
    B = {u: [w for _, w in sorted(v)] for u, v in B.items()}

    qids = list(range(10))
    queries = df.where(df.vec_id < 10).select(
        df.vec_id.alias("query_id"), "embedding"
    )
    got_df = nn_descent_search(
        df, graph, queries, centroids=centroids, k=kq, beam=beam,
        hops=hops, exclude_self=True, checkpoint="local",
    )
    got = {}
    for r in got_df.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    got = {q: [w for _, w in sorted(v)] for q, v in got.items()}

    entries = list(range(beam))  # single cell, rn ordered by id
    for q in qids:
        pool = {
            e: round(float(cosm[q, e]), 8) for e in entries if e != q
        }
        for _ in range(hops):
            frontier = sorted(pool, key=lambda m: (-pool[m], m))[:beam]
            fresh = {
                nbr
                for node in frontier
                for nbr in B.get(node, [])
                if nbr not in pool
            }
            for m in fresh:
                if m != q:
                    pool[m] = round(float(cosm[q, m]), 8)
        top = sorted(pool.items(), key=lambda kv: (-kv[1], kv[0]))[:kq]
        assert got.get(q, []) == [m for m, _ in top], f"query {q}"


def test_nn_descent_search_validates_args(spark):
    from pyspark.sql import functions as F

    from df_to_azure_spark.functions.similarity import nn_descent_search

    df = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.expr("array(CAST(id AS DOUBLE), 1.0d)").alias("embedding"),
    )
    g = spark.createDataFrame(
        [(0, 1, 1)], "vec_id bigint, rank int, neighbor_id bigint"
    )
    q = df.select(F.col("vec_id").alias("query_id"), "embedding")
    import pytest as _pt

    with _pt.raises(ValueError, match="exactly one"):
        nn_descent_search(df, g, q)
    with _pt.raises(ValueError, match="exactly one"):
        nn_descent_search(
            df, g, q, centroids=[[0.0, 1.0]], planes=[[1.0, 0.0]]
        )
    with _pt.raises(ValueError, match="beam"):
        nn_descent_search(df, g, q, planes=[[1.0, 0.0]], beam=0)
