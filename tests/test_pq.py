"""Unit tests for the product-quantization kernels (operators/ivf.py):
encode = per-subspace argmin L2 with first-occurrence ties, ADC = exact
LUT-sum reconstruction of dot(q, decode(codes))."""

from __future__ import annotations

import numpy as np

from petasearch_spark.operators.ivf import PQ_K, PQ_M, PQ_SUB


def _brute_encode(vec: np.ndarray, codebooks: np.ndarray) -> list[int]:
    codes = []
    for m in range(PQ_M):
        sub = vec[m * PQ_SUB : (m + 1) * PQ_SUB]
        d = [float(((sub - codebooks[m, j]) ** 2).sum()) for j in range(PQ_K)]
        codes.append(int(np.argmin(d)))
    return codes


def test_pq_encode_and_adc_match_brute_force():
    rng = np.random.default_rng(11)
    corpus = rng.normal(size=(50, PQ_M * PQ_SUB))
    codebooks = corpus[:PQ_K].reshape(PQ_K, PQ_M, PQ_SUB).swapaxes(0, 1).copy()

    # engine-side accumulation (mirrors ann_pq_topk's _dot_s)
    def dot_s(a, b):
        acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
        for s in range(PQ_SUB):
            acc = acc + a[..., s] * b[..., s]
        return acc

    sub = corpus.reshape(len(corpus), PQ_M, PQ_SUB)
    dots = dot_s(sub[:, :, None, :], codebooks[None, :, :, :])
    cnorm = dot_s(codebooks, codebooks)
    codes = np.argmin(cnorm[None, :, :] - 2.0 * dots, axis=2)
    for p in range(len(corpus)):
        assert codes[p].tolist() == _brute_encode(corpus[p], codebooks), p

    # ADC score == dot(q, reconstructed vector) exactly (same additions)
    q = corpus[3].reshape(PQ_M, PQ_SUB)
    lut = dot_s(q[:, None, :], codebooks)  # (M, K)
    for p in (0, 7, 20, 49):
        adc = 0.0
        recon_dot = 0.0
        for m in range(PQ_M):
            adc = adc + lut[m, codes[p, m]]
            recon_dot = recon_dot + dot_s(q[m], codebooks[m, codes[p, m]])
        assert adc == recon_dot

    # first PQ_K vectors encode to themselves (distance 0, lowest j wins)
    for p in range(PQ_K):
        assert codes[p].tolist() == [p] * PQ_M


def test_pq_encode_tie_breaks_to_lowest_code():
    # duplicate codewords: argmin must pick the first occurrence
    cb = np.zeros((PQ_M, PQ_K, PQ_SUB))
    cb[:, 5] = 1.0
    cb[:, 9] = 1.0  # identical to codeword 5
    vec = np.ones(PQ_M * PQ_SUB)
    assert _brute_encode(vec, cb) == [5] * PQ_M


def test_ivfpq_recall_vs_exact(spark):
    """IVF-PQ is approximate twice over (nprobe bucket pruning + 4-byte
    residual codes); it must still recover a solid share of the exact
    cosine top-5 and return the full (query x top-k) frame."""
    from petasearch_spark.operators.ivf import TOPK, ann_ivfpq_topk
    from petasearch_spark.operators.similarity import N_QUERIES, ann_cosine_topk

    sf = "/root/testdata/sf0.001"
    exact = {
        (r["query_id"], r["neighbor_id"]) for r in ann_cosine_topk(spark, sf).collect()
    }
    approx_rows = ann_ivfpq_topk(spark, sf).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    assert len(approx_rows) == N_QUERIES * TOPK
    per_q = {}
    for q, n in approx & exact:
        per_q[q] = per_q.get(q, 0) + 1
    recall = len(approx & exact) / len(exact)
    # measured 0.78 at sf0.001 (0.72 at sf0.01) with the exact-rerank
    # refine stage; raw ADC alone sits at 0.14
    assert recall >= 0.6, (recall, per_q)


def test_semdedup_matches_oracle_and_measures_recall(spark):
    """SemDeDup drops a vector iff a smaller-id same-cluster vector sits
    within τ; every dropped vector must be a TRUE near-dup (precision 1.0
    by construction — verify against the exact all-pairs set), and the
    share of exact near-dup-droppable vectors it catches (recall given up
    to clustering) is measured and bounded."""
    from petasearch_spark.operators.ivf import semdedup_clusters
    from petasearch_spark.operators.similarity import embedding_neardup

    sf = "/root/testdata/sf0.01"
    rows = semdedup_clusters(spark, sf).collect()
    exact_pairs = {
        (r["id_a"], r["id_b"]) for r in embedding_neardup(spark, sf).collect()
    }
    # any vector with an exact near-dup of smaller id is droppable
    droppable = {b for a, b in exact_pairs}
    dropped = {r["vec_id"] for r in rows if r["keep"] == 0}
    for r in rows:
        if r["keep"] == 0:
            # precision: the chosen representative is a true near-dup pair
            assert (r["dup_of"], r["vec_id"]) in exact_pairs, (r["dup_of"], r["vec_id"])
            assert r["dup_of"] < r["vec_id"]
    assert dropped <= droppable
    recall = len(dropped) / len(droppable) if droppable else 1.0
    # measured 11/53 = 0.21 at sf0.01 with 16 clusters: the synthetic
    # corpus's tau=0.4 "near-dups" are far from identical, so most pairs
    # straddle cluster boundaries. That is a property of this data, not
    # the operator — SemDeDup's premise is tau≈0.95 duplicates whose
    # near-identical embeddings co-cluster with high probability. The
    # floor pins against regression; the exact twin (embedding_neardup)
    # remains the high-recall small-corpus path.
    assert recall >= 0.15, (len(dropped), len(droppable))

    # the SemDeDup premise itself: a scaled copy (cosine exactly 1) always
    # co-clusters with its original and folds into it. At tau = 0.7 random
    # Gaussians never collide, so the drops are exactly the copies
    import numpy as np

    from petasearch_spark.operators.ivf import DIM, semdedup_frame

    n, n_dups = 300, 12
    vecs = [(i, np.random.RandomState(i).standard_normal(DIM).tolist()) for i in range(n)]
    vecs += [(n + i, [2.0 * x for x in vecs[i * 7][1]]) for i in range(n_dups)]
    emb = spark.createDataFrame(vecs, "vec_id long, v array<double>")
    out = semdedup_frame(emb, n_centroids=16, threshold=0.7).collect()
    assert len(out) == n + n_dups
    assert {r["vec_id"]: r["dup_of"] for r in out if r["keep"] == 0} == {
        n + i: i * 7 for i in range(n_dups)
    }


def test_embedding_profile_flags_corrupt_vectors(spark):
    """The audit paths the clean corpus never exercises: null vectors,
    wrong dimension, NaN/Inf components (excluded from norm stats), and
    non-unit norms."""
    from petasearch_spark.operators.similarity import EXPECTED_DIM, profile_vectors

    good = [0.0] * (EXPECTED_DIM - 1) + [2.0]          # norm exactly 2
    short = [1.0] * 8                                   # bad dim, norm > 0
    nan_vec = [float("nan")] + [0.0] * (EXPECTED_DIM - 1)
    inf_vec = [float("inf")] + [0.0] * (EXPECTED_DIM - 1)
    rows = [
        (1, good),
        (1, None),
        (1, short),
        (1, nan_vec),
        (2, inf_vec),
        (2, [3.0] + [0.0] * (EXPECTED_DIM - 1)),
    ]
    emb = spark.createDataFrame(rows, "label int, embedding array<double>")
    out = {r["label"]: r for r in profile_vectors(emb).collect()}
    r1 = out[1]
    assert (r1["n_vecs"], r1["n_null"], r1["n_bad_dim"], r1["n_nonfinite"]) == (4, 1, 1, 1)
    # norm stats: good (2.0) and short (sqrt(8)) only — null/NaN excluded
    assert r1["min_norm"] == 2.0
    assert r1["max_norm"] == round(8 ** 0.5, 6)
    r2 = out[2]
    assert (r2["n_vecs"], r2["n_nonfinite"]) == (2, 1)
    assert r2["min_norm"] == r2["max_norm"] == 3.0
