"""T2 expansion tests: exhaustive brute-force equivalence at small k,
calibration of the seed-matrix scale, and the sensitivity flip e2e.

All default-threshold expectations are in the MMseqs seed-matrix scale
(functions/scoring.KMER_SEED_MATRIX; --k-score 225,
/root/reference/src/commons/LocalParameters.h:150).
"""

from __future__ import annotations

import numpy as np
import pytest

from petasearch_spark.functions.kmer import AMINO_ALPHABET
from petasearch_spark.functions.scoring import BLOSUM62, KMER_SEED_MATRIX, SEED_LAMBDA
from petasearch_spark.operators.similar_kmers import (
    DEFAULT_KMER_THRESHOLD,
    _decode,
    expand_kmer,
    expand_kmer_scored,
)
from tests.test_kmer import encode_py

A = len(AMINO_ALPHABET)


def brute_force(kmer: int, k: int, threshold: int, max_n: int, matrix=KMER_SEED_MATRIX):
    """Independent full enumeration with the canonical (score DESC,
    code ASC) order the engine commits to on ties."""
    codes = _decode(kmer, k)
    scores = []
    for cand in range(A**k):
        cc = _decode(cand, k)
        s = sum(int(matrix[a, b]) for a, b in zip(codes, cc))
        if s >= threshold:
            scores.append((cand, s))
    scores.sort(key=lambda t: (-t[1], t[0]))
    return scores[:max_n], scores


def test_seed_matrix_calibration():
    """The seed matrix is the MMseqs 8-bit-factor scale: λ of half-bit
    BLOSUM62 ≈ 0.32, entries = round(8·λ·s/ln2 − 0.2) ≈ 3.74·raw."""
    assert 0.31 < SEED_LAMBDA < 0.34
    ratio = KMER_SEED_MATRIX[BLOSUM62 != 0] / BLOSUM62[BLOSUM62 != 0]
    assert 3.2 < np.median(ratio) < 4.2
    # symmetric, ints, diagonal dominant per row (no off-diag ties possible)
    assert (KMER_SEED_MATRIX == KMER_SEED_MATRIX.T).all()
    d = np.diag(KMER_SEED_MATRIX)
    off = KMER_SEED_MATRIX - np.diag(d)
    assert (d[:, None] > off).all()


def test_exhaustive_small_k():
    for seed_kmer in ["AC", "WY", "LL"]:
        km = encode_py(seed_kmer)
        got = expand_kmer_scored(km, 2, threshold=30, max_n=10)
        expect, _ = brute_force(km, 2, 30, 10)
        assert got == expect  # exact (code, score) sequence incl. tie order


def test_exhaustive_k3_chunks_boundary():
    # k=3 is a single chunk; k=4 splits 3+1 — both against brute force
    for s, k in [("ACD", 3), ("WYWC", 4)]:
        km = encode_py(s)
        got = expand_kmer_scored(km, k, threshold=40, max_n=15)
        expect, _ = brute_force(km, k, 40, 15)
        assert got == expect


def test_exact_kmer_first_at_k9():
    km = encode_py("ACDEFGHIK")
    out = expand_kmer(km, 9, threshold=150, max_n=20)
    assert out[0] == km  # self is the unique best substitute
    assert len(out) <= 20
    assert len(set(out)) == len(out)


def seed_self_score(s: str) -> int:
    return int(sum(KMER_SEED_MATRIX[c, c] for c in (AMINO_ALPHABET.index(ch) for ch in s)))


def test_default_threshold_gates_expansion_by_self_score():
    """At --k-score 225 most ordinary k-mers produce NO similar list (the
    exact k-mer still probes via the unconditional emit) while rare-residue
    k-mers expand — the reference's low-sensitivity default."""
    ordinary = "ACDEFGHIK"
    rare = "WCWCWCWCW"  # W/C rows are the strongest diagonals
    assert seed_self_score(ordinary) < DEFAULT_KMER_THRESHOLD
    assert seed_self_score(rare) > DEFAULT_KMER_THRESHOLD
    assert expand_kmer(encode_py(ordinary), 9) == []
    out = expand_kmer_scored(encode_py(rare), 9)
    assert out and out[0][0] == encode_py(rare)
    assert all(sc >= DEFAULT_KMER_THRESHOLD for _, sc in out)


def test_threshold_boundary_is_inclusive():
    """generateKmerList keeps score >= threshold (FixedKmerGenerator.cpp
    :315) — check both sides of the boundary at the self score."""
    km = encode_py("AAAAAAAAA")
    self_sc = seed_self_score("AAAAAAAAA")
    assert expand_kmer(km, 9, threshold=self_sc, max_n=20)[0] == km
    assert expand_kmer(km, 9, threshold=self_sc + 1, max_n=20) == []


def test_heap_matches_pruned_bruteforce_k9():
    """Per-position expansion (codes AND scores AND order) at the default
    --k-score 225 against the independent pruned enumerator over a fixture
    query — the calibration evidence VERDICT r1 item 7 asked for."""
    from tests.golden_tools import brute_expand

    fixture = "WCWCWCWCWMNPQRSTVWYHHHWWCCFYAMCWYHW"
    counts = []
    for i in range(len(fixture) - 8):
        win = fixture[i : i + 9]
        km = encode_py(win)
        codes = [AMINO_ALPHABET.index(c) for c in win]
        got = expand_kmer_scored(km, 9)
        expect = brute_expand(codes, DEFAULT_KMER_THRESHOLD, 20)
        assert got == expect, f"pos {i} ({win})"
        counts.append(len(got))
    # the fixture is rare-residue-rich: some positions expand fully, the
    # ordinary tail does not — both regimes are exercised
    assert max(counts) == 20 and min(counts) == 0


@pytest.mark.parametrize("k", [4, 5, 7, 9])
def test_top_n_tie_boundary_matches_bruteforce(k):
    """Small `max_n` puts the top-N cut inside runs of tied scores: the
    per-chunk top-N-with-ties cut must keep every tied entry that can win
    the canonical (score DESC, code ASC) order. Seeded sweep against the
    independent enumerator, thresholds at and below the self score."""
    from tests.golden_tools import brute_expand

    rng = np.random.default_rng(k)
    boundary_ties = 0
    for _ in range(3):
        codes = rng.integers(0, A, size=k).tolist()
        km = int(np.dot(codes, A ** np.arange(k - 1, -1, -1)))
        self_sc = int(sum(KMER_SEED_MATRIX[c, c] for c in codes))
        thresholds = [self_sc, self_sc - 5, self_sc - 20]
        if k <= 5:
            thresholds += [self_sc - 60, 20]
        for thr in thresholds:
            full = brute_expand(codes, thr, A**k)
            for max_n in (1, 2, 5, 20):
                got = expand_kmer_scored(km, k, thr, max_n)
                assert got == full[:max_n], (codes, thr, max_n)
                boundary_ties += len(full) > max_n and full[max_n - 1][1] == full[max_n][1]
    assert boundary_ties > 0  # the sweep really cuts inside a tie run


def test_max_n_zero_is_empty_and_negative_raises():
    km = encode_py("WCWCWCWCW")
    assert expand_kmer_scored(km, 9, max_n=0) == []
    with pytest.raises(ValueError, match="max_n"):
        expand_kmer_scored(km, 9, max_n=-1)


def test_sensitivity_flip_e2e(spark):
    """A target whose only similarity is via substituted k-mers is found
    with expansion ON and missed with it OFF."""
    from petasearch_spark.plans.search import search
    from petasearch_spark.sources.fasta import sequences_from_records

    q = "ACDEFGHIKLMNPQRSTVWYACDEFGHIKL"
    # conservative substitutions (E->D, L->I, T->S) spaced ≤8 apart so no
    # exact 9-mer window survives, but similar-kmer scores stay high
    t = "ACDDFGHIKIMNPQRSSVWYACDDFGHIKI"
    assert all(q[i : i + 9] != t[i : i + 9] for i in range(len(q) - 8))
    qdf = sequences_from_records(spark, [("q0", q)])
    tdf = sequences_from_records(spark, [("t0", t)])
    exact = search(qdf, tdf, expand_similar=False).collect()
    assert exact == []
    sens = search(
        qdf, tdf, expand_similar=True, kmer_threshold=110, kmer_max_per_pos=200
    ).collect()
    assert any(r["target_accession"] == "t0" for r in sens)


class TestCompositionBias:
    def test_bias_nonpositive_and_strong_in_homopolymer(self, spark):
        """kbias = min(0, round(Σ deltaS)) — clamped non-positive
        (comparekmertables.cpp:246-248); self-similar windows go deeply
        negative (threshold strongly raised), diverse windows sit near 0."""
        from petasearch_spark.operators.similar_kmers import composition_bias_kmer
        from petasearch_spark.sources.fasta import sequences_from_records

        seqs = sequences_from_records(
            spark,
            [("rep", "L" * 40), ("div", "ACDEFGHIKLMNPQRSTVWYACDEFGHIKLMNPQRSTVWY")],
        )
        rows = composition_bias_kmer(seqs).collect()
        rep = [r["kbias"] for r in rows if r["query_id"] == 0]
        div = [r["kbias"] for r in rows if r["query_id"] == 1]
        assert max(rep) <= 0 and max(div) <= 0
        # homopolymer: every window residue self-scores 15 (seed L,L) —
        # deltaS ≈ -15 + background ≈ -16/pos, ~ -140 per 9-window
        assert min(rep) < -80
        assert min(div) > -40

    def test_bias_suppresses_expansion(self, spark):
        from pyspark.sql import functions as F

        from petasearch_spark.operators.kmer_index import extract_query_kmers
        from petasearch_spark.operators.similar_kmers import (
            composition_bias_kmer,
            expand_query_kmers,
        )
        from petasearch_spark.sources.fasta import sequences_from_records

        seqs = sequences_from_records(
            spark, [("rep", "L" * 20), ("div", "ACDEFGHIKWMNPQRSTVWY")]
        )
        qk = extract_query_kmers(seqs)
        plain = expand_query_kmers(qk, threshold=110, max_per_pos=10)
        biased = expand_query_kmers(
            qk, threshold=110, max_per_pos=10, bias=composition_bias_kmer(seqs)
        )
        n_plain = {r["query_id"]: r["n"] for r in plain.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()}
        n_biased = {r["query_id"]: r["n"] for r in biased.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()}
        # the repeat query loses expansions under bias (exact rows remain);
        # the diverse one keeps ~all
        assert n_biased[0] < n_plain[0]
        assert n_biased[1] >= 0.8 * n_plain[1]

    def test_exact_rows_survive_any_bias(self, spark):
        """The unconditional exact emit (comparekmertables.cpp:256-262) is
        bias-independent: every (query_id, pos) keeps >= 1 row."""
        from petasearch_spark.operators.kmer_index import extract_query_kmers
        from petasearch_spark.operators.similar_kmers import (
            composition_bias_kmer,
            expand_query_kmers,
        )
        from petasearch_spark.sources.fasta import sequences_from_records

        seqs = sequences_from_records(spark, [("rep", "W" * 30)])
        qk = extract_query_kmers(seqs)
        out = expand_query_kmers(qk, bias=composition_bias_kmer(seqs))
        per_pos = {r["pos"] for r in out.collect()}
        assert per_pos == {r["pos"] for r in qk.collect()}
