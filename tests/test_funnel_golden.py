"""A4 funnel-counter parity golden (round-3 VERDICT item 3).

The reference's runtime counters are its cross-engine parity metric
(BASELINE.md): equalKmers and the reduction funnel at
/root/reference/src/sra/comparekmertables.cpp:463,495,587,616-619 and
blockalign.cpp:465-481. This test pins `funnel_report` against an
INDEPENDENT scalar-twin enumeration over the committed FASTA corpus
(tests/data/golden_*.fa): plain Python dict/set loops over 9-char window
STRINGS — no numpy extraction, no Spark, no shared code with the engine's
integer-encoded Arrow path. Expansion mode additionally uses
golden_tools.brute_expand (the threshold-pruned product enumerator that
backs the expansion golden — an independent algorithm from the engine's
lazy heap) and cross-checks alignments_passed against the committed,
reviewed golden_expected.m8 line count.
"""

from __future__ import annotations

import os
from collections import Counter

from petasearch_spark.functions.kmer import AMINO_ALPHABET
from petasearch_spark.plans.search import funnel_report
from petasearch_spark.sources.fasta import read_fasta
from tests.golden_tools import brute_expand, decode_kmer

DATA = os.path.join(os.path.dirname(__file__), "data")
K = 9
REQ = 2  # --req-kmer-matches default (strict >)


def read_fa_scalar(path: str) -> list[str]:
    """Independent plain-loop FASTA parser: sequences in file order."""
    seqs: list[str] = []
    cur: list[str] | None = None
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line.startswith(">"):
                if cur is not None:
                    seqs.append("".join(cur))
                cur = []
            elif line and cur is not None:
                cur.append(line)
    if cur is not None:
        seqs.append("".join(cur))
    return seqs


def windows(seq: str) -> list[str]:
    """All valid k=9 windows (F1/F2: any residue outside the 20-letter
    alphabet breaks the window; shorter sequences yield nothing)."""
    out = []
    for i in range(len(seq) - K + 1):
        w = seq[i : i + K]
        if all(c in AMINO_ALPHABET for c in w):
            out.append(w)
    return out


def scalar_funnel(
    queries: list[str],
    targets: list[str],
    expand_threshold: int | None = None,
    max_per_pos: int = 20,
) -> dict:
    # J2 index: one representative per distinct k-mer — longest target,
    # ties to the smallest (earliest-loaded) id
    rep: dict[str, tuple[int, int]] = {}
    for tid, seq in enumerate(targets):
        for w in windows(seq):
            cand = (-len(seq), tid)
            if w not in rep or cand < rep[w]:
                rep[w] = cand
    index = {w: tid for w, (_neg, tid) in rep.items()}

    # query k-mer table: every valid window occurrence; expansion mode
    # appends ALL similar k-mers scoring >= threshold (which may
    # re-include the exact k-mer — reference behavior, matching
    # similar_kmers.expand_kmers' exact row plus similar rows)
    qk_rows: list[tuple[int, str]] = []
    memo: dict[str, list[str]] = {}
    for qid, seq in enumerate(queries):
        for w in windows(seq):
            qk_rows.append((qid, w))
            if expand_threshold is not None:
                if w not in memo:
                    codes = [AMINO_ALPHABET.index(c) for c in w]
                    memo[w] = [
                        decode_kmer(code, K)
                        for code, _score in brute_expand(codes, expand_threshold, max_per_pos)
                    ]
                qk_rows.extend((qid, s) for s in memo[w])

    equal = sum(1 for _qid, w in qk_rows if w in index)
    pair_counts = Counter((qid, index[w]) for qid, w in qk_rows if w in index)
    surviving = {p: c for p, c in pair_counts.items() if c > REQ}
    return {
        "query_kmers": len(qk_rows),
        "index_kmers": len(index),
        "equal_kmers": equal,
        "prefilter_rows": sum(surviving.values()),
        "prefilter_pairs": len(surviving),
        "n_queries": len(queries),
    }


def _compare(report: dict, want: dict) -> None:
    got = {k: report[k] for k in want}
    assert got == want, f"funnel drift:\n got  {got}\n want {want}"


def test_funnel_counters_exact_mode(spark):
    q = read_fasta(spark, os.path.join(DATA, "golden_queries.fa"))
    t = read_fasta(spark, os.path.join(DATA, "golden_targets.fa"))
    want = scalar_funnel(
        read_fa_scalar(os.path.join(DATA, "golden_queries.fa")),
        read_fa_scalar(os.path.join(DATA, "golden_targets.fa")),
    )
    _compare(funnel_report(q, t), want)


def test_funnel_counters_expansion_mode(spark):
    """Expansion-mode funnel at the reference's default --k-score 225:
    every comparekmertables-side counter vs the independent brute_expand
    enumeration. (225, not the m8 golden's calibrated 131: brute_expand
    enumerates EVERYTHING >= threshold before the top-N cut, which is
    intractable at 131 — the engine's lazy heap is what makes low
    thresholds feasible.)"""
    q = read_fasta(spark, os.path.join(DATA, "golden_queries.fa"))
    t = read_fasta(spark, os.path.join(DATA, "golden_targets.fa"))
    report = funnel_report(q, t, expand_similar=True)
    want = scalar_funnel(
        read_fa_scalar(os.path.join(DATA, "golden_queries.fa")),
        read_fa_scalar(os.path.join(DATA, "golden_targets.fa")),
        expand_threshold=225,
    )
    _compare(report, want)


def test_funnel_alignments_passed_matches_m8_golden(spark):
    """The blockalign-side counter (alignments passed,
    blockalign.cpp:465-481) through the FUNNEL path must equal the
    committed, reviewed m8 golden's row count under the golden's own
    settings — ties A4's last stage to the same artifact that pins the
    full cascade row-for-row (tests/test_golden_m8.py)."""
    q = read_fasta(spark, os.path.join(DATA, "golden_queries.fa"))
    t = read_fasta(spark, os.path.join(DATA, "golden_targets.fa"))
    report = funnel_report(q, t, expand_similar=True, kmer_threshold=131)
    with open(os.path.join(DATA, "golden_expected.m8")) as fh:
        n_m8 = sum(1 for line in fh if line.strip())
    assert report["alignments_passed"] == n_m8 and n_m8 > 0
