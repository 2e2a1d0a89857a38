"""Gapped alignment stage (SURVEY §2: J3 + O4/O5 + F5-F8 + UDF 3).

Reference (`blockalign`, /root/reference/src/sra/blockalign.cpp): per
(target, query) pair surviving the prefilter —

1. re-derive target k-mer positions and compute ``diag = qpos - tpos``
   per matched k-mer (250-299; J3),
2. drop the pair unless ≥2 matches lie within 4 diagonals of each other
   (isWithinNDiagonals, 61-69, call 303; F5),
3. per distinct diagonal, ungapped rescore (DistanceCalculator::
   computeUngappedAlignment, lib/mmseqs/src/alignment/DistanceCalculator.h:94-149);
   accept at the first diagonal whose ungapped e-value passes (71-117; F6),
4. gapped x-drop block alignment anchored at that diagonal
   (BlockAligner::align, src/commons/BlockAligner.cpp:225-316) — here a
   banded affine-gap Smith-Waterman restricted to diagonals within
   ±band/2 of the anchor (band default 32 = the reference's block size,
   LocalParameters.h:146-147),
5. drop zero-length alignments (403-406; F7) and e-values above the
   threshold (411-414; F8), then swap to query-keyed output
   (Matcher::result_t::swapResult semantics, 435-440; P6).

DEFAULT DIVERGENCE from the reference aligner (round-2 evidence,
tests/test_align.py x-drop section): the reference's gapped stage is a
two-pass x-drop extension (--xdrop 10, BlockAligner.cpp:60-93) that
STOPS once the frontier falls more than 10 below the running best; our
DEFAULT is banded Gotoh over the same ±band/2 diagonals with no early
termination. The reference rule IS implemented — pass ``xdrop=10``
(``DEFAULT_XDROP``) to banded_sw_batch/align_pairs/search for frontier
termination, kernel-vs-scalar pinned by
test_xdrop_kernel_option_matches_reference_*. Gotoh stays the default
(written decision): on pairs with two high-scoring segments
separated by a deep score dip we bridge and report the higher combined
score where the reference reports only the anchor-side segment — we are
never LESS sensitive, and on conservatively mutated pairs (the shape of
real hits) the two rules agree on 50/50 seeded trials
(test_xdrop_agreement_rate_on_realistic_pairs). The divergence is
directional, quantified, and confined to deep-dip constructions.

Spark design: the kernel is a pure numpy function over one (qseq, tseq,
matches) row — no cross-row state — so it runs under ``mapInPandas``:
Arrow-batched, embarrassingly parallel, no shuffle beyond the one
groupBy that collects each pair's k-mer matches. Batches are kept small
(session.py caps arrow batch records) because rows carry whole sequences.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from petasearch_spark.functions.kmer import AMINO_ALPHABET
from petasearch_spark.functions.scoring import BLOSUM62, KA_GAPPED_11_1, KA_UNGAPPED

#: defaults from /root/reference/src/workflow/petasearch.cpp:11-15 and
#: src/commons/LocalParameters.h:144-152
DEFAULT_EVALUE = 1000.0
DEFAULT_BAND = 32
DEFAULT_GAP_OPEN = 11
DEFAULT_GAP_EXTEND = 1
DIAG_PROXIMITY = 4  # hard-coded N=4, blockalign.cpp:61-69

_LUTS: dict[str, np.ndarray] = {}


def _lut(alphabet: str) -> np.ndarray:
    lut = _LUTS.get(alphabet)
    if lut is None:
        lut = np.full(128, -1, dtype=np.int64)
        for i, c in enumerate(alphabet):
            lut[ord(c)] = i
        _LUTS[alphabet] = lut
    return lut


def _encode(seq: str, alphabet: str = AMINO_ALPHABET) -> np.ndarray:
    """residue string -> int codes; invalid residues (X etc.) -> -1."""
    b = np.frombuffer(seq.encode("ascii", "replace"), dtype=np.uint8)
    return _lut(alphabet)[b & 0x7F]


def _kmer_positions(codes: np.ndarray, k: int, alphabet_size: int = len(AMINO_ALPHABET)) -> dict[int, int]:
    """kmer code -> FIRST position in the sequence (the reference's
    lower_bound lookup returns the first entry for the kmer,
    blockalign.cpp:282-287). Vectorized: all windows at once, windows
    containing an invalid residue dropped (F1)."""
    n = len(codes)
    if n < k:
        return {}
    a = alphabet_size
    w = np.lib.stride_tricks.sliding_window_view(codes, k)
    valid = (w >= 0).all(axis=1)
    weights = a ** np.arange(k - 1, -1, -1, dtype=np.int64)
    km = w @ weights
    idx = np.nonzero(valid)[0]
    # reversed zip -> earliest position wins for duplicate k-mers
    return dict(zip(km[idx][::-1].tolist(), idx[::-1].tolist()))


def ungapped_score(qc: np.ndarray, tc: np.ndarray, diag: int, matrix: np.ndarray = BLOSUM62) -> tuple[int, int, int]:
    """Best ungapped local score along `diag` (= qpos - tpos): max
    subarray of substitution scores (F6's rescore). Returns
    (score, qstart, qend_exclusive). Invalid residues score -1."""
    # overlap of q[i+diag] vs t[i]
    t_lo = max(0, -diag)
    t_hi = min(len(tc), len(qc) - diag)
    if t_hi <= t_lo:
        return 0, 0, 0
    ts = tc[t_lo:t_hi]
    qs = qc[t_lo + diag : t_hi + diag]
    ok = (ts >= 0) & (qs >= 0)
    s = np.where(ok, matrix[np.where(ok, ts, 0), np.where(ok, qs, 0)], -1).astype(np.int64)
    # max-subarray via prefix sums: best = max_i (prefix[i] - min_{j<=i-?} prefix[j])
    prefix = np.concatenate(([0], np.cumsum(s)))
    run_min = np.minimum.accumulate(prefix[:-1])
    gains = prefix[1:] - run_min
    best = int(gains.max(initial=0))
    if best <= 0:
        return 0, 0, 0
    e = int(gains.argmax())  # end index (inclusive) in s
    st = int(np.argmin(prefix[: e + 1]))  # prefix index of the min before e+1
    return best, t_lo + diag + st, t_lo + diag + e + 1


#: the reference's --xdrop default (/root/reference/src/commons/LocalParameters.h:145),
#: used by BlockAligner's two-pass extension (BlockAligner.cpp:60-93).
#: ENGINE DEFAULT IS None (no early termination — plain banded Gotoh), a
#: WRITTEN DECISION (round-2 VERDICT item 6): Gotoh is never less
#: sensitive than x-drop (tests/test_align.py pins the direction), agrees
#: 50/50 on realistic mutated pairs, and keeps the committed m8 goldens
#: stable; pass xdrop=DEFAULT_XDROP through search()/align_pairs() for
#: reference-exact termination (test_xdrop_kernel_option_matches_reference
#: pins kernel-vs-scalar equality on the constructed divergence pairs).
DEFAULT_XDROP = 10


def banded_sw(
    qc: np.ndarray,
    tc: np.ndarray,
    anchor_diag: int,
    band: int = DEFAULT_BAND,
    gap_open: int = DEFAULT_GAP_OPEN,
    gap_extend: int = DEFAULT_GAP_EXTEND,
    matrix: np.ndarray = BLOSUM62,
    xdrop: int | None = None,
):
    """Banded affine-gap local alignment around `anchor_diag` — single-pair
    convenience wrapper over :func:`banded_sw_batch` (same code path as the
    pipeline, so the property tests in tests/test_align.py cover it)."""
    return banded_sw_batch([qc], [tc], [anchor_diag], band, gap_open, gap_extend, matrix, xdrop)[0]


_NEG = np.int32(-(10 ** 9))
_OFF_QUERY = -2  # query code of a band cell outside the query


def band_rows(qlen, tlen, anchors, band: int = DEFAULT_BAND):
    """Per pair, the target rows where the band around ``anchors`` meets
    the query: ``(r_lo, span)``, rows ``[r_lo, r_lo + span)``. Row i has a
    valid band cell only if ``-d_lo - band <= i < qlen - d_lo`` (d_lo =
    anchor - band//2 is the query column of slot 0 at row 0); every other
    row scores 0 everywhere. Works on ints and on numpy arrays."""
    d_lo = np.asarray(anchors, dtype=np.int64) - band // 2
    r_lo = np.maximum(0, -d_lo - band)
    span = np.maximum(0, np.minimum(tlen, qlen - d_lo) - r_lo)
    return r_lo, span


def banded_sw_batch(
    qcs: list,
    tcs: list,
    anchors: list,
    band: int = DEFAULT_BAND,
    gap_open: int = DEFAULT_GAP_OPEN,
    gap_extend: int = DEFAULT_GAP_EXTEND,
    matrix: np.ndarray = BLOSUM62,
    xdrop: int | None = None,
) -> list:
    """Banded affine-gap local alignment (Gotoh), vectorized ACROSS PAIRS.

    The row loop of a banded DP does O(band) work per step — far too little
    to amortize numpy call overhead one pair at a time. So P pairs advance
    row-synchronously: every state array is (P, band+1) and each target row
    costs ~15 numpy ops for the whole batch. The intra-row E recurrence
    (E[b] depends on H[b-1] which depends on E[b-1]) is solved lazily:
    compute H without E, derive all E by one prefix-max scan, raise H,
    repeat until fixpoint (≥1 pass, ~always ≤2 — same trick as striped SW's
    lazy-F loop).

    Only the rows where a pair's band meets the query are computed
    (:func:`band_rows`): pair p runs its own rows ``[r_lo, r_lo + span)``
    as local rows ``0..span-1``. Pairs are sorted by span, longest first,
    so local row i runs on the live PREFIX of pairs whose span exceeds i —
    the prefix shrinks as short pairs finish. This is exact: outside the
    span every band cell is invalid, so H is 0 there and never beats the
    running best (strict ``>``); F stays at -gap_open through such rows,
    which is what the first computed row derives from H=0, F=-inf; and the
    traceback, which stops at the first H=0 cell, never needs a row before
    the span (it ends the walk on reaching local row -1). Traceback
    needs only a uint8 pointer byte per cell (2 bits H-source, 1 bit
    E-extend, 1 bit F-extend), so memory is P × max span × (band+1) bytes.

    ``xdrop``: the reference's frontier rule (BlockAligner.cpp:60-93) —
    a pair stops extending at the first target row whose best band cell
    falls more than ``xdrop`` below that pair's running best; its result
    is the best cell seen before termination. None (engine default, see
    DEFAULT_XDROP) = full banded Gotoh, never less sensitive.

    Returns a list (len P, input order) of None / dict with raw score,
    0-based [qstart,qend) / [tstart,tend), backtrace (M = aligned pair,
    I = query residue vs target gap, D = target residue vs query gap), and
    P7 stats.
    """
    P = len(qcs)
    B = band + 1
    qlen = np.fromiter((len(q) for q in qcs), dtype=np.int64, count=P)
    tlen = np.fromiter((len(t) for t in tcs), dtype=np.int64, count=P)
    anchors = np.asarray(anchors, dtype=np.int64)
    r_lo, span = band_rows(qlen, tlen, anchors, band)
    order = np.argsort(-span, kind="stable")
    qlen, span, r_lo = qlen[order], span[order], r_lo[order]
    d_lo = anchors[order] - band // 2
    nqm, nrows = max(1, int(qlen.max(initial=0))), int(span.max(initial=0))
    # query codes padded by `band` columns of _OFF_QUERY on each side: in
    # a span, band slot b of local row i reads query column
    # j = d_lo + r_lo + i + b, and -band <= j < qlen + band there
    qpad = np.full((P, nqm + 2 * band), _OFF_QUERY, dtype=np.int64)
    tpad = np.full((P, nrows), -1, dtype=np.int64)
    for k, p in enumerate(order):
        qpad[k, band : band + qlen[k]] = qcs[p]
        tpad[k, : span[k]] = tcs[p][r_lo[k] : r_lo[k] + span[k]]
    qwin = np.lib.stride_tricks.sliding_window_view(qpad, B, axis=1)
    q0 = band + d_lo + r_lo  # window of local row 0
    # live[i] = number of pairs whose span exceeds local row i
    live = np.searchsorted(-span, -np.arange(nrows), side="left")

    bidx = np.arange(B, dtype=np.int64)
    ext_ramp = (bidx * gap_extend).astype(np.int32)
    e_offset = (gap_open + (bidx - 1) * gap_extend).astype(np.int32)
    # substitution scores with two extra codes, -1 (invalid residue) and
    # _OFF_QUERY, both scoring -1
    mat32 = np.full((len(matrix) + 2, len(matrix) + 2), -1, dtype=np.int32)
    mat32[: len(matrix), : len(matrix)] = matrix

    H_prev = np.zeros((P, B), dtype=np.int32)
    F_prev = np.full((P, B), _NEG, dtype=np.int32)
    ptr = np.zeros((P, nrows, B), dtype=np.uint8)
    best = np.zeros(P, dtype=np.int32)
    best_i = np.zeros(P, dtype=np.int64)
    best_b = np.zeros(P, dtype=np.int64)
    prange = np.arange(P)
    active = np.ones(P, dtype=bool)  # pairs still extending (x-drop mode)

    for i in range(nrows):
        n = int(live[i])
        H_prev, F_prev = H_prev[:n], F_prev[:n]
        qcodes = qwin[prange[:n], q0[:n] + i]
        valid = qcodes != _OFF_QUERY
        invalid = ~valid
        sub = mat32[tpad[:n, i, None], qcodes]
        # F: previous row, band slot b+1 (same query column)
        f_open = np.empty_like(H_prev)
        f_ext = np.empty_like(F_prev)
        f_open[:, :-1] = H_prev[:, 1:] - gap_open
        f_ext[:, :-1] = F_prev[:, 1:] - gap_extend
        f_open[:, -1] = _NEG
        f_ext[:, -1] = _NEG
        F_row = np.maximum(f_open, f_ext)
        fext_bit = f_ext > f_open
        diag_sc = H_prev + sub
        H_row = np.maximum(0, np.maximum(diag_sc, F_row)).astype(np.int32)
        H_row[invalid] = 0
        # E via prefix-max scan, iterated to fixpoint (lazy-E)
        while True:
            run = np.maximum.accumulate(H_row + ext_ramp, axis=1)
            E_row = np.full((n, B), _NEG, dtype=np.int32)
            E_row[:, 1:] = run[:, :-1] - e_offset[1:]
            E_row[invalid] = _NEG
            improved = (E_row > H_row) & valid
            if not improved.any():
                break
            H_row = np.where(improved, E_row, H_row)
        # pointer byte: H-source (0 stop, 1 diag, 2 E, 3 F) — same priority
        # order as the traceback checks — plus gap-extension bits.
        hsrc = np.where(
            H_row <= 0, 0, np.where(H_row == diag_sc, 1, np.where(H_row == E_row, 2, 3))
        ).astype(np.uint8)
        eext_bit = np.zeros((n, B), dtype=bool)
        eext_bit[:, 1:] = (E_row[:, :-1] - gap_extend) > (H_row[:, :-1] - gap_open)
        ptr[:n, i, :] = hsrc | (eext_bit.astype(np.uint8) << 2) | (fext_bit.astype(np.uint8) << 3)
        rb = H_row.argmax(axis=1)
        rm = H_row[prange[:n], rb]
        upd = rm > best[:n]  # strict: earliest row, then lowest slot, wins ties
        if xdrop is not None:
            upd &= active[:n]
        best[:n][upd] = rm[upd]
        best_i[:n][upd] = i
        best_b[:n][upd] = rb[upd]
        if xdrop is not None:
            # frontier rule AFTER the best update (the reference raises
            # best, then tests the drop) — terminated pairs keep their
            # recorded best cell and never update again
            active[:n] &= ~(rm < best[:n] - xdrop)
            if not active[:n].any():
                break
        H_prev, F_prev = H_row, F_row

    out = [None] * P
    for k, p in enumerate(order):
        if best[k] > 0:
            out[p] = _traceback(
                ptr[k], int(best[k]), int(best_i[k]), int(best_b[k]), int(r_lo[k]),
                int(d_lo[k]), qcs[p], tcs[p],
            )
    return out


def _traceback(ptr_p, best, end_i, end_b, row0, d_lo, qc, tc):
    """Walk the pointer bytes from the best cell; compute P7 stats.
    ``ptr_p`` row i is target row ``row0 + i``."""
    i, b = end_i, end_b
    B = ptr_p.shape[1]
    bt: list[str] = []
    state = "H"
    while i >= 0 and 0 <= b < B:
        byte = int(ptr_p[i, b])
        if state == "H":
            hsrc = byte & 3
            if hsrc == 0:
                break
            if hsrc == 1:
                bt.append("M")
                i -= 1  # diagonal move keeps the band slot
            elif hsrc == 2:
                state = "E"
            else:
                state = "F"
        elif state == "E":
            bt.append("I")
            state = "E" if (byte >> 2) & 1 else "H"
            b -= 1
        else:  # F
            bt.append("D")
            state = "F" if (byte >> 3) & 1 else "H"
            i -= 1
            b += 1
    bt.reverse()
    if not bt:
        return None
    qend = row0 + end_i + d_lo + end_b + 1
    tend = row0 + end_i + 1
    n_m = bt.count("M")
    n_i = bt.count("I")
    n_d = bt.count("D")
    qstart = qend - n_m - n_i
    tstart = tend - n_m - n_d
    backtrace = "".join(bt)
    # stats (P7): identities, mismatches, gap opens
    nident = 0
    for off, op in _walk(backtrace):
        qi, ti = off
        if op == "M" and qc[qstart + qi] == tc[tstart + ti] and qc[qstart + qi] >= 0:
            nident += 1
    return {
        "score": int(best),
        "qstart": int(qstart),
        "qend": int(qend),
        "tstart": int(tstart),
        "tend": int(tend),
        "alnlen": len(backtrace),
        "nident": int(nident),
        "mismatch": n_m - nident,
        "gapopen": _count_gap_opens(backtrace),
        "backtrace": backtrace,
    }


def _walk(backtrace: str):
    qi = ti = 0
    for op in backtrace:
        yield (qi, ti), op
        if op == "M":
            qi += 1
            ti += 1
        elif op == "I":
            qi += 1
        else:
            ti += 1


def _count_gap_opens(backtrace: str) -> int:
    opens = 0
    prev = "M"
    for op in backtrace:
        if op in "ID" and op != prev:
            opens += 1
        prev = op
    return opens


def find_anchor_diag(
    qc: np.ndarray,
    tc: np.ndarray,
    tpos: dict[int, int],
    kmers: list[int],
    qpositions: list[int],
    db_residues: int,
    max_evalue: float = DEFAULT_EVALUE,
    matrix: np.ndarray = BLOSUM62,
    ka_ungapped=KA_UNGAPPED,
) -> int | None:
    """J3 + F5 + F6: diagonals from k-mer matches; require ≥2 within 4
    diagonals of each other; per distinct diagonal ungapped rescore, the
    first whose ungapped e-value passes becomes the gapped anchor."""
    diags = []
    for km, qp in zip(kmers, qpositions):
        tp = tpos.get(int(km))
        if tp is None:
            # reference hard-errors here (blockalign.cpp:290-298); with J2
            # parity the kmer is always present. Skip defensively.
            continue
        diags.append(int(qp) - int(tp))
    if len(diags) < 2:
        return None
    diags.sort()
    # F5: ≥2 matches within 4 diagonals of each other
    darr = np.array(diags)
    if not (np.diff(darr) <= DIAG_PROXIMITY).any():
        return None
    # F6: ungapped rescore per distinct diagonal, first passing wins
    for d in dict.fromkeys(diags):
        sc, _, _ = ungapped_score(qc, tc, d, matrix=matrix)
        if ka_ungapped.evalue(sc, len(qc), db_residues) <= max_evalue:
            return d
    return None


def _finalize(res: dict | None, qlen: int, db_residues: int, max_evalue: float, ka=KA_GAPPED_11_1):
    """F7/F8 + Karlin-Altschul scoring on a banded_sw result."""
    if res is None or res["alnlen"] == 0:  # F7
        return None
    res["bits"] = ka.bit_score(res["score"])
    res["evalue"] = ka.evalue(res["score"], qlen, db_residues)
    res["fident"] = res["nident"] / res["alnlen"]
    if res["evalue"] > max_evalue:  # F8
        return None
    return res


def align_pair_kernel(
    qseq: str,
    tseq: str,
    kmers: list[int],
    qpositions: list[int],
    k: int,
    db_residues: int,
    max_evalue: float = DEFAULT_EVALUE,
    band: int = DEFAULT_BAND,
    gap_open: int = DEFAULT_GAP_OPEN,
    gap_extend: int = DEFAULT_GAP_EXTEND,
    _tc: np.ndarray | None = None,
    _tpos: dict[int, int] | None = None,
    alphabet: str = AMINO_ALPHABET,
    matrix: np.ndarray = BLOSUM62,
    ka_ungapped=KA_UNGAPPED,
    ka_gapped=KA_GAPPED_11_1,
    xdrop: int | None = None,
):
    """Full per-pair cascade F5 -> F6 -> gapped -> F7/F8. Returns None or
    an alignment dict (adds bits/evalue/fident). `_tc`/`_tpos` let callers
    reuse the target encoding/k-mer positions across the many pairs that
    share a target. The distributed path (align_pairs) runs the same
    helpers but batches the gapped stage across pairs."""
    qc = _encode(qseq, alphabet)
    tc = _tc if _tc is not None else _encode(tseq, alphabet)
    tpos = _tpos if _tpos is not None else _kmer_positions(tc, k, len(alphabet))
    anchor = find_anchor_diag(qc, tc, tpos, kmers, qpositions, db_residues, max_evalue,
                              matrix=matrix, ka_ungapped=ka_ungapped)
    if anchor is None:
        return None
    res = banded_sw(qc, tc, anchor, band=band, gap_open=gap_open, gap_extend=gap_extend,
                    matrix=matrix, xdrop=xdrop)
    return _finalize(res, len(qc), db_residues, max_evalue, ka=ka_gapped)


UNGAPPED_SCHEMA = (
    "query_id long, target_id long, n_matches int, n_diags int, "
    "best_diag int, best_score int, qstart int, qend int"
)


def ungapped_rescore_pairs(
    prefilter_pairs: DataFrame,
    queries: DataFrame,
    targets: DataFrame,
    k: int = 9,
    alphabet: str = AMINO_ALPHABET,
    matrix: np.ndarray = BLOSUM62,
) -> DataFrame:
    """The J3+F5+F6 sub-cascade as a standalone, ORACLE-CHECKABLE query:
    per surviving prefilter pair, recompute match diagonals
    (diag = qpos - first target occurrence of the kmer; blockalign.cpp
    :282-289), gate on >=2 matches within 4 diagonals (isWithinNDiagonals,
    61-69), then per DISTINCT diagonal run the ungapped max-subarray
    rescore (DistanceCalculator::computeUngappedAlignment semantics,
    lib/mmseqs/src/alignment/DistanceCalculator.h:94-149) and keep the
    best (score DESC, diag ASC). Every number here is integer arithmetic
    over substitution scores — exactly reproducible by a window-prefix-sum
    SQL oracle (doc_search.PROTEIN_UNGAPPED_SQL), which is what upgrades
    the alignment cascade from a rows-only check to a value-checked one.

    ``prefilter_pairs`` are grouped pairs (prefilter.prefilter_grouped:
    per-pair k-mer lists); diagonals are sorted below, so list order never
    reaches the result. Coordinates are 1-based inclusive [qstart, qend]
    in the query. Uses the same kernels (_encode/_kmer_positions/
    ungapped_score) as the full alignment path, so a green oracle row
    certifies those kernels.
    """
    grouped = prefilter_pairs.select("query_id", "target_id", "kmers", "qpositions")
    q = queries.select(F.col("seq_id").alias("query_id"), F.col("sequence").alias("qseq"))
    t = targets.select(F.col("seq_id").alias("target_id"), F.col("sequence").alias("tseq"))
    # explicit repartition: the grouped pair set is small in bytes, so AQE
    # would coalesce the post-join stage and serialize the Python rescore
    # kernel (same hazard as align_pairs, which uses the same fix)
    n_parts = 2 * max(1, prefilter_pairs.sparkSession.sparkContext.defaultParallelism)
    rows = (
        grouped.join(F.broadcast(q), "query_id")
        .join(t, "target_id")
        .repartition(n_parts, "target_id")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["query_id", "target_id", "n_matches", "n_diags",
                "best_diag", "best_score", "qstart", "qend"]
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                tc = _encode(r.tseq, alphabet)
                qc = _encode(r.qseq, alphabet)
                tpos = _kmer_positions(tc, k, len(alphabet))
                diags = sorted(
                    int(qp) - int(tpos[int(km)])
                    for km, qp in zip(r.kmers, r.qpositions)
                    if int(km) in tpos
                )
                if len(diags) < 2 or not (np.diff(np.array(diags)) <= DIAG_PROXIMITY).any():
                    continue  # F5
                best = None  # (score, diag, qs, qe)
                distinct = list(dict.fromkeys(diags))
                for d in distinct:
                    sc, qs, qe = ungapped_score(qc, tc, d, matrix=matrix)
                    if best is None or sc > best[0]:
                        best = (sc, d, qs, qe)
                out.append((r.query_id, r.target_id, len(diags), len(distinct),
                            best[1], best[0], best[2] + 1, best[3]))
            yield pd.DataFrame(out, columns=cols)

    return rows.mapInPandas(run, schema=UNGAPPED_SCHEMA)


ALIGN_SCHEMA = (
    "query_id long, target_id long, query_accession string, target_accession string, "
    "bits double, evalue double, raw int, fident double, alnlen int, mismatch int, "
    "gapopen int, nident int, qstart int, qend int, qlen int, tstart int, tend int, "
    "tlen int, backtrace string"
)


def align_pairs(
    prefilter_pairs: DataFrame,
    queries: DataFrame,
    targets: DataFrame,
    k: int = 9,
    max_evalue: float = DEFAULT_EVALUE,
    band: int = DEFAULT_BAND,
    gap_open: int = DEFAULT_GAP_OPEN,
    gap_extend: int = DEFAULT_GAP_EXTEND,
    db_residues: int | None = None,
    alphabet: str = AMINO_ALPHABET,
    matrix: np.ndarray = BLOSUM62,
    ka_ungapped=KA_UNGAPPED,
    ka_gapped=KA_GAPPED_11_1,
    xdrop: int | None = None,
    kernel_parts: int | None = None,
    db_residues_col: str | None = None,
    set_col: str | None = None,
) -> DataFrame:
    """grouped pairs (query_id, target_id, kmers, qpositions — from
    prefilter.prefilter_grouped) + sequence tables -> alignments
    (FIXTURES.md §1 schema, 1-based coords, query-keyed).

    Plan shape: two joins to fetch sequences (query side broadcast — it
    is the small side in the reference's design too,
    comparekmertables.cpp:387-391), one repartition by target_id, then a
    mapInPandas over independent rows. No other shuffle.

    The Karlin-Altschul search-space total reaches the kernel as ONE
    per-row BIGINT column, however it is passed: ``db_residues`` (a
    literal), ``db_residues_col`` (a column the caller attached, used
    as-is), or neither — the targets' residues summed lazily in the same
    job (per ``set_col`` DB when given, else one corpus total).

    ``set_col`` names a DB tag (the fused multi-target cascade): the
    target fetch joins on (target_id, set) — two sets may legitimately
    carry the same target_id — and the lazy total is summed per set, so
    each DB's e-values use its own search space.

    ``kernel_parts``: upper bound on USEFUL kernel width known to the
    caller (the kernel stage partitions by target_id, so at most
    |distinct targets| tasks carry rows). The interactive sharded path
    passes its candidate count: a 2-candidate probe then runs 2 kernel
    tasks instead of 2x-parallelism mostly-empty ones, while large
    batches saturate to the default — never narrower than the data,
    never wider than the cluster."""
    if db_residues is not None and db_residues_col is not None:
        raise ValueError("align_pairs: pass db_residues or db_residues_col, not both")
    set_keys = [set_col] if set_col else []
    grouped = prefilter_pairs.select(
        "query_id", "target_id", "kmers", "qpositions", *set_keys,
        *([F.col(db_residues_col).alias("_dbr")] if db_residues_col else []),
    )
    # the lazy total is a broadcast aggregate computed inside the same job
    # instead of an eager .collect() (round-10 optimization, guide
    # §5/§2.6): the collect was a blocking driver job before the main
    # query even launched. greatest(coalesce(sum,1),1) == the old
    # `collect()[0][0] or 1`.
    lazy = db_residues is None and db_residues_col is None
    if lazy:
        totals = targets.groupBy(*set_keys).agg(
            F.greatest(
                F.coalesce(
                    F.sum(F.length("sequence")), F.lit(1).cast("long")
                ),
                F.lit(1).cast("long"),
            ).alias("_dbr")
        )
        if set_col:
            grouped = grouped.join(F.broadcast(totals), set_col)
    q = queries.select(
        F.col("seq_id").alias("query_id"),
        F.col("accession").alias("query_accession"),
        F.col("sequence").alias("qseq"),
    )
    t = targets.select(
        F.col("seq_id").alias("target_id"),
        F.col("accession").alias("target_accession"),
        F.col("sequence").alias("tseq"),
        *set_keys,
    )
    # Kernel rows are tiny relative to the cluster — AQE would coalesce the
    # post-join stage into very few tasks and serialize the Python kernel.
    # An explicit repartition keeps the Arrow stage wide (derived from the
    # session's parallelism, not a constant — a 1000-core cluster gets
    # 2000 kernel tasks, local[32] gets 64). Partitioning BY target_id
    # co-locates each target's pairs; sorting by (length, target_id) keeps
    # batch padding tight AND same-target rows adjacent, so the per-batch
    # encode/k-mer-position cache below hits without growing unboundedly.
    n_parts = 2 * max(1, prefilter_pairs.sparkSession.sparkContext.defaultParallelism)
    if kernel_parts is not None:
        n_parts = min(n_parts, max(1, kernel_parts))
    rows = grouped.join(F.broadcast(q), "query_id").join(t, ["target_id", *set_keys])
    if lazy and not set_col:
        # the 1-row corpus total: the package's documented
        # BroadcastNestedLoopJoin pattern (tests/test_plan_antipatterns.py)
        rows = rows.crossJoin(F.broadcast(totals))
    rows = (
        rows.repartition(n_parts, "target_id")
        .sortWithinPartitions(F.length("tseq"), "target_id")
    )
    if db_residues is not None:
        # a literal rides no shuffle: attached after the repartition
        rows = rows.withColumn("_dbr", F.lit(int(db_residues)).cast("long"))

    # batch memory budget for the traceback pointer array (P × max span × band+1)
    PTR_BUDGET = 64 * 1024 * 1024

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "query_id", "target_id", "query_accession", "target_accession",
            "bits", "evalue", "raw", "fident", "alnlen", "mismatch", "gapopen",
            "nident", "qstart", "qend", "qlen", "tstart", "tend", "tlen", "backtrace",
        ]
        for pdf in batches:
            # Per-BATCH caches: same-target rows arrive adjacent (the
            # repartition/sort above), so a batch-lifetime cache captures
            # almost all reuse while executor memory stays bounded by the
            # Arrow batch size — not by the partition's total distinct
            # sequences (the round-1 ADVICE unbounded-growth finding).
            # Cache key includes the set tag when present: two sets may
            # carry the same target_id over different sequences.
            tcache: dict = {}
            qcache: dict[int, np.ndarray] = {}
            # itertuples renames underscore-prefixed columns (_set -> _N),
            # so the per-row set/dbr values come from positional arrays
            sets_arr = pdf[set_col].to_numpy() if set_col else None
            dbr_arr = pdf["_dbr"].to_numpy()
            # stage 1 (cheap, per pair): J3 diagonals + F5 + F6 anchor
            todo = []  # (row, qc, tc, anchor, dbr)
            for j, r in enumerate(pdf.itertuples(index=False)):
                tkey = (r.target_id, sets_arr[j]) if set_col else r.target_id
                cached = tcache.get(tkey)
                if cached is None:
                    tc = _encode(r.tseq, alphabet)
                    cached = (tc, _kmer_positions(tc, k, len(alphabet)))
                    tcache[tkey] = cached
                qc = qcache.get(r.query_id)
                if qc is None:
                    qc = qcache[r.query_id] = _encode(r.qseq, alphabet)
                dbr_r = int(dbr_arr[j])
                anchor = find_anchor_diag(
                    qc, cached[0], cached[1], r.kmers, r.qpositions, dbr_r, max_evalue,
                    matrix=matrix, ka_ungapped=ka_ungapped,
                )
                if anchor is not None:
                    todo.append((r, qc, cached[0], anchor, dbr_r))
            # stage 2: gapped alignment, vectorized across pairs
            _, spans = band_rows(
                np.array([len(c[1]) for c in todo], dtype=np.int64),
                np.array([len(c[2]) for c in todo], dtype=np.int64),
                [c[3] for c in todo], band,
            )
            out = []
            lo = 0
            while lo < len(todo):
                hi = lo
                rows = 0  # the chunk's longest span: ptr is P × rows × (band+1)
                while hi < len(todo):
                    rows = max(rows, int(spans[hi]))
                    if hi > lo and (hi - lo + 1) * rows * (band + 1) > PTR_BUDGET:
                        break
                    hi += 1
                chunk = todo[lo:hi]
                lo = hi
                results = banded_sw_batch(
                    [c[1] for c in chunk], [c[2] for c in chunk], [c[3] for c in chunk],
                    band=band, gap_open=gap_open, gap_extend=gap_extend, matrix=matrix,
                    xdrop=xdrop,
                )
                for (r, qc, tc, _, dbr_r), res in zip(chunk, results):
                    res = _finalize(res, len(qc), dbr_r, max_evalue, ka=ka_gapped)
                    if res is None:
                        continue
                    out.append(
                        (
                            r.query_id, r.target_id, r.query_accession, r.target_accession,
                            res["bits"], res["evalue"], res["score"], res["fident"],
                            res["alnlen"], res["mismatch"], res["gapopen"], res["nident"],
                            res["qstart"] + 1, res["qend"], len(r.qseq),
                            res["tstart"] + 1, res["tend"], len(r.tseq),
                            res["backtrace"],
                        )
                    )
            yield pd.DataFrame(out, columns=cols)

    return rows.mapInPandas(run, schema=ALIGN_SCHEMA)
