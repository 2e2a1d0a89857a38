"""Shared tools for golden generation and golden-backed tests.

`brute_expand` is a deliberately INDEPENDENT implementation of
similar-k-mer expansion (threshold-pruned product enumeration with
suffix-max bounds, no top-N cut) used to cross-check the engine's
per-chunk top-N-with-ties product (operators/similar_kmers.
expand_kmer_scored) and to generate the committed expansion golden
(scripts/gen_goldens.py). Both sides canonicalize ties to (score DESC,
code ASC).
"""

from __future__ import annotations

import numpy as np

from petasearch_spark.functions.kmer import AMINO_ALPHABET
from petasearch_spark.functions.scoring import KMER_SEED_MATRIX

_A = len(AMINO_ALPHABET)


def _chunk_vec(codes: list[int], matrix: np.ndarray) -> np.ndarray:
    """Score of every possible substitute chunk vs `codes`."""
    v = np.zeros(1, dtype=np.int64)
    for c in codes:
        v = (v[:, None] + matrix[c][None, :].astype(np.int64)).reshape(-1)
    return v


def brute_expand(
    codes: list[int],
    threshold: int,
    max_n: int,
    matrix: np.ndarray = KMER_SEED_MATRIX,
) -> list[tuple[int, int]]:
    """All k-mers scoring >= threshold vs `codes`, canonical top-max_n.
    Chunks of 3 (then remainder), suffix-max pruned enumeration."""
    k = len(codes)
    sizes = []
    rest = k
    while rest > 0:
        sizes.append(3 if rest >= 3 else rest)
        rest -= sizes[-1]
    chunks, off = [], 0
    for s in sizes:
        chunks.append(codes[off : off + s])
        off += s
    vecs = [_chunk_vec(c, matrix) for c in chunks]
    suffix_max = [0] * (len(vecs) + 1)
    for i in range(len(vecs) - 1, -1, -1):
        suffix_max[i] = suffix_max[i + 1] + int(vecs[i].max())
    mults = []
    m = 1
    for s in reversed(sizes):
        mults.append(m)
        m *= _A ** s
    mults = mults[::-1]

    # partial = (code_so_far, score_so_far); extend chunk by chunk, pruning
    partials = [(0, 0)]
    for gi, v in enumerate(vecs):
        bound = threshold - suffix_max[gi + 1]
        nxt = []
        for code0, s0 in partials:
            ok = np.nonzero(v >= bound - s0)[0]
            for ci in ok:
                nxt.append((code0 + int(ci) * mults[gi], s0 + int(v[ci])))
        partials = nxt
    out = [(c, s) for c, s in partials if s >= threshold]
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:max_n]


def derive_sequence(text: str) -> str:
    """Plain-Python twin of doc_search.derived_sequences' column
    expression: translate a-z cyclically onto the 20-letter alphabet,
    drop everything else."""
    table = str.maketrans("abcdefghijklmnopqrstuvwxyz", "ACDEFGHIKLMNPQRSTVWYACDEFG")
    return "".join(ch for ch in text.translate(table) if "A" <= ch <= "Z")


def encode_kmer(s: str) -> int:
    code = 0
    for ch in s:
        code = code * _A + AMINO_ALPHABET.index(ch)
    return code


def decode_kmer(code: int, k: int) -> str:
    out = []
    for _ in range(k):
        out.append(AMINO_ALPHABET[code % _A])
        code //= _A
    return "".join(reversed(out))


def composition_bias_scalar(seq: str, k: int = 9) -> list[int]:
    """Plain-loop scalar twin of operators.similar_kmers.composition_bias
    + composition_bias_kmer (T4, the reference's calcLocalAaBiasCorrection,
    lib/mmseqs/src/commons/SubstitutionMatrix.cpp:92-123 followed by the
    per-k-mer clamp at comparekmertables.cpp:239-253): per k-mer start
    position, kbias = min(0, round_half_away(sum of per-position bias over
    the k window)). Independent of the numpy cumsum/einsum kernel — used
    to generate the committed bias golden (scripts/gen_goldens.py)."""
    import math

    from petasearch_spark.functions.scoring import SEED_PBACK

    M = KMER_SEED_MATRIX
    pb = SEED_PBACK
    # invalid residues (outside the 20-letter alphabet — constructed fuzz
    # docs produce B/J/O/U/X/Z): bias 0, excluded from window counts,
    # denominator stays the FULL window length — the engine kernel's
    # documented rule (operators/similar_kmers.composition_bias)
    codes = [AMINO_ALPHABET.index(c) if c in AMINO_ALPHABET else -1 for c in seq]
    n = len(codes)
    half = 20  # BIAS_WINDOW // 2
    delta = []
    for i in range(n):
        if codes[i] < 0:
            delta.append(0.0)
            continue
        lo = max(0, i - half)
        hi = min(n, i + half)  # [i-20, i+20): maxPos excluded
        wl = max(1, hi - lo)
        tot = sum(
            int(M[codes[i], codes[j]]) for j in range(lo, hi) if codes[j] >= 0
        ) - int(M[codes[i], codes[i]])
        bg = sum(float(pb[a]) * float(M[codes[i], a]) for a in range(len(pb)))
        delta.append(-tot / wl + bg)
    out = []
    for p in range(n - k + 1):
        s = sum(delta[p : p + k])
        r = math.floor(s + 0.5) if s >= 0 else math.ceil(s - 0.5)
        out.append(min(0, int(r)))
    return out


def mask_seq_scalar(seq: str, max_period: int = 4, min_repeat: int = 8,
                    window: int = 12, dominant_frac: float = 0.75) -> str:
    """Independent plain-loop twin of operators.masking.mask_seq (same
    spec: period-p tandem tracts and dominant-residue windows -> X).
    Used to generate the protein_mask_stats golden."""
    import math

    n = len(seq)
    if n == 0:
        return seq
    masked = [False] * n
    for p in range(1, max_period + 1):
        if n <= p:
            break
        eq = [seq[j + p] == seq[j] for j in range(n - p)]
        j = 0
        while j < len(eq):
            if eq[j]:
                s = j
                while j < len(eq) and eq[j]:
                    j += 1
                if j - s >= min_repeat:
                    for i in range(s, min(n, j + p)):
                        masked[i] = True
            else:
                j += 1
    need = math.ceil(dominant_frac * window)
    for i in range(0, n - window + 1):
        win = seq[i : i + window]
        if max(win.count(c) for c in set(win)) >= need:
            for t in range(i, i + window):
                masked[t] = True
    return "".join("X" if m else c for c, m in zip(seq, masked))


# --- tantan scalar twin ---------------------------------------------------
# Direct scalar transliteration of the reference's gapless tantan path
# (lib/mmseqs/src/commons/tantan.cpp:302-345, 369-398) with the reference
# invocation constants (comparekmertables.cpp:218-223, maskProb 0.9).
# INDEPENDENT of operators.tantan's batch-vectorized kernel: plain Python
# loops, per-offset scalars, used to generate the tantan masking golden
# and to cross-check the kernel in tests.

def tantan_probs_scalar(seq: str) -> list[float]:
    from petasearch_spark.operators.tantan import (
        _B2B,
        _B2F,
        _F2B,
        _F2F0,
        _LR,
        MAX_REPEAT_OFFSET,
        SCALE_STEP,
        _encode_x,
    )

    n = len(seq)
    if n == 0:
        return []
    codes = _encode_x(seq).tolist()
    P = MAX_REPEAT_OFFSET
    bg = 1.0
    fg = [0.0] * P
    letter = [np.float32(0)] * n
    scales = [1.0] * ((n + SCALE_STEP - 1) // SCALE_STEP)
    for idx in range(n):
        m = min(idx, P)
        from_f = 0.0
        for i in range(m):
            f = fg[i]
            from_f += f
            fg[i] = (bg * _B2F[i] + f * _F2F0) * _LR[codes[idx], codes[idx - i - 1]]
        bg = bg * _B2B + from_f * _F2B
        if idx % SCALE_STEP == SCALE_STEP - 1:
            s = 1.0 / bg
            scales[idx // SCALE_STEP] = s
            bg *= s
            fg = [v * s for v in fg]
        letter[idx] = np.float32(bg)
    z = bg * _B2B + sum(fg) * _F2B
    bg = _B2B
    fg = [_F2B] * P
    out = [np.float32(0)] * n
    for idx in range(n - 1, -1, -1):
        non_rep = float(letter[idx]) * bg / z
        out[idx] = np.float32(1.0) - np.float32(non_rep)
        if idx % SCALE_STEP == SCALE_STEP - 1:
            s = scales[idx // SCALE_STEP]
            bg *= s
            fg = [v * s for v in fg]
        m = min(idx, P)
        to_f = 0.0
        for i in range(m):
            f = fg[i] * _LR[codes[idx], codes[idx - i - 1]]
            to_f += _B2F[i] * f
            fg[i] = _F2B * bg + _F2F0 * f
        bg = _B2B * bg + to_f
    return [float(v) for v in out]


def tantan_mask_scalar(seq: str, min_mask_prob: float = 0.9) -> str:
    probs = tantan_probs_scalar(seq)
    return "".join(
        "X" if p >= min_mask_prob else c for c, p in zip(seq, probs)
    )
