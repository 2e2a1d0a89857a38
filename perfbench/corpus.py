"""Seeded synthetic protein corpus: a domain mosaic.

Each target is 1-4 copies of domains drawn from a shared pool, each copy
mutated to 80-99% identity with a few indels, joined by short random
linkers. Domain lengths are lognormal. A small share of sequences carries
a low-complexity insert (a short motif repeated), the hot-k-mer skew
source of the one-representative-per-k-mer index rule.

Why a pool: uniformly random proteins share almost no 9-mers, so the
prefilter passes about one pair per query (the index keeps one
representative per k-mer) and the aligner idles. Copies of shared
domains give every query several related targets, so the aligner does
real work.

The seed picks residues and order, not the amount of work: the pool's
domain lengths are fixed lognormal quantiles, and within one call every
domain, domain count, identity stratum and indel count is used equally
often. So two seeds give corpora of the same shape and about the same
search cost, and the spread between seeds is the program's, not the
generator's.

Everything is drawn from one ``numpy.random.Generator`` seeded by the
caller: the same seed gives byte-identical sequences. Pure numpy, no
Spark; ``write_parquet`` hands the program a parquet file in the
``sequences(seq_id, accession, header, sequence)`` schema that
``sources.fasta.read_fasta`` produces.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

AMINO = np.frombuffer(b"ACDEFGHIKLMNPQRSTVWY", dtype=np.uint8)
# Robinson & Robinson background frequencies, in AMINO order
_BG = np.array(
    [7.805, 1.925, 5.364, 6.295, 3.856, 7.377, 2.199, 5.142, 5.744, 9.019,
     2.243, 4.487, 5.203, 4.264, 5.129, 7.120, 5.841, 6.441, 1.330, 3.216]
)
BACKGROUND = _BG / _BG.sum()


@dataclass(frozen=True)
class CorpusParams:
    """Shape of one generated corpus; perfbench/README.md gives the reasons."""

    n_domains: int = 150
    domain_len_mu: float = 4.5  # lognormal: median e^4.5 ~ 90 residues
    domain_len_sigma: float = 0.35
    domain_len_min: int = 40
    domain_len_max: int = 300
    domains_per_seq: tuple = (1, 4)
    identity: tuple = (0.80, 0.99)
    max_indels: int = 3
    linker_len: tuple = (5, 30)
    low_complexity_frac: float = 0.03
    low_complexity_len: tuple = (15, 40)


def _balanced(rng: np.random.Generator, values, n: int) -> np.ndarray:
    """``n`` draws in which every one of ``values`` occurs equally often
    (to within one): seeded permutations of ``values``, end to end."""
    values = np.asarray(values)
    reps = -(-n // len(values))
    return np.concatenate([rng.permutation(values) for _ in range(reps)])[:n]


def _domain_pool(rng: np.random.Generator, p: CorpusParams) -> list[np.ndarray]:
    """Domains whose lengths are the lognormal's quantiles at (i + 0.5)/n,
    in seeded order; residues from the background frequencies."""
    z = [NormalDist().inv_cdf((i + 0.5) / p.n_domains) for i in range(p.n_domains)]
    lens = np.clip(
        [round(math.exp(p.domain_len_mu + p.domain_len_sigma * v)) for v in z],
        p.domain_len_min, p.domain_len_max,
    )
    return [rng.choice(20, size=int(n), p=BACKGROUND) for n in rng.permutation(lens)]


def _mutate(rng: np.random.Generator, dom: np.ndarray, ident: float, indels: int) -> np.ndarray:
    out = dom.copy()
    sub = rng.random(len(out)) > ident
    out[sub] = rng.choice(20, size=int(sub.sum()), p=BACKGROUND)
    for _ in range(indels):
        at = int(rng.integers(1, len(out) - 1))
        n = int(rng.integers(1, 4))
        if rng.random() < 0.5:
            out = np.concatenate([out[:at], rng.choice(20, size=n, p=BACKGROUND), out[at:]])
        else:
            out = np.concatenate([out[:at], out[at + n:]])
    return out


def _linker(rng: np.random.Generator, p: CorpusParams) -> np.ndarray:
    return rng.choice(20, size=int(rng.integers(*p.linker_len)), p=BACKGROUND)


def _low_complexity(rng: np.random.Generator, codes: np.ndarray, p: CorpusParams) -> np.ndarray:
    motif = rng.integers(0, 20, size=int(rng.integers(1, 4)))
    insert = np.resize(motif, int(rng.integers(*p.low_complexity_len)))
    at = int(rng.integers(0, len(codes)))
    return np.concatenate([codes[:at], insert, codes[at:]])


class Corpus:
    """One seeded draw: a domain pool plus generators of targets and
    queries from it. Targets, queries and appended deltas share the pool,
    so every query has related targets and every delta adds new homologs."""

    def __init__(self, seed: int):
        self.params = CorpusParams()
        self.rng = np.random.default_rng(seed)
        self.pool = _domain_pool(self.rng, self.params)

    def sequences(self, n: int, prefix: str, first_id: int = 0,
                  domains: tuple | None = None) -> list[tuple[int, str, str]]:
        """``n`` mosaic sequences as (seq_id, accession, sequence)."""
        rng, p = self.rng, self.params
        lo, hi = domains or p.domains_per_seq
        counts = _balanced(rng, np.arange(lo, hi + 1), n)
        copies = int(counts.sum())
        pick = _balanced(rng, np.arange(len(self.pool)), copies)
        # identity stratified over its range: one draw per equal-width stratum
        i_lo, i_hi = p.identity
        ident = i_lo + (i_hi - i_lo) * (rng.permutation(copies) + rng.random(copies)) / copies
        indels = _balanced(rng, np.arange(p.max_indels + 1), copies)
        low = set(rng.choice(n, size=round(n * p.low_complexity_frac), replace=False).tolist())
        out, c = [], 0
        for j, k in enumerate(counts):
            parts = [_linker(rng, p)]
            for _ in range(int(k)):
                parts.append(_mutate(rng, self.pool[int(pick[c])], ident[c], int(indels[c])))
                parts.append(_linker(rng, p))
                c += 1
            codes = np.concatenate(parts)
            if j in low:
                codes = _low_complexity(rng, codes, p)
            i = first_id + j
            out.append((i, f"{prefix}{i:07d}", AMINO[codes].tobytes().decode("ascii")))
        return out


def write_parquet(rows: list[tuple[int, str, str]], path: str) -> None:
    """Write (seq_id, accession, sequence) rows in the read_fasta schema."""
    table = pa.table(
        {
            "seq_id": pa.array([r[0] for r in rows], pa.int64()),
            "accession": pa.array([r[1] for r in rows], pa.string()),
            "header": pa.array([f"{r[1]} synthetic" for r in rows], pa.string()),
            "sequence": pa.array([r[2] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, path)


def residues(rows: list[tuple[int, str, str]]) -> int:
    return sum(len(r[2]) for r in rows)
