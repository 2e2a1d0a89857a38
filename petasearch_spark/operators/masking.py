"""Low-complexity masking (SURVEY §2.3 T3) — suppress repeat-driven
k-mer hits before query k-mer extraction.

Reference: queries are tantan-masked before extraction (`--mask` default 1;
/root/reference/src/sra/comparekmertables.cpp:214-231), masked residues
become X, and X-containing k-mer windows are skipped (F1). tantan itself is
an HMM over repeat periods; this module implements a deterministic
approximation with the same intent and the same interface — residues inside
detected repeats are replaced by X so downstream k-mer extraction (which
already skips X windows) suppresses them:

* period-p tandem repeats, p in 1..MAX_PERIOD: a position is masked when it
  sits inside a run where seq[i] == seq[i-p] for >= MIN_REPEAT consecutive
  positions (covering >= 2p residues, i.e. at least two full copies);
* low-entropy windows: a window of WINDOW residues whose dominant residue
  frequency >= DOMINANT_FRAC is masked entirely.

Pure per-sequence numpy — runs under mapInPandas like every other scalar
kernel here; no shuffle, embarrassingly parallel at any scale. Not
SQL-expressible (RE2-based engines have no backreferences), so the
registry query's oracle replays a committed golden produced by an
independent plain-loop implementation of the same spec
(tests.golden_tools.mask_seq_scalar via scripts/gen_goldens.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from petasearch_spark.functions.ordering import sort_via_exchange

MAX_PERIOD = 4
MIN_REPEAT = 8  # run length (in matched positions) to call a tandem repeat
WINDOW = 12
DOMINANT_FRAC = 0.75


def mask_seq(seq: str) -> str:
    """Return `seq` with low-complexity/repeat residues replaced by X."""
    n = len(seq)
    if n == 0:
        return seq
    b = np.frombuffer(seq.encode("ascii", "replace"), dtype=np.uint8).copy()
    cover = np.zeros(n + 1, dtype=np.int64)  # difference array of masked intervals
    # tandem repeats of period p: runs of (b[i+p] == b[i]) found vectorized
    for p in range(1, MAX_PERIOD + 1):
        if n <= p:
            break
        eq = (b[p:] == b[:-p]).astype(np.int8)
        d = np.diff(np.concatenate(([0], eq, [0])))
        starts = np.nonzero(d == 1)[0]
        ends = np.nonzero(d == -1)[0]
        for s, e in zip(starts, ends):  # few runs per sequence
            if e - s >= MIN_REPEAT:
                cover[s] += 1  # mask the tract incl. the leading copy
                cover[min(n, e + p)] -= 1
    # low-entropy windows: dominant residue >= DOMINANT_FRAC of WINDOW
    if n >= WINDOW:
        w = np.lib.stride_tricks.sliding_window_view(b, WINDOW)
        # dominant count per window = longest equal run in the sorted window
        sw = np.sort(w, axis=1)
        same = sw[:, 1:] == sw[:, :-1]
        dom = np.ones(len(sw), dtype=np.int64)
        run = np.ones(len(sw), dtype=np.int64)
        for j in range(same.shape[1]):  # WINDOW-1 vector ops
            run = np.where(same[:, j], run + 1, 1)
            dom = np.maximum(dom, run)
        hit = np.nonzero(dom >= int(np.ceil(DOMINANT_FRAC * WINDOW)))[0]
        np.add.at(cover, hit, 1)
        np.add.at(cover, np.minimum(n, hit + WINDOW), -1)
    masked = np.cumsum(cover[:-1]) > 0
    if not masked.any():
        return seq
    b[masked] = ord("X")
    return b.tobytes().decode("ascii")


def mask_batch(seqs, method: str = "tantan") -> list:
    """T3 over one batch of sequences: each masked, NULL passing through
    as NULL.

    ``method="tantan"`` (default) is the reference's actual masking —
    operators/tantan.py implements the tantan forward-backward with the
    reference's exact invocation constants (comparekmertables.cpp:215-226),
    so search(mask=True) masks the same residues the reference masks.
    ``method="heuristic"`` keeps this module's deterministic
    tandem-repeat/low-entropy approximation (the engine's cheaper
    alternative; integer-exact, no float thresholds)."""
    if method == "tantan":
        from petasearch_spark.operators.tantan import tantan_mask_batch as _mask_batch
    elif method == "heuristic":
        def _mask_batch(present):
            return [mask_seq(s) for s in present]
    else:
        raise ValueError(f"unknown masking method: {method!r}")
    # None-guard law (q): a NULL sequence (NULL-text doc) must pass
    # through as NULL, not crash the whole task — found by the round-7
    # constructed-frame scalar-twin fuzz, same class as the round-6
    # kmer-extractor fix
    vals = list(seqs)
    masked = iter(_mask_batch([s for s in vals if s is not None]))
    return [None if s is None else next(masked) for s in vals]


def mask_sequences(sequences: DataFrame, col: str = "sequence", method: str = "tantan") -> DataFrame:
    """T3 over a sequences DF: replace `col` with its masked form
    (:func:`mask_batch` per Arrow batch)."""
    if method not in ("tantan", "heuristic"):
        raise ValueError(f"unknown masking method: {method!r}")
    schema = ", ".join(f"{name} {dtype}" for name, dtype in sequences.dtypes)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[col] = mask_batch(pdf[col], method)
            yield pdf

    return sequences.mapInPandas(run, schema=schema)


def protein_mask_stats(spark, sf_dir: str) -> DataFrame:
    """Registry query: masked-residue counts over the derived protein
    sequences — exercises T3 end to end. The oracle replays a committed
    golden generated by tests.golden_tools.mask_seq_scalar, an
    INDEPENDENT plain-loop implementation of the same masking spec
    (scripts/gen_goldens.py), so the vectorized kernel is value-checked,
    not just rows-counted."""
    from petasearch_spark.operators.doc_search import derived_sequences
    from petasearch_spark.sources.tables import load_table

    seqs = derived_sequences(load_table(spark, "documents", sf_dir, widen_scan=True))
    masked = mask_sequences(seqs, method="heuristic")
    n_x = F.length("sequence") - F.length(F.regexp_replace("sequence", "X", ""))
    # sort_via_exchange: the masking kernel (and the corpus scan under it)
    # must not re-run for RangePartitioner sampling (functions/ordering.py)
    return sort_via_exchange(
        masked.select("seq_id", F.length("sequence").cast("int").alias("seq_len"), n_x.cast("int").alias("n_masked"))
        .filter(F.col("n_masked") > 0),
        "seq_id",
    )


def protein_mask_tantan(spark, sf_dir: str) -> DataFrame:
    """Registry query: masked-residue counts under the reference's REAL
    masking algorithm (tantan with the comparekmertables.cpp:215-226
    constants — operators/tantan.py). The oracle replays a committed
    golden generated by tests.golden_tools.tantan_mask_scalar, a plain
    scalar transliteration of the reference loop, INDEPENDENT of the
    batch-vectorized kernel under test (scripts/gen_goldens.py)."""
    from petasearch_spark.operators.doc_search import derived_sequences
    from petasearch_spark.sources.tables import load_table

    seqs = derived_sequences(load_table(spark, "documents", sf_dir, widen_scan=True))
    masked = mask_sequences(seqs, method="tantan")
    n_x = F.length("sequence") - F.length(F.regexp_replace("sequence", "X", ""))
    # sort_via_exchange: the masking kernel (and the corpus scan under it)
    # must not re-run for RangePartitioner sampling (functions/ordering.py)
    return sort_via_exchange(
        masked.select("seq_id", F.length("sequence").cast("int").alias("seq_len"), n_x.cast("int").alias("n_masked"))
        .filter(F.col("n_masked") > 0),
        "seq_id",
    )


def _mask_stats_sql(golden_file: str) -> str:
    from petasearch_spark.operators.doc_search import GOLDEN_DIR

    return f"""
SELECT seq_id, CAST(seq_len AS INT) AS seq_len, CAST(n_masked AS INT) AS n_masked
FROM '{GOLDEN_DIR}/{golden_file}'
WHERE corpus_chars = (SELECT SUM(len(text)) FROM documents)
ORDER BY seq_id
"""


PROTEIN_MASK_STATS_SQL = _mask_stats_sql("mask_stats_golden.parquet")
PROTEIN_MASK_TANTAN_SQL = _mask_stats_sql("mask_tantan_golden.parquet")
