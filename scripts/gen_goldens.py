"""Regenerate the committed golden parquets in tests/golden/.

1. expansion_golden.parquet — per (SF, distinct query 9-mer) the canonical
   similar-k-mer list at the default --k-score 225 / max-per-pos 20,
   produced by tests.golden_tools.brute_expand (threshold-pruned product
   enumeration — INDEPENDENT of the engine's per-chunk top-N cut).
   Backs the protein_expand_prefilter oracle: DuckDB derives the exact
   query k-mers in SQL and joins this table for the similar ones.

2. protein_search_golden.parquet — the engine's own protein_search output
   (integer/accession columns), a reviewed REGRESSION golden: the oracle
   replays it so the driver's value-hash gate catches any behavior change
   in the full cascade. Regenerate (and re-review the diff) whenever the
   alignment kernel intentionally changes.

Both are tagged with corpus_chars = SUM(len(text)) per SF (row counts
collide: sf0.001 and sf0.01 both hold 500 docs) so one file serves
sf0.001 (tests) and sf0.01 (the driver's correctness gate).

Run: python scripts/gen_goldens.py
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from petasearch_spark.operators.similar_kmers import (  # noqa: E402
    DEFAULT_KMER_THRESHOLD,
    DEFAULT_MAX_PER_POS,
)
from tests.golden_tools import brute_expand, decode_kmer, derive_sequence, encode_kmer  # noqa: E402

#: sf0.1 added round 9 (VERDICT r8 item 6): the opt-in
#: PARITY_SF_DIR=/root/testdata/sf0.1 rehearsal needs the golden-backed
#: oracles (search cascade, bias, expansion, masking) tagged at the
#: bench SF too
SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
GOLDEN_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "golden")
K = 9
QUERY_MOD = 100  # protein_expand_prefilter queries: doc_id % 100 == 0


def gen_expansion():
    rows = {"corpus_chars": [], "kmer": [], "sim_kmer": [], "score": []}
    for sf in SFS:
        docs = pq.read_table(os.path.join(sf, "documents.parquet"), columns=["doc_id", "text"]).to_pandas()
        corpus_chars = int(docs.text.str.len().sum())  # SF discriminator
        # (row counts collide across SFs: sf0.001 and sf0.01 both have 500 docs)
        kmers = set()
        for _, r in docs[docs.doc_id % QUERY_MOD == 0].iterrows():
            seq = derive_sequence(r.text)
            for i in range(len(seq) - K + 1):
                kmers.add(seq[i : i + K])
        print(f"{sf}: {corpus_chars} chars, {len(kmers)} distinct query kmers")
        n_sim = 0
        for km in sorted(kmers):
            codes = [("ACDEFGHIKLMNPQRSTVWY").index(c) for c in km]
            for code, score in brute_expand(codes, DEFAULT_KMER_THRESHOLD, DEFAULT_MAX_PER_POS):
                rows["corpus_chars"].append(corpus_chars)
                rows["kmer"].append(km)
                rows["sim_kmer"].append(decode_kmer(code, K))
                rows["score"].append(score)
                n_sim += 1
        print(f"  -> {n_sim} similar-kmer rows")
    tab = pa.Table.from_pandas(pd.DataFrame(rows), preserve_index=False)
    out = os.path.join(GOLDEN_DIR, "expansion_golden.parquet")
    pq.write_table(tab, out)
    print("wrote", out)


def gen_bias():
    """bias_golden.parquet — per (SF, query doc, k-mer position) the
    non-positive kbias integer from tests.golden_tools.
    composition_bias_scalar (plain loops — independent of the numpy
    cumsum/einsum kernel in operators/similar_kmers.py). Zero-bias
    positions are omitted (the oracle LEFT JOINs with COALESCE 0).
    Backs the protein_prefilter_biased oracle (T4)."""
    from tests.golden_tools import composition_bias_scalar

    rows = {"corpus_chars": [], "query_id": [], "pos": [], "kbias": []}
    for sf in SFS:
        docs = pq.read_table(os.path.join(sf, "documents.parquet"), columns=["doc_id", "text"]).to_pandas()
        corpus_chars = int(docs.text.str.len().sum())
        n = 0
        for _, r in docs[docs.doc_id % QUERY_MOD == 0].iterrows():
            seq = derive_sequence(r.text)
            if len(seq) < K:
                continue
            for pos, kb in enumerate(composition_bias_scalar(seq, K)):
                if kb != 0:
                    rows["corpus_chars"].append(corpus_chars)
                    rows["query_id"].append(int(r.doc_id))
                    rows["pos"].append(pos)
                    rows["kbias"].append(kb)
                    n += 1
        print(f"{sf}: {n} nonzero kbias positions")
    out = os.path.join(GOLDEN_DIR, "bias_golden.parquet")
    pq.write_table(pa.Table.from_pandas(pd.DataFrame(rows), preserve_index=False), out)
    print("wrote", out)


def gen_protein_search():
    from petasearch_spark import get_spark
    from petasearch_spark.operators.doc_search import (
        protein_search,
        protein_search_expanded,
        protein_search_masked,
    )

    spark = get_spark("gen-goldens")
    for fn, fname in [
        (protein_search, "protein_search_golden.parquet"),
        (protein_search_expanded, "protein_search_expanded_golden.parquet"),
        (protein_search_masked, "protein_search_masked_golden.parquet"),
    ]:
        parts = []
        for sf in SFS:
            corpus_chars = int(
                pq.read_table(os.path.join(sf, "documents.parquet"), columns=["text"])
                .to_pandas().text.str.len().sum()
            )
            pdf = fn(spark, sf).toPandas()
            pdf.insert(0, "corpus_chars", corpus_chars)
            parts.append(pdf)
            print(f"{sf}: {fn.__name__} -> {len(pdf)} rows")
        out = os.path.join(GOLDEN_DIR, fname)
        pq.write_table(pa.Table.from_pandas(pd.concat(parts), preserve_index=False), out)
        print("wrote", out)


def gen_mask_stats():
    """protein_mask_stats golden from the INDEPENDENT scalar masking twin
    (tests.golden_tools.mask_seq_scalar) — cross-checks the vectorized
    kernel and puts T3 under the value-hash gate."""
    from tests.golden_tools import mask_seq_scalar

    rows = {"corpus_chars": [], "seq_id": [], "seq_len": [], "n_masked": []}
    for sf in SFS:
        docs = pq.read_table(os.path.join(sf, "documents.parquet"), columns=["doc_id", "text"]).to_pandas()
        corpus_chars = int(docs.text.str.len().sum())
        n = 0
        for _, r in docs.iterrows():
            seq = derive_sequence(r.text)
            masked = mask_seq_scalar(seq)
            n_x = masked.count("X")
            if n_x > 0:
                rows["corpus_chars"].append(corpus_chars)
                rows["seq_id"].append(int(r.doc_id))
                rows["seq_len"].append(len(seq))
                rows["n_masked"].append(n_x)
                n += 1
        print(f"{sf}: {n} masked sequences")
    out = os.path.join(GOLDEN_DIR, "mask_stats_golden.parquet")
    pq.write_table(pa.Table.from_pandas(pd.DataFrame(rows), preserve_index=False), out)
    print("wrote", out)


def gen_mask_tantan():
    """protein_mask_tantan golden from tests.golden_tools.tantan_mask_scalar
    — a plain scalar transliteration of the reference's tantan loop
    (lib/mmseqs/src/commons/tantan.cpp), independent of the
    batch-vectorized kernel in operators/tantan.py."""
    from tests.golden_tools import tantan_mask_scalar

    rows = {"corpus_chars": [], "seq_id": [], "seq_len": [], "n_masked": []}
    for sf in SFS:
        docs = pq.read_table(os.path.join(sf, "documents.parquet"), columns=["doc_id", "text"]).to_pandas()
        corpus_chars = int(docs.text.str.len().sum())
        n = 0
        for _, r in docs.iterrows():
            seq = derive_sequence(r.text)
            masked = tantan_mask_scalar(seq)
            n_x = masked.count("X")  # total X, matching the query's filter
            if n_x > 0:
                rows["corpus_chars"].append(corpus_chars)
                rows["seq_id"].append(int(r.doc_id))
                rows["seq_len"].append(len(seq))
                rows["n_masked"].append(n_x)
                n += 1
        print(f"{sf}: {n} tantan-masked sequences")
    out = os.path.join(GOLDEN_DIR, "mask_tantan_golden.parquet")
    pq.write_table(pa.Table.from_pandas(pd.DataFrame(rows), preserve_index=False), out)
    print("wrote", out)


if __name__ == "__main__":
    import sys as _sys

    os.makedirs(GOLDEN_DIR, exist_ok=True)
    only = set(_sys.argv[1:])  # e.g. `python scripts/gen_goldens.py bias search`
    if not only or "expansion" in only:
        gen_expansion()
    if not only or "mask" in only:
        gen_mask_stats()
        gen_mask_tantan()
    if not only or "bias" in only:
        gen_bias()
    if not only or "search" in only:
        gen_protein_search()
