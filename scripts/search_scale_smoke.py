"""Scale smoke for the CORE search cascade: the protein pipeline at
100k-200k derived sequences — 20-40x the sf0.1 corpus every bench run
covers, and the first direct evidence that the engine's central claim
(index -> prefilter -> align, linear in the corpus) holds past the
bench scale.

Corpus = the dedup smoke's synthetic documents (shared HOT_PREFIX
boilerplate -> the derived sequences share corpus-wide hot k-mers, the
WORST skew case for the prefilter join; the one-representative index +
broadcast query side must keep the candidate set bounded anyway).

Sections:
* degenerate — the dedup corpus derives to near-homogeneous letter runs
              (digits stripped, 'w' dominating): ~45 distinct k-mers
              over the WHOLE corpus, the absolute worst skew case. The
              one-representative index + HAVING must keep the candidate
              fan-out bounded (pairs <= queries x small constant), and
              the cascade must stay deterministic run to run.
* diverse   — n_seqs random 20-letter sequences (realistic k-mer
              diversity; ~20M residues at 100k x 200) with a planted
              mutated homolog next to every query: the full cascade must
              find the self-hit AND the homolog for every query, at a
              per-residue rate comparable to the sf0.1 breakdown in
              BASELINE.md.

    python scripts/search_scale_smoke.py [n_docs] [n_seqs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from petasearch_spark.operators.doc_search import derived_sequences
from petasearch_spark.operators.kmer_index import build_kmer_index, extract_query_kmers
from petasearch_spark.operators.prefilter import prefilter_grouped
from petasearch_spark.plans.search import search
from petasearch_spark.session import get_spark

from dedup_scale_smoke import synth_documents  # noqa: E402

QUERY_STRIDE = 2000


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    spark = get_spark("search_scale_smoke")
    out: dict[str, object] = {"n_docs": n_docs}

    t0 = time.time()
    docs = synth_documents(spark, n_docs)
    seqs = derived_sequences(docs).drop("source").persist()
    n_seqs = seqs.count()
    out["derive_s"] = round(time.time() - t0, 1)
    out["total_residues"] = seqs.agg(F.sum(F.length("sequence"))).collect()[0][0]

    t0 = time.time()
    index = build_kmer_index(seqs).persist()
    out["index_kmers"] = index.count()
    out["index_build_s"] = round(time.time() - t0, 1)

    queries = seqs.filter(F.col("seq_id") % QUERY_STRIDE == 0)
    n_queries = queries.count()
    out["n_queries"] = n_queries

    # prefilter alone first: the hot-boilerplate fan-out bound is the
    # scale property (every query shares the HOT_PREFIX k-mers, but J2
    # keeps ONE representative per k-mer, so each query can pair with at
    # most  #distinct-matched-kmers  targets — not with all n_docs)
    t0 = time.time()
    pairs = prefilter_grouped(extract_query_kmers(queries), index)
    n_pair_groups = pairs.count()
    out["prefilter_pairs"] = n_pair_groups
    out["prefilter_s"] = round(time.time() - t0, 1)
    assert n_pair_groups <= n_queries * 50, (
        f"{n_pair_groups} candidate pairs for {n_queries} queries — "
        "hot-shingle fan-out is no longer bounded"
    )

    t0 = time.time()
    res = search(queries, seqs, target_index=index).select(
        "query_id", "target_id", "raw", "alnlen", "nident", "qstart", "tstart"
    )
    rows1 = sorted(tuple(r) for r in res.collect())
    out["search_s"] = round(time.time() - t0, 1)
    out["alignments"] = len(rows1)
    assert rows1, "no alignments at scale"
    evs = search(queries, seqs, target_index=index).select("evalue").agg(
        F.max("evalue")
    ).collect()[0][0]
    assert evs <= 1000.0, evs

    t0 = time.time()
    rows2 = sorted(
        tuple(r)
        for r in search(queries, seqs, target_index=index)
        .select("query_id", "target_id", "raw", "alnlen", "nident", "qstart", "tstart")
        .collect()
    )
    out["rerun_s"] = round(time.time() - t0, 1)
    assert rows1 == rows2, "search output not deterministic at scale"
    spark.catalog.clearCache()

    # --- diverse corpus with planted homologs ------------------------------
    n_seqs = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    seq_len, q_stride = 200, 1000
    import numpy as np
    import pandas as pd

    AA = "ACDEFGHIKLMNPQRSTVWY"

    def gen(batches):
        aa = np.frombuffer(AA.encode(), dtype=np.uint8)
        for pdf in batches:
            ids = pdf["id"].values
            rows = []
            for sid in ids:
                # sid % q_stride == 1 -> mutated copy of sid-1 (the homolog
                # planted next to each query id), made LONGER than the
                # query so it WINS the one-representative tie (J2: equal
                # lengths shadow the homolog behind the query's own
                # self-rep — the documented recall property)
                src = int(sid) - 1 if sid % q_stride == 1 else int(sid)
                rng = np.random.RandomState(src)
                codes = rng.randint(0, 20, seq_len)
                if sid % q_stride == 1:
                    pos = rng.randint(0, seq_len, 5)  # 5 substitutions
                    codes = codes.copy()
                    codes[pos] = (codes[pos] + 1) % 20
                    codes = np.concatenate([codes, rng.randint(0, 20, 20)])
                rows.append(aa[codes].tobytes().decode())
            yield pd.DataFrame(
                {
                    "seq_id": ids,
                    "accession": [f"s{int(i)}" for i in ids],
                    "header": [f"s{int(i)}" for i in ids],
                    "sequence": rows,
                }
            )

    seqs2 = (
        spark.range(n_seqs)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(gen, schema="seq_id long, accession string, header string, sequence string")
        .persist()
    )
    seqs2.count()
    out["diverse_n_seqs"] = n_seqs
    out["diverse_residues"] = n_seqs * seq_len
    t0 = time.time()
    idx2 = build_kmer_index(seqs2).persist()
    out["diverse_index_kmers"] = idx2.count()
    out["diverse_index_build_s"] = round(time.time() - t0, 1)
    q2 = seqs2.filter(F.col("seq_id") % q_stride == 0)
    nq2 = q2.count()
    t0 = time.time()
    res2 = search(q2, seqs2, target_index=idx2).select(
        "query_id", "target_id", "nident"
    ).collect()
    out["diverse_search_s"] = round(time.time() - t0, 1)
    out["diverse_alignments"] = len(res2)
    hit_map: dict[int, set] = {}
    for r in res2:
        hit_map.setdefault(r["query_id"], set()).add(r["target_id"])
    self_hits = sum(1 for q, ts in hit_map.items() if q in ts)
    homolog_hits = sum(1 for q, ts in hit_map.items() if q + 1 in ts)
    out["diverse_self_hits"] = self_hits
    out["diverse_homolog_hits"] = homolog_hits
    assert self_hits == nq2, f"self-hit missing: {self_hits}/{nq2}"
    assert homolog_hits == nq2, f"planted homolog missed: {homolog_hits}/{nq2}"

    print(json.dumps(out))


if __name__ == "__main__":
    main()
