"""Scale smoke: the protein engine on a corpus ~10x the bench tables.

Synthesizes 100k protein sequences (~30M residues) DISTRIBUTIVELY (no
driver-side data; deterministic per-partition RNG), builds the k-mer
index, and searches 500 exact-substring queries. Prints one JSON line
with stage wall-clocks and funnel counts.

This is the would-it-scale probe: every stage here is the same plan that
runs at 100 TB — the explode+groupBy index build, the broadcast
prefilter join, the batched alignment — only the input size changes.

    python scripts/scale_smoke.py [n_seqs] [seq_len] [n_queries]
"""

from __future__ import annotations

import json
import os
import sys
import time
from typing import Iterator

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from petasearch_spark.functions.kmer import AMINO_ALPHABET
from petasearch_spark.operators.kmer_index import build_kmer_index, extract_query_kmers
from petasearch_spark.operators.prefilter import prefilter_grouped
from petasearch_spark.operators.align import align_pairs
from petasearch_spark.session import get_spark


def synth_sequences(spark, n: int, length: int):
    """n deterministic pseudo-random sequences, generated executor-side."""
    base = spark.range(n).repartition(spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        letters = np.array(list(AMINO_ALPHABET))
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            seqs = []
            for i in ids:
                rng = np.random.RandomState(seed=int(i) % (2**31))
                seqs.append("".join(letters[rng.randint(0, 20, size=length)]))
            yield pd.DataFrame(
                {
                    "seq_id": ids,
                    "accession": [f"s{i}" for i in ids],
                    "header": [f"s{i} synthetic" for i in ids],
                    "sequence": seqs,
                }
            )

    return base.mapInPandas(gen, "seq_id long, accession string, header string, sequence string")


def main() -> None:
    n_seqs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    seq_len = int(sys.argv[2]) if len(sys.argv) > 2 else 300
    n_queries = int(sys.argv[3]) if len(sys.argv) > 3 else 500
    spark = get_spark("scale_smoke")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    targets = synth_sequences(spark, n_seqs, seq_len).persist()
    t0 = time.perf_counter()
    n_residues = targets.agg(F.sum(F.length("sequence"))).collect()[0][0]
    gen_s = time.perf_counter() - t0

    # queries: middle 150-mers of every (n_seqs // n_queries)-th target
    stride = max(1, n_seqs // n_queries)
    queries = (
        targets.filter(F.col("seq_id") % stride == 0)
        .limit(n_queries)
        .select(
            F.col("seq_id").alias("orig_id"),
            F.col("accession"),
            F.col("header"),
            F.substring("sequence", seq_len // 4, 150).alias("sequence"),
        )
        .withColumn("seq_id", F.col("orig_id"))
        .drop("orig_id")
        .persist()
    )
    queries.count()

    t0 = time.perf_counter()
    index = build_kmer_index(targets).persist()
    n_index = index.count()
    index_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    qk = extract_query_kmers(queries)
    pairs = prefilter_grouped(qk, index)
    n_pairs = pairs.count()
    prefilter_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    ali = align_pairs(pairs, queries, targets)
    n_hits = ali.count()
    align_s = time.perf_counter() - t0

    print(
        json.dumps(
            {
                "n_seqs": n_seqs,
                "n_residues": int(n_residues),
                "n_queries": n_queries,
                "distinct_index_kmers": n_index,
                "prefilter_pairs": n_pairs,
                "alignments": n_hits,
                "gen_sec": round(gen_s, 2),
                "index_build_sec": round(index_s, 2),
                "prefilter_sec": round(prefilter_s, 2),
                "align_sec": round(align_s, 2),
                "index_mres_per_sec": round(n_residues / 1e6 / index_s, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
