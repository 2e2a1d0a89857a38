"""Round-6 scale smoke: the FLAGSHIP protein search family at 1M
sequences (round-5 VERDICT item 4 — the LLM-data ops had 1M-doc smokes
since round 5, while the search family's evidence stopped at 100k-200k;
the reference's entire claim is "largest sets of proteins",
/root/reference/README.md:1-3).

Corpus: 1M deterministic pseudo-random 200-residue sequences (~200M
residues — 2,000x the sf0.1 bench corpus), generated executor-side.
Planted structure:

* every ``seq_id % q_stride == 0`` target is a QUERY (whole sequence);
* ``seq_id % q_stride == 1`` is its MUTATED HOMOLOG — 5 substitutions
  plus 20 extra residues, i.e. strictly LONGER than the query source
  (the J2 one-representative law: an equal-length homolog is shadowed
  behind the query's own self-representative and recall silently drops;
  the planted-homolog rule since round 5);
* every ``seq_id % 5 == 3`` target carries a 12-residue poly-L suffix —
  a deliberately HOT low-complexity k-mer ("L"*9) shared by ~200,000
  targets (20% of the corpus). This is the classic prefilter skew
  bomb: without J2 the index would hold 200k rows for that k-mer and
  the prefilter join would fan every L-containing query out to 200k
  candidates. J2 keeps exactly ONE representative row (asserted), and
  AQE skew-join splitting covers any residual imbalance;
* query 0 additionally carries the hot suffix itself (and wins the J2
  length-tie by the smallest-id rule), so one query exercises the
  hot-k-mer probe path end to end.

Assertions: the hot k-mer has exactly one index row; candidate fan-out
stays bounded (<= 50 pairs/query over 200 queries); every query's
alignment output contains BOTH its self-hit and its planted homolog.

    python scripts/round6_search_1m_smoke.py [n_seqs] [q_stride]
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from petasearch_spark.functions.kmer import AMINO_ALPHABET, encode_kmer_expr
from petasearch_spark.operators.kmer_index import build_kmer_index, extract_query_kmers
from petasearch_spark.operators.prefilter import prefilter_grouped
from petasearch_spark.plans.search import search
from petasearch_spark.session import get_spark

SEQ_LEN = 200
HOT_RUN = "L" * 12  # 12 residues -> 4 copies of the hot 9-mer per target


def synth(spark, n_seqs: int, q_stride: int):
    aa = np.frombuffer(AMINO_ALPHABET.encode(), dtype=np.uint8)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].values
            rows = []
            for sid in ids:
                sid = int(sid)
                src = sid - 1 if sid % q_stride == 1 else sid
                rng = np.random.RandomState(src % (2**31))
                codes = rng.randint(0, 20, SEQ_LEN)
                if sid % q_stride == 1:
                    # homolog: 5 substitutions + 20 extra residues (LONGER
                    # than the source — the J2 rep-shadowing rule)
                    pos = rng.randint(0, SEQ_LEN, 5)
                    codes = codes.copy()
                    codes[pos] = (codes[pos] + 1) % 20
                    codes = np.concatenate([codes, rng.randint(0, 20, 20)])
                seq = aa[codes].tobytes().decode()
                if sid % 5 == 3 or sid == 0:
                    seq += HOT_RUN
                rows.append(seq)
            yield pd.DataFrame(
                {
                    "seq_id": ids,
                    "accession": [f"s{int(i)}" for i in ids],
                    "header": [f"s{int(i)}" for i in ids],
                    "sequence": rows,
                }
            )

    return (
        spark.range(n_seqs)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(gen, schema="seq_id long, accession string, header string, sequence string")
    )


def main() -> None:
    n_seqs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    q_stride = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000
    spark = get_spark("round6_search_1m_smoke")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    out: dict[str, object] = {"n_seqs": n_seqs, "seq_len": SEQ_LEN, "q_stride": q_stride}

    t0 = time.time()
    seqs = synth(spark, n_seqs, q_stride).persist()
    out["total_residues"] = int(seqs.agg(F.sum(F.length("sequence"))).collect()[0][0])
    out["gen_s"] = round(time.time() - t0, 1)

    t0 = time.time()
    index = build_kmer_index(seqs).persist()
    out["index_kmers"] = index.count()
    out["index_build_s"] = round(time.time() - t0, 1)
    out["index_mres_per_s"] = round(out["total_residues"] / 1e6 / out["index_build_s"], 1)

    # J2 at scale: the deliberately hot low-complexity k-mer collapsed
    # ~n/5 occurrences to exactly ONE representative row
    hot_rows = index.filter(
        F.col("kmer") == encode_kmer_expr(F.lit("L" * 9))
    ).count()
    out["hot_kmer_index_rows"] = hot_rows
    assert hot_rows == 1, f"hot k-mer has {hot_rows} index rows — J2 broken at scale"

    queries = seqs.filter(F.col("seq_id") % q_stride == 0).persist()
    nq = queries.count()
    out["n_queries"] = nq

    t0 = time.time()
    pairs = prefilter_grouped(extract_query_kmers(queries), index)
    n_pairs = pairs.count()
    out["prefilter_pairs"] = n_pairs
    out["prefilter_s"] = round(time.time() - t0, 1)
    assert n_pairs <= nq * 50, (
        f"{n_pairs} candidate pairs for {nq} queries — hot-k-mer fan-out unbounded"
    )

    t0 = time.time()
    res = search(queries, seqs, target_index=index).select(
        "query_id", "target_id", "nident", "alnlen"
    ).collect()
    out["search_s"] = round(time.time() - t0, 1)
    out["alignments"] = len(res)

    hit_map: dict[int, set] = {}
    for r in res:
        hit_map.setdefault(r["query_id"], set()).add(r["target_id"])
    self_hits = sum(1 for q, ts in hit_map.items() if q in ts)
    homolog_hits = sum(1 for q, ts in hit_map.items() if q + 1 in ts)
    out["self_hits"] = self_hits
    out["homolog_hits"] = homolog_hits
    assert self_hits == nq, f"self-hit missing: {self_hits}/{nq}"
    assert homolog_hits == nq, f"planted homolog missed: {homolog_hits}/{nq}"

    print(json.dumps(out))


if __name__ == "__main__":
    main()
