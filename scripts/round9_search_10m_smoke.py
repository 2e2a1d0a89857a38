"""Round-9 scale smoke (VERDICT r8 item 3): the flagship search family at
10M sequences — 10x the round-6 corpus, ~20,000x the sf0.1 bench corpus
— through the BUCKETED steady-state layout (what the 100 TB deployment
ships: write_kmer_index_bucketed + bucket-local prefilter join).

Corpus/planted structure = scripts/round6_search_1m_smoke.py (synth is
imported from there): deterministic 200-residue sequences; every
``seq_id % q_stride == 0`` is a query, ``% q_stride == 1`` its LONGER
mutated homolog (the J2 rep-shadowing rule); every ``% 5 == 3`` target
carries the poly-L hot-k-mer suffix, so ONE k-mer occurs in ~2M targets
(20% of the corpus) — the prefilter skew bomb that J2 must collapse to
exactly one representative row.

What 10x adds over the 1M record (BASELINE.md round 6):

* the index shuffle moves ~2B k-mer rows — any superlinear blowup or
  driver-side bottleneck in the groupBy/max_by J2 aggregation shows
  here first;
* the index is NOT held in executor cache (1.9B rows would spill-thrash)
  but written bucketed-by-kmer to disk and re-read — the real cluster
  shape, where the same index serves many query batches with no
  index-side shuffle per batch;
* prefilter + align run against the on-disk bucketed table, so their
  recorded cost includes the columnar re-scan, i.e. the true
  steady-state per-batch cost.

Assertions as at 1M: hot k-mer has exactly ONE index row; fan-out
bounded; every query recovers its self-hit AND planted homolog.

    python scripts/round9_search_10m_smoke.py [n_seqs] [q_stride]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from round6_search_1m_smoke import synth  # noqa: E402 — same planted corpus, 10x n
from petasearch_spark.functions.kmer import encode_kmer_expr
from petasearch_spark.operators.kmer_index import (
    build_kmer_index,
    extract_query_kmers,
    write_kmer_index_bucketed,
)
from petasearch_spark.operators.prefilter import prefilter_grouped
from petasearch_spark.plans.search import search
from petasearch_spark.session import get_spark

INDEX_TABLE = "ps_r9_index_10m"


def main() -> None:
    n_seqs = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    q_stride = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    # 32 shuffle partitions hold ~60M rows each at the 2B-row index
    # shuffle — sort-agg would spill hard; 256 keeps map-side combine
    # output per task in memory. (On a real cluster this is AQE's call;
    # local[32] AQE coalesces DOWN but never splits up.)
    spark = get_spark("round9_search_10m_smoke", shuffle_partitions=256)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    out: dict[str, object] = {"n_seqs": n_seqs, "q_stride": q_stride}

    t0 = time.time()
    seqs = synth(spark, n_seqs, q_stride).persist()
    out["total_residues"] = int(seqs.agg(F.sum(F.length("sequence"))).collect()[0][0])
    out["gen_s"] = round(time.time() - t0, 1)

    # --- index build -> BUCKETED on-disk layout (the steady-state shape)
    t0 = time.time()
    write_kmer_index_bucketed(build_kmer_index(seqs), INDEX_TABLE)
    out["index_build_s"] = round(time.time() - t0, 1)
    out["index_mres_per_s"] = round(out["total_residues"] / 1e6 / out["index_build_s"], 2)
    index = spark.table(INDEX_TABLE)
    out["index_kmers"] = index.count()

    # J2 at scale: ~2M occurrences of the hot low-complexity k-mer
    # collapsed to exactly ONE representative row
    hot_rows = index.filter(F.col("kmer") == encode_kmer_expr(F.lit("L" * 9))).count()
    out["hot_kmer_index_rows"] = hot_rows
    assert hot_rows == 1, f"hot k-mer has {hot_rows} index rows — J2 broken at scale"

    queries = seqs.filter(F.col("seq_id") % q_stride == 0).persist()
    nq = queries.count()
    out["n_queries"] = nq

    # --- steady-state per-batch cost: prefilter against the on-disk
    # bucketed table (includes the columnar re-scan)
    t0 = time.time()
    pairs = prefilter_grouped(extract_query_kmers(queries), index)
    n_pairs = pairs.count()
    out["prefilter_pairs"] = n_pairs
    out["prefilter_s"] = round(time.time() - t0, 1)
    assert n_pairs <= nq * 50, (
        f"{n_pairs} candidate pairs for {nq} queries — hot-k-mer fan-out unbounded"
    )

    t0 = time.time()
    res = (
        search(queries, seqs, target_index=index)
        .select("query_id", "target_id", "nident", "alnlen")
        .collect()
    )
    out["search_s"] = round(time.time() - t0, 1)
    out["alignments"] = len(res)

    hit_map: dict[int, set] = {}
    for r in res:
        hit_map.setdefault(r["query_id"], set()).add(r["target_id"])
    out["self_hits"] = sum(1 for q, ts in hit_map.items() if q in ts)
    out["homolog_hits"] = sum(1 for q, ts in hit_map.items() if q + 1 in ts)
    assert out["self_hits"] == nq, f"self-hit missing: {out['self_hits']}/{nq}"
    assert out["homolog_hits"] == nq, f"planted homolog missed: {out['homolog_hits']}/{nq}"

    spark.sql(f"DROP TABLE IF EXISTS {INDEX_TABLE}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
