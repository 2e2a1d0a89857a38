"""Round-10 scale smoke: the sharded layout's APPEND lifecycle at 1M
sequences — the incremental-ingest story (the reference's createkmertable
is batch-only; at 100 TB the corpus grows daily and this path replaces a
full rebuild per delta).

Planted structure makes delta-blindness impossible to miss: the corpus
is scripts/round6_search_1m_smoke.synth's (every ``seq_id % q_stride ==
0`` a query, ``+1`` its LONGER mutated homolog, 20% hot-k-mer suffixes),
and the generation split routes EVERY homolog into delta 1
(``seq_id % 10 == 1`` — homolog ids are q_stride*k+1 with q_stride
ending in 0). A probe that misses the delta generation still gets its
self-hits (base) but loses every homolog; the J2 representative for the
k-mers a homolog shares with its source must ALSO cross the generation
boundary (the homolog is longer, so the delta row shadows the base row
after re-resolution — rep stealing across generations).

Records:
* base_build_s (~90% corpus) vs rebuild_s (100% corpus) vs append1_s
  (10% delta) vs append2_s (1% delta) — append cost tracks the DELTA;
* b16 probe latency against the GROWN (3-generation) layout, the
  REBUILT (single-generation) layout, and the COMPACTED layout — the
  per-generation read amplification and its recovery;
* compact_s — folds stored indexes, no re-extraction;
* exact value equality grown == rebuilt == compacted on the 16-query
  batch, plus the planted self-hit + homolog assertions.

    python scripts/round10_delta_append_1m_smoke.py [n_seqs] [q_stride]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from round6_search_1m_smoke import synth  # noqa: E402 — same planted corpus
from petasearch_spark.operators.align import align_pairs
from petasearch_spark.operators.kmer_index import (
    append_sharded_layout,
    compact_sharded_layout,
    extract_query_kmers,
    list_layout_generations,
    read_layout_index_pruned,
    read_layout_store_pruned,
    write_sharded_layout,
)
from petasearch_spark.operators.prefilter import prefilter_grouped
from petasearch_spark.session import get_spark

NUM_SHARDS = 4096


def interactive_search(spark, root: str, queries, total_res: int):
    """The generation-aware cascade exactly as plans.search.
    search_sharded_layout composes it (same library calls), minus the
    knob plumbing."""
    qk = extract_query_kmers(queries).persist()
    pairs = prefilter_grouped(qk, read_layout_index_pruned(spark, root, qk)).persist()
    ids = [int(r["target_id"]) for r in pairs.select("target_id").distinct().collect()]
    targets, db_residues = read_layout_store_pruned(spark, root, ids)
    assert db_residues == total_res, "generation residue sum drifted from corpus total"
    res = align_pairs(
        pairs, queries, targets, db_residues=db_residues, kernel_parts=len(ids)
    )
    rows = res.select("query_id", "target_id", "nident", "alnlen").collect()
    qk.unpersist()
    pairs.unpersist()
    return rows


def main() -> None:
    n_seqs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    q_stride = int(sys.argv[2]) if len(sys.argv) > 2 else 62_500  # 16 queries at 1M
    assert q_stride % 10 == 0, "homolog-in-delta routing needs q_stride % 10 == 0"
    spark = get_spark(
        "round10_delta_smoke",
        shuffle_partitions=256 if n_seqs >= 5_000_000 else 64,
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    out: dict[str, object] = {"n_seqs": n_seqs, "q_stride": q_stride, "num_shards": NUM_SHARDS}

    grown = os.path.join(tempfile.gettempdir(), f"ps_r10_delta_{os.getpid()}")
    rebuilt = grown + "_rebuilt"
    for d in (grown, rebuilt):
        shutil.rmtree(d, ignore_errors=True)
    try:
        t0 = time.time()
        seqs = synth(spark, n_seqs, q_stride).persist()
        total_res = int(seqs.agg(F.sum(F.length("sequence"))).collect()[0][0])
        out["total_residues"] = total_res
        out["gen_s"] = round(time.time() - t0, 1)

        in_d1 = F.col("seq_id") % 10 == 1  # ALL homologs land here
        in_d2 = (F.col("seq_id") % 100 == 55) & ~in_d1  # the 1% follow-up
        base = seqs.filter(~in_d1 & ~in_d2)
        d1 = seqs.filter(in_d1)
        d2 = seqs.filter(in_d2)

        t0 = time.time()
        write_sharded_layout(base, grown, num_shards=NUM_SHARDS)
        out["base_build_s"] = round(time.time() - t0, 1)
        t0 = time.time()
        append_sharded_layout(spark, grown, d1)
        out["append1_s"] = round(time.time() - t0, 1)  # ~10% of corpus
        t0 = time.time()
        append_sharded_layout(spark, grown, d2)
        out["append2_s"] = round(time.time() - t0, 1)  # ~1% of corpus
        assert len(list_layout_generations(grown)) == 3

        t0 = time.time()
        write_sharded_layout(seqs, rebuilt, num_shards=NUM_SHARDS)
        out["rebuild_s"] = round(time.time() - t0, 1)  # the cost append avoids
        out["append1_vs_rebuild"] = round(out["append1_s"] / out["rebuild_s"], 3)

        queries = seqs.filter(
            (F.col("seq_id") % q_stride == 0) & (F.col("seq_id") < 16 * q_stride)
        ).persist()
        nq = queries.count()
        seqs.unpersist()  # probes must touch DISK, not the cache

        def probe(root, tag):
            t0 = time.time()
            rows = interactive_search(spark, root, queries, total_res)
            out[f"{tag}_b16_e2e_s"] = round(time.time() - t0, 2)
            hit = {}
            for r in rows:
                hit.setdefault(r["query_id"], set()).add(r["target_id"])
            assert all(q in ts for q, ts in hit.items()), f"{tag}: self-hit missing"
            assert sum(1 for q, ts in hit.items() if q + 1 in ts) == nq, (
                f"{tag}: homolog missed — delta generation not read"
            )
            return sorted(map(tuple, rows))

        got = probe(grown, "grown")
        want = probe(rebuilt, "rebuilt")
        assert got == want, "grown layout drifted from full rebuild"
        out["equality"] = "exact"

        t0 = time.time()
        folded = compact_sharded_layout(spark, grown)
        out["compact_s"] = round(time.time() - t0, 1)
        assert folded == 2
        assert probe(grown, "compacted") == want, "compaction changed answers"
        out["gen_read_amplification_b16"] = round(
            out["grown_b16_e2e_s"] / out["compacted_b16_e2e_s"], 2
        )
    finally:
        for d in (grown, rebuilt):
            shutil.rmtree(d, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
