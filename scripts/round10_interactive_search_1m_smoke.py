"""Round-10 scale smoke (VERDICT r9 item 3): the INTERACTIVE search
end-to-end at 1M sequences — a handful of query proteins against the
on-disk SHARDED layout, through the FULL cascade (pruned index probe ->
prefilter -> candidate-pruned sequence fetch -> banded align), the
reference's headline use-case (a few proteins vs a huge SRA index,
/root/reference/README.md:1-3; pipeline data/petasearch.sh:42-65).

Corpus/planted structure = scripts/round6_search_1m_smoke.py (synth
imported from there): every ``seq_id % q_stride == 0`` is a query,
``% q_stride == 1`` its LONGER mutated homolog, and 20% of targets
carry the poly-L hot-k-mer suffix (the J2 skew bomb).

What this records that the round-9 prefilter-only probe could not:

* end-to-end interactive latency (probe -> alignments) for batch sizes
  1 / 4 / 16 — the latency ∝ query claim needs the WHOLE cascade,
  because the sequence fetch is the stage that degenerates to a corpus
  scan in a naive port;
* the fraction of index shards and sequence-store shards each batch
  actually touches (I/O ∝ query, not corpus);
* value equality of the pruned cascade vs the full-scan ``search()`` on
  the same queries (the 16-query batch), plus the planted-structure
  assertions (self-hit + homolog per query).

    python scripts/round10_interactive_search_1m_smoke.py [n_seqs] [q_stride]
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
    build_kmer_index,
    extract_query_kmers,
    read_kmer_index_pruned,
    read_sequence_store_meta,
    read_sequence_store_pruned,
    write_kmer_index_sharded,
    write_sequence_store_sharded,
)
from petasearch_spark.operators.prefilter import prefilter_grouped
from petasearch_spark.plans.search import search
from petasearch_spark.session import get_spark

NUM_SHARDS = 4096


def interactive_search(spark, root: str, queries, db_residues: int):
    """The cascade exactly as doc_search._sharded_search composes it,
    over the smoke layout (kept in sync by the equality assertion vs
    the full-scan search below)."""
    qk = extract_query_kmers(queries).persist()
    pairs = prefilter_grouped(
        qk, read_kmer_index_pruned(spark, os.path.join(root, "index"), qk)
    ).persist()
    ids = [int(r["target_id"]) for r in pairs.select("target_id").distinct().collect()]
    targets = read_sequence_store_pruned(spark, os.path.join(root, "seqs"), ids)
    res = align_pairs(
        pairs, queries, targets, db_residues=db_residues, kernel_parts=len(ids)
    )
    rows = res.select("query_id", "target_id", "nident", "alnlen").collect()
    qk.unpersist()
    pairs.unpersist()
    return rows, ids


def main() -> None:
    n_seqs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    q_stride = int(sys.argv[2]) if len(sys.argv) > 2 else 62_500  # 16 queries at 1M
    # the layout build's J2 shuffle carries ~200 kmer rows/seq: keep map
    # combine output per task in memory at 10M (same sizing note as the
    # round-9 10M smoke); local AQE coalesces down, never splits up
    spark = get_spark(
        "round10_interactive_smoke",
        shuffle_partitions=256 if n_seqs >= 5_000_000 else 64,
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    out: dict[str, object] = {"n_seqs": n_seqs, "q_stride": q_stride, "num_shards": NUM_SHARDS}

    root = os.path.join(tempfile.gettempdir(), f"ps_r10_interactive_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    try:
        t0 = time.time()
        seqs = synth(spark, n_seqs, q_stride).persist()
        total_res = int(seqs.agg(F.sum(F.length("sequence"))).collect()[0][0])
        out["total_residues"] = total_res
        out["gen_s"] = round(time.time() - t0, 1)

        # --- one-time layout build (index + sequence store, both sharded)
        t0 = time.time()
        write_kmer_index_sharded(
            build_kmer_index(seqs), os.path.join(root, "index"), num_shards=NUM_SHARDS
        )
        write_sequence_store_sharded(
            seqs, os.path.join(root, "seqs"), num_shards=NUM_SHARDS
        )
        out["layout_build_s"] = round(time.time() - t0, 1)
        meta = read_sequence_store_meta(spark, os.path.join(root, "seqs"))
        assert int(meta["db_residues"]) == total_res, "sidecar db_residues drift"

        all_q = seqs.filter(F.col("seq_id") % q_stride == 0).persist()
        nq_all = all_q.count()
        seqs.unpersist()  # interactive runs must touch DISK, not the cache

        # --- interactive batches: latency and touched-shard fraction
        for batch in (1, 4, 16):
            queries = all_q.filter(F.col("seq_id") < batch * q_stride).persist()
            nq = queries.count()
            assert nq == min(batch, nq_all)
            qk = extract_query_kmers(queries)
            k_shards = qk.selectExpr(f"pmod(kmer, {NUM_SHARDS}) s").distinct().count()
            t0 = time.time()
            rows, ids = interactive_search(spark, root, queries, total_res)
            dt = round(time.time() - t0, 2)
            s_shards = len({i % NUM_SHARDS for i in ids})
            out[f"b{batch}_e2e_s"] = dt
            out[f"b{batch}_alignments"] = len(rows)
            out[f"b{batch}_index_shards"] = k_shards
            out[f"b{batch}_seq_shards"] = s_shards
            hit = {}
            for r in rows:
                hit.setdefault(r["query_id"], set()).add(r["target_id"])
            assert all(q in ts for q, ts in hit.items()), "self-hit missing"
            assert sum(1 for q, ts in hit.items() if q + 1 in ts) == nq, "homolog missed"
            queries.unpersist()
        out["index_shard_frac_b1"] = round(out["b1_index_shards"] / NUM_SHARDS, 4)
        out["seq_shard_frac_b16"] = round(out["b16_seq_shards"] / NUM_SHARDS, 4)

        # --- value equality vs the full-scan cascade on the 16-query
        # batch (skipped above 2M: the fullscan side would rebuild the
        # whole in-memory index — equality is proven at 1M and by the
        # registry oracle at the test SFs; the big-corpus run's planted
        # self-hit/homolog assertions above stay on)
        if n_seqs <= 2_000_000:
            queries = all_q.filter(F.col("seq_id") < 16 * q_stride)
            seqs2 = synth(spark, n_seqs, q_stride)
            t0 = time.time()
            full = (
                search(queries, seqs2)
                .select("query_id", "target_id", "nident", "alnlen")
                .collect()
            )
            out["fullscan_e2e_s"] = round(time.time() - t0, 2)
            rows, _ = interactive_search(spark, root, queries, total_res)
            assert sorted(map(tuple, rows)) == sorted(map(tuple, full)), (
                "pruned cascade drifted from full-scan search"
            )
            out["equality"] = "exact"
            out["speedup_vs_fullscan_b16"] = round(
                out["fullscan_e2e_s"] / out["b16_e2e_s"], 2
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
