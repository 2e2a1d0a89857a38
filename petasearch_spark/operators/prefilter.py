"""Prefilter: the heart of the engine (SURVEY §2.4 J1 + §2.5 A1 + §2.8 F3/F4).

Reference (`comparekmertables`, /root/reference/src/sra/comparekmertables.cpp):
sorted-merge equi-join of the in-RAM query k-mer table against the streamed
target k-mer index ON kmer (473-572), then keep (query, target) groups with
count(*) > req-kmer-matches (strict >, default 2; removeNotHitSequences
46-67, LocalParameters.h:144). All rows of surviving groups are kept (61-62)
because the aligner needs every (kmer, pos) match.

Spark design: a plain inner join — Catalyst picks sort-merge or
shuffled-hash — then ONE grouped aggregation per (query, target) with the
HAVING count applied after it: map-side partial aggregation collapses the
match rows to one row per pair per map partition before the shuffle, and
nothing is sorted. Two forms share that join: ``prefilter_grouped`` keeps
each pair's matched (kmer, pos) lists for the aligner, ``prefilter_counts``
keeps only the count. When the query side is small (the common interactive
case; the reference replicates the query table per thread,
comparekmertables.cpp:387-391) the query k-mers are broadcast and the join
is a broadcast-hash join with NO shuffle of the index at all — at 100 TB of
index this is the difference between a full-index shuffle and a
map-side-only pass.

Skew: hot k-mers are bounded by construction — the index holds ONE row per
distinct k-mer (J2), so join fan-out per kmer == #query rows with that kmer;
residual skew (a low-complexity k-mer shared by many queries) is handled by
AQE skew-join (enabled in session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: default --req-kmer-matches (strict >), /root/reference/src/commons/LocalParameters.h:144
DEFAULT_REQ_KMER_MATCHES = 2


def _matches(
    query_kmers: DataFrame, target_index: DataFrame, broadcast_queries: bool, *cols
) -> DataFrame:
    """query_kmers(query_id, kmer, pos) ⋈ target_index(kmer, seq_id, ...)
    ON kmer -> (query_id, target_id, *cols): one row per k-mer match."""
    q = F.broadcast(query_kmers) if broadcast_queries else query_kmers
    return q.join(target_index, "kmer", "inner").select(
        F.col("seq_id").alias("target_id"), "query_id", *cols
    )


def prefilter_grouped(
    query_kmers: DataFrame,
    target_index: DataFrame,
    req_kmer_matches: int = DEFAULT_REQ_KMER_MATCHES,
    broadcast_queries: bool = True,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Prefilter + per-pair match collection for the ALIGN cascade
    (round 11, guide §2.3/§2.4): one hash aggregation collects each
    (query, target) group's matched k-mers and query positions AND counts
    them; the strict > threshold filters on the count after. Exploding
    the lists gives back the member rows of every surviving group. The
    kernels sort diagonals internally (align.find_anchor_diag /
    ungapped_rescore_pairs), so collect_list order — nondeterministic —
    never reaches a result.

    ``extra_keys`` (round 11, fused multi-target): additional grouping
    columns carried on the TARGET INDEX side (e.g. the per-DB ``_set``
    tag from ``build_kmer_index(..., extra_keys=...)``) — a pair then
    means (query, target, DB), exactly the per-DB prefilter relation.

    -> grouped_pairs(query_id, target_id, [*extra_keys,] kmers, qpositions)"""
    return (
        _matches(query_kmers, target_index, broadcast_queries, "kmer", "pos", *extra_keys)
        .groupBy("query_id", "target_id", *extra_keys)
        .agg(
            F.collect_list("kmer").alias("kmers"),
            F.collect_list("pos").alias("qpositions"),
            F.count(F.lit(1)).alias("match_cnt"),
        )
        .filter(F.col("match_cnt") > req_kmer_matches)
        .drop("match_cnt")
    )


def prefilter_counts(
    query_kmers: DataFrame,
    target_index: DataFrame,
    req_kmer_matches: int = DEFAULT_REQ_KMER_MATCHES,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Prefilter + pair-count for consumers that only need
    ``(query_id, target_id, n_matches)`` (round 11, guide §2.3): one COUNT
    aggregation with the HAVING applied after — identical to the SQL
    oracles' GROUP BY/HAVING — with partial (map-side) aggregation
    collapsing match rows to an 8-byte count per pair per map partition
    before the shuffle, and no sort anywhere. The aligner, which needs
    the matches themselves, uses prefilter_grouped."""
    return (
        _matches(query_kmers, target_index, broadcast_queries)
        .groupBy("query_id", "target_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .filter(F.col("n_matches") > req_kmer_matches)
    )

