"""End-to-end search pipeline — the Spark equivalent of the reference's
`petasearch` workflow (E2 in SURVEY §3; /root/reference/data/petasearch.sh).

Where the reference crosses a process+file boundary per stage
(comparekmertables -> blockalign -> convertsraalis -> cat), here every stage
is one lazily-composed DataFrame lineage: Catalyst fuses the projections,
pushes filters into the parquet scans, and the only materialization points
are the prefilter shuffle and the Arrow hop into the alignment kernel.

Every entry point runs the ONE cascade in `_cascade` (query k-mers ->
grouped prefilter -> target fetch -> alignment -> O6 order); they differ
only in where the k-mer index comes from (built inline, prebuilt, a
shard-pruned layout read, or a ``_set``-tagged union of several DBs) and
how the candidate targets are fetched. Multi-target orchestration (J5,
petasearch.sh:42-65: one shell job per target DB, concatenated at the end)
is one plan keyed by that ``_set`` tag, not one lineage per DB.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator, NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from petasearch_spark.functions.ordering import sort_via_exchange
from petasearch_spark.operators.align import DEFAULT_EVALUE, align_pairs
from petasearch_spark.operators.kmer_index import (
    DEFAULT_K,
    build_kmer_index,
    check_kmer_width,
    extract_kmers_batch,
)
from petasearch_spark.operators.prefilter import (
    DEFAULT_REQ_KMER_MATCHES,
    prefilter_grouped,
)


@dataclass(frozen=True)
class SearchKnobs:
    """The search knobs every entry point takes as keywords, with their
    defaults (cli._search_kwargs maps the reference's flags onto them);
    any other keyword raises TypeError rather than running the defaults,
    and a negative ``kmer_max_per_pos`` raises ValueError.

    ``expand_similar=True`` turns on T2 similar-k-mer expansion (the
    reference's default sensitivity mode, --exact-kmer-matching 0);
    False is the reference's exact mode (comparekmertables.cpp:263).
    ``mask=True`` runs T3 low-complexity masking over the QUERY sequences
    before k-mer extraction (the reference's --mask 1,
    comparekmertables.cpp:214-231) — extraction's X-window skip then
    suppresses repeat-driven probes. Alignment still uses the unmasked
    residues, as in the reference. ``xdrop=None`` keeps full banded
    Gotoh — the engine's written divergence decision (operators/align.py
    DEFAULT_XDROP note); pass align.DEFAULT_XDROP for the reference's
    frontier termination. ``max_seqs`` is the per-query top-k over the
    whole result."""

    k: int = DEFAULT_K
    req_kmer_matches: int = DEFAULT_REQ_KMER_MATCHES
    max_evalue: float = DEFAULT_EVALUE
    expand_similar: bool = False
    kmer_threshold: int | None = None
    kmer_max_per_pos: int | None = None
    mask: bool = False
    compo_bias: bool = False
    alphabet: str = "amino"
    max_seqs: int | None = None
    xdrop: int | None = None

    def __post_init__(self):
        if self.kmer_max_per_pos is not None and self.kmer_max_per_pos < 0:
            raise ValueError(f"kmer_max_per_pos must be >= 0, got {self.kmer_max_per_pos}")


def _alphabet_params(alphabet: str):
    """The reference's dbtype branch (comparekmertables.cpp:129-143) —
    amino (BLOSUM62, 11/1 gaps) or nucleotide (+2/-3 match/mismatch,
    ACGT codes, N invalid) — shared by every stage of the cascade so a
    mode can never drift between them."""
    if alphabet == "nucl":
        from petasearch_spark.functions.scoring import (
            KA_NUCL_GAPPED,
            KA_NUCL_UNGAPPED,
            NUCL_ALPHABET,
            NUCL_MATRIX,
        )

        return NUCL_ALPHABET, NUCL_MATRIX, KA_NUCL_UNGAPPED, KA_NUCL_GAPPED
    from petasearch_spark.functions.kmer import AMINO_ALPHABET
    from petasearch_spark.functions.scoring import BLOSUM62, KA_GAPPED_11_1, KA_UNGAPPED

    return AMINO_ALPHABET, BLOSUM62, KA_UNGAPPED, KA_GAPPED_11_1


def build_query_kmers(queries: DataFrame, knobs: SearchKnobs) -> DataFrame:
    """The query-side k-mer table of the cascade, (query_id, kmer, pos):
    ONE mapInPandas over queries(seq_id, sequence) — the reference's
    per-query emit loop (comparekmertables.cpp:214-275) — running per
    Arrow batch masking (T3, ``mask``) -> extraction with positions (T1)
    -> similar-k-mer expansion (T2, ``expand_similar``) with its
    composition-bias threshold (T4, ``compo_bias``, computed from the
    UNMASKED residues). Expansion is a pure function of the k-mer value,
    so deduplicating per batch gives the rows a global distinct would;
    the plan has no shuffle, no broadcast and reads the queries once.
    Built once per search and shared by every target DB — the reference
    recomputes it per target DB (one comparekmertables process each,
    petasearch.sh:42-65)."""
    from petasearch_spark.operators.masking import mask_batch
    from petasearch_spark.operators.similar_kmers import (
        DEFAULT_KMER_THRESHOLD,
        DEFAULT_MAX_PER_POS,
        expand_kmers,
        kmer_bias,
    )

    k, mask, compo_bias = knobs.k, knobs.mask, knobs.compo_bias
    alpha = _alphabet_params(knobs.alphabet)[0]
    check_kmer_width(k, alpha)
    # Reference parity note (nucl): nucleotide mode scores with
    # NucleotideMatrix at scale 1.0 (comparekmertables.cpp:135) where the
    # k-score default 225 exceeds any 9-mer self-score (9×2=18) —
    # generateKmerList can never emit, so expansion degenerates to exact
    # matching.
    expand_similar = knobs.expand_similar and knobs.alphabet != "nucl"
    threshold = (knobs.kmer_threshold if knobs.kmer_threshold is not None
                 else DEFAULT_KMER_THRESHOLD)
    max_per_pos = (knobs.kmer_max_per_pos if knobs.kmer_max_per_pos is not None
                   else DEFAULT_MAX_PER_POS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            seqs = list(pdf["sequence"])
            row, _, km, pos = extract_kmers_batch(
                mask_batch(seqs) if mask else seqs, k, alpha
            )
            if expand_similar:
                kb = None
                if compo_bias:
                    # per-sequence kbias laid end to end; occurrence
                    # (row, pos) reads its sequence's slice at pos
                    per_seq = [kmer_bias(s, k) for s in seqs]
                    lens = np.array([len(b) for b in per_seq], dtype=np.int64)
                    flat = np.concatenate(per_seq) if per_seq else np.zeros(0, np.int64)
                    kb = flat[(np.cumsum(lens) - lens)[row] + pos]
                erow, km = expand_kmers(km, k, threshold, max_per_pos, kb)
                row, pos = row[erow], pos[erow]
            yield pd.DataFrame({
                "query_id": pdf["seq_id"].to_numpy(dtype=np.int64)[row],
                "kmer": km,
                "pos": pos,
            })

    return queries.select("seq_id", "sequence").mapInPandas(
        run, schema="query_id long, kmer long, pos int"
    )


def _rank_and_order(alignments: DataFrame, max_seqs: int | None) -> DataFrame:
    """O6 global ordering, with the optional per-query top-k engine
    extra (absent in the reference, blockalign.cpp:411-414) applied over
    the same ordering."""
    if max_seqs is not None:
        w = Window.partitionBy("query_id").orderBy(
            "evalue", F.desc("bits"), "tlen", "target_id"
        )
        alignments = (
            alignments.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= max_seqs)
            .drop("_rk")
        )
        # the window's hash exchange already decouples the final sort's
        # RangePartitioner sampling from the kernel — plain orderBy is fine
        return alignments.orderBy(
            "query_id", "evalue", F.desc("bits"), "tlen", "target_id"
        )
    # no window: a bare orderBy here would put the range exchange DIRECTLY
    # above the alignment kernel, and the RangePartitioner sampling job
    # re-executes the kernel (round 11, functions/ordering.py) — sort via
    # an interposed hash exchange instead. The O6 spec is a total order
    # (target_id is unique per query), so the result is bit-identical.
    return sort_via_exchange(
        alignments, "query_id", "evalue", F.desc("bits"), "tlen", "target_id"
    )


class _Stages(NamedTuple):
    """The cascade's frames: entry points return ``hits``;
    funnel_report counts every stage."""

    qk: DataFrame
    index: DataFrame
    pairs: DataFrame
    hits: DataFrame


def _cascade(
    queries: DataFrame,
    knobs: SearchKnobs,
    index: Callable[[DataFrame], DataFrame],
    fetch_targets: Callable[[DataFrame], tuple],
    keep: Callable[[DataFrame], DataFrame] | None = None,
    extra_keys: tuple[str, ...] = (),
) -> _Stages:
    """The search cascade: query k-mers -> grouped prefilter (the HAVING
    count and the per-pair k-mer lists in one aggregation) -> target
    fetch -> alignment -> O6 order. ``index(qk)`` gives the k-mer index
    the prefilter joins; ``fetch_targets(pairs)`` gives ``(pairs,
    targets, align_pairs keywords)`` — how the Karlin-Altschul total and
    the DB tag reach the kernel. ``keep`` persists the query k-mer table
    for entry points that probe it more than once; ``extra_keys`` are
    index-side grouping columns that make a pair (query, target, DB)."""
    alpha, matrix, ka_u, ka_g = _alphabet_params(knobs.alphabet)
    qk = build_query_kmers(queries, knobs)
    if keep is not None:
        qk = keep(qk)
    idx = index(qk)
    pairs = prefilter_grouped(
        qk, idx, req_kmer_matches=knobs.req_kmer_matches, extra_keys=extra_keys
    )
    pairs, targets, ka_kw = fetch_targets(pairs)
    alignments = align_pairs(
        pairs, queries, targets, k=knobs.k, max_evalue=knobs.max_evalue,
        alphabet=alpha, matrix=matrix, ka_ungapped=ka_u, ka_gapped=ka_g,
        xdrop=knobs.xdrop, **ka_kw,
    )
    return _Stages(qk, idx, pairs, _rank_and_order(alignments, knobs.max_seqs))


def _full_scan(queries, targets, target_index, knobs: SearchKnobs) -> _Stages:
    if target_index is None:
        alpha = _alphabet_params(knobs.alphabet)[0]
        target_index = build_kmer_index(targets, k=knobs.k, alphabet=alpha)
    # no KA keyword: align_pairs sums the targets' residues lazily
    return _cascade(queries, knobs, lambda qk: target_index,
                    lambda pairs: (pairs, targets, {}))


def search(
    queries: DataFrame,
    targets: DataFrame,
    target_index: DataFrame | None = None,
    **knobs,
) -> DataFrame:
    """queries/targets: sequences(seq_id, accession, header, sequence);
    ``target_index`` a prebuilt index of ``targets`` (built inline when
    None); ``knobs`` the SearchKnobs keywords.

    Returns the alignments DataFrame (FIXTURES.md §1), sorted query-keyed
    by (evalue ASC, bits DESC, tlen ASC, target_id ASC) — the reference's
    O6 ordering (matcherResultsSort, blockalign.cpp:534-550) made *global*
    instead of per-thread (SURVEY §2.6 notes ours is strictly better).
    """
    return _full_scan(queries, targets, target_index, SearchKnobs(**knobs)).hits


def check_index_params(meta: dict, knobs: SearchKnobs, index: str) -> None:
    """Refuse a search whose k or alphabet differ from the ones the index
    was built with (``meta``, its sidecar as read by
    kmer_index.read_kmer_index_meta; ``index`` names it in the message).
    The k-mer codes would be incompatible, and the join would return
    nothing with exit 0. A field the sidecar does not record (an index
    written before it did) is not checked."""
    alpha = _alphabet_params(knobs.alphabet)[0]
    if meta["k"] is not None and int(meta["k"]) != knobs.k:
        raise ValueError(
            f"{index} was built with k={meta['k']} but the search asked"
            f" k={knobs.k} — rebuild the index or match --k"
        )
    if meta["alphabet"] is not None and meta["alphabet"] != alpha:
        raise ValueError(
            f"{index} was built with alphabet {meta['alphabet']!r} but the"
            f" search asked {alpha!r} — rebuild the index or match --alphabet"
        )


def search_sharded_layout(
    queries: DataFrame,
    layout_root: str,
    *,
    persisted: list | None = None,
    **knobs,
) -> DataFrame:
    """The full cascade against an on-disk SHARDED interactive layout
    (``<root>/index`` kmer shards + ``<root>/seqs`` sequence store,
    round 10): every corpus-sized input is pruned to the query — the
    index scan by the query's k-mer shards, the J4 sequence fetch by the
    prefilter's candidate ids, and the e-value normalization reads the
    store sidecar's corpus-total ``db_residues`` instead of scanning
    anything. Semantics and output are ``search()``'s exactly (same
    knobs, same ordering); only the I/O shape differs — 1M-scale record
    in BASELINE.md round 10. Every frame this call persists goes to
    ``persisted`` when given (the streaming flat-cache contract);
    otherwise release is the caller's clearCache, the search()
    convention."""
    import os

    from petasearch_spark.operators.kmer_index import (
        list_layout_generations,
        read_kmer_index_meta,
        read_layout_index_pruned,
        read_layout_store_pruned,
    )

    kn = SearchKnobs(**knobs)
    spark = queries.sparkSession
    # delta generations (append_sharded_layout): base first, fold order —
    # probes resolve the J2 rule over the pruned union, so a grown layout
    # answers exactly like a full rebuild (tests/test_sharded_delta.py)
    gens = list_layout_generations(layout_root)
    idx_meta = read_kmer_index_meta(spark, os.path.join(layout_root, "index"))
    check_index_params(idx_meta, kn, f"sharded layout at {layout_root}")

    def keep(df: DataFrame) -> DataFrame:
        df = df.persist()
        if persisted is not None:
            persisted.append(df)
        return df

    def fetch_targets(pairs: DataFrame):
        # the pairs feed both the candidate-id collect and the kernel.
        # The fetch stays a literal `seq_id IN` list, not a semi-join: up
        # to spark.sql.parquet.pushdown.inFilterThreshold (10) ids parquet
        # pushes it as equality filters, so a one-query probe reads about
        # one row group per candidate in each touched shard; a semi-join
        # would read the touched shards whole.
        pairs = keep(pairs)
        candidate_ids = [
            int(r["target_id"]) for r in pairs.select("target_id").distinct().collect()
        ]
        targets, db_residues = read_layout_store_pruned(
            spark, layout_root, candidate_ids, gens=gens
        )
        # the kernel partitions by target_id, so |candidates| bounds its
        # useful width — interactive probes skip the mostly-empty wide
        # stage; large batches saturate to the default (align_pairs doc)
        return pairs, targets, {"db_residues": db_residues or 1,
                                "kernel_parts": len(candidate_ids)}

    return _cascade(
        queries, kn,
        lambda qk: read_layout_index_pruned(spark, layout_root, qk,
                                            idx_meta=idx_meta, gens=gens),
        fetch_targets, keep=keep,
    ).hits


def search_multi_target(
    queries: DataFrame,
    target_sets: list[DataFrame],
    **knobs,
) -> DataFrame:
    """J5: search each target set, UNION ALL the results (§2.7) — the
    reference's per-DB shell-job fan-out + cat (petasearch.sh:42-65).

    FUSED plan (round 11, guide §2.4): where the reference runs one
    process per target DB, the per-DB relations here are ONE plan keyed
    by a ``_set`` tag:

    * the query-side k-mer table is built ONCE and persisted (pinned by
      tests/test_search_e2e.py);
    * per-set extraction unions into ONE J2 aggregation grouped by
      (kmer, _set) — exactly N per-set ``build_kmer_index`` relations
      in one exchange (operators.kmer_index.aggregate_kmer_index);
    * ONE prefilter join + grouped aggregation keyed by
      (query, target, _set) — the per-DB HAVING relation verbatim;
    * ONE alignment kernel stage; ``align_pairs(set_col="_set")`` sums
      each DB's residues for its own Karlin-Altschul total and fetches
      targets on (target_id, _set) — overlapping sets stay legal.
      E-values are bit-identical to the per-DB runs: same sums, same
      per-pair arithmetic.

    Result parity with N independent ``search`` calls is pinned by
    tests/test_search_e2e.py::test_multi_target_equals_per_target_union.
    Output ordering is the O6 global order.

    ``max_seqs`` here is GLOBAL: the per-query top-k runs ONCE over the
    UNION of all target sets (round-6; what a user of the flag means —
    "my k best hits anywhere"), not within each set. Capping per set
    would return up to ``len(target_sets) * max_seqs`` rows per query
    and, worse, a weak hit from a sparse DB would survive while a
    stronger hit ranked (max_seqs+1)-th in a dense DB was dropped."""
    from petasearch_spark.operators.kmer_index import (
        aggregate_kmer_index,
        extract_kmers_arrow,
    )

    kn = SearchKnobs(**knobs)
    alpha = _alphabet_params(kn.alphabet)[0]
    # project early (§2.3) — only the columns the cascade touches ride
    # the tagged union
    tagged = None
    tagged_kmers = None
    for i, t in enumerate(target_sets):
        ti = t.select("seq_id", "accession", "sequence").withColumn("_set", F.lit(i))
        ki = extract_kmers_arrow(t, k=kn.k, alphabet=alpha).withColumn("_set", F.lit(i))
        tagged = ti if tagged is None else tagged.unionByName(ti)
        tagged_kmers = ki if tagged_kmers is None else tagged_kmers.unionByName(ki)
    return _cascade(
        queries, kn,
        lambda qk: aggregate_kmer_index(tagged_kmers, extra_keys=("_set",)),
        lambda pairs: (pairs, tagged, {"set_col": "_set"}),
        keep=DataFrame.persist, extra_keys=("_set",),
    ).hits


def funnel_report(queries: DataFrame, targets: DataFrame, **knobs) -> dict:
    """A4: the reference's runtime funnel counters as a run report.

    Mirrors comparekmertables.cpp:463,495,587,619 (equal k-mers, hit rows,
    rows after HAVING) and blockalign.cpp:465-481 (alignments passed,
    hits/query), counted over the stages of the very cascade ``search``
    runs with the same knobs. Each number is one lazily-planned count —
    Spark computes them as separate jobs; use for diagnostics, not in the
    hot path."""
    st = _full_scan(queries, targets, None, SearchKnobs(**knobs))
    matches = st.qk.join(st.index.select("kmer", F.col("seq_id").alias("target_id")), "kmer")
    n_queries = queries.count()
    report = {
        "query_kmers": st.qk.count(),
        "index_kmers": st.index.count(),
        "equal_kmers": matches.count(),
        # the member rows of the surviving pairs: one per collected k-mer
        "prefilter_rows": st.pairs.agg(F.sum(F.size("kmers"))).first()[0] or 0,
        "prefilter_pairs": st.pairs.count(),
        "alignments_passed": st.hits.count(),
        "n_queries": n_queries,
    }
    report["hits_per_query"] = report["alignments_passed"] / max(1, n_queries)
    return report
