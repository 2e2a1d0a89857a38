"""End-to-end search pipeline — the Spark equivalent of the reference's
`petasearch` workflow (E2 in SURVEY §3; /root/reference/data/petasearch.sh).

Where the reference crosses a process+file boundary per stage
(comparekmertables -> blockalign -> convertsraalis -> cat), here every stage
is one lazily-composed DataFrame lineage: Catalyst fuses the projections,
pushes filters into the parquet scans, and the only materialization points
are the prefilter shuffle and the Arrow hop into the alignment kernel.

Multi-target orchestration (J5, petasearch.sh:42-65: one shell job per
target DB, concatenated at the end) becomes a `unionByName` of per-target
lineages — Spark's scheduler replaces the hand-rolled job fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from petasearch_spark.functions.ordering import sort_via_exchange
from petasearch_spark.operators.align import DEFAULT_EVALUE, align_pairs
from petasearch_spark.operators.kmer_index import (
    DEFAULT_K,
    build_kmer_index,
    extract_query_kmers,
)
from petasearch_spark.operators.prefilter import (
    DEFAULT_REQ_KMER_MATCHES,
    prefilter,
    prefilter_grouped,
)


def build_query_kmers(
    queries: DataFrame,
    k: int = DEFAULT_K,
    expand_similar: bool = False,
    kmer_threshold: int | None = None,
    kmer_max_per_pos: int | None = None,
    mask: bool = False,
    compo_bias: bool = False,
    alphabet: str = "amino",
) -> DataFrame:
    """The query-side k-mer table exactly as `search` would build it
    (masking -> extraction -> optional T2/T4 expansion). Factored out so
    `search_multi_target` can compute it ONCE and share it across target
    sets — the reference recomputes it per target DB (one
    comparekmertables process each, petasearch.sh:42-65); persisting one
    table across N probes is the Spark-native improvement."""
    if alphabet == "nucl":
        from petasearch_spark.functions.scoring import NUCL_ALPHABET

        alpha = NUCL_ALPHABET
        # nucleotide-mode expansion degenerates to exact matching (see
        # the parity note in `search`)
        expand_similar = False
    else:
        from petasearch_spark.functions.kmer import AMINO_ALPHABET

        alpha = AMINO_ALPHABET
    if mask:
        from petasearch_spark.operators.masking import mask_sequences

        qk = extract_query_kmers(mask_sequences(queries), k=k, alphabet=alpha)
    else:
        qk = extract_query_kmers(queries, k=k, alphabet=alpha)
    if expand_similar:
        from petasearch_spark.operators.similar_kmers import (
            DEFAULT_KMER_THRESHOLD,
            DEFAULT_MAX_PER_POS,
            composition_bias_kmer,
            expand_query_kmers,
        )

        qk = expand_query_kmers(
            qk,
            k=k,
            threshold=kmer_threshold if kmer_threshold is not None else DEFAULT_KMER_THRESHOLD,
            max_per_pos=kmer_max_per_pos if kmer_max_per_pos is not None else DEFAULT_MAX_PER_POS,
            # T4: per-position composition bias raises the similar-k-mer
            # threshold inside biased regions (comparekmertables.cpp:196-253)
            bias=composition_bias_kmer(queries, k=k) if compo_bias else None,
        )
    return qk


def _alphabet_params(alphabet: str):
    """The reference's dbtype branch (comparekmertables.cpp:129-143) —
    amino (BLOSUM62, 11/1 gaps) or nucleotide (+2/-3 match/mismatch,
    ACGT codes, N invalid) — shared by the full-scan and sharded-layout
    cascades so a mode can never drift between them."""
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


def search(
    queries: DataFrame,
    targets: DataFrame,
    target_index: DataFrame | None = None,
    k: int = DEFAULT_K,
    req_kmer_matches: int = DEFAULT_REQ_KMER_MATCHES,
    max_evalue: float = DEFAULT_EVALUE,
    expand_similar: bool = False,
    kmer_threshold: int | None = None,
    kmer_max_per_pos: int | None = None,
    mask: bool = False,
    compo_bias: bool = False,
    alphabet: str = "amino",
    max_seqs: int | None = None,
    xdrop: int | None = None,
    query_kmers: DataFrame | None = None,
    db_residues: int | None = None,
) -> DataFrame:
    """queries/targets: sequences(seq_id, accession, header, sequence).

    ``expand_similar=True`` turns on T2 similar-k-mer expansion (the
    reference's default sensitivity mode, --exact-kmer-matching 0);
    False is the reference's exact mode (comparekmertables.cpp:263).
    ``mask=True`` runs T3 low-complexity masking over the QUERY sequences
    before k-mer extraction (the reference's --mask 1,
    comparekmertables.cpp:214-231) — extraction's X-window skip then
    suppresses repeat-driven probes. Alignment still uses the unmasked
    residues, as in the reference.

    Returns the alignments DataFrame (FIXTURES.md §1), sorted query-keyed
    by (evalue ASC, bits DESC, tlen ASC, target_id ASC) — the reference's
    O6 ordering (matcherResultsSort, blockalign.cpp:534-550) made *global*
    instead of per-thread (SURVEY §2.6 notes ours is strictly better).
    """
    alpha, matrix, ka_u, ka_g = _alphabet_params(alphabet)

    if target_index is None:
        target_index = build_kmer_index(targets, k=k, alphabet=alpha)
    # Reference parity note (nucl): nucleotide mode scores with
    # NucleotideMatrix at scale 1.0 (comparekmertables.cpp:135) where the
    # k-score default 225 exceeds any 9-mer self-score (9×2=18) —
    # generateKmerList can never emit, so expansion degenerates to exact
    # matching (build_query_kmers enforces it).
    qk = query_kmers if query_kmers is not None else build_query_kmers(
        queries, k=k, expand_similar=expand_similar,
        kmer_threshold=kmer_threshold, kmer_max_per_pos=kmer_max_per_pos,
        mask=mask, compo_bias=compo_bias, alphabet=alphabet,
    )
    # fused prefilter+collection (round 11): the aligner consumes per-pair
    # k-mer LISTS, so the HAVING count and the list collection run as ONE
    # aggregation — the member-row count window (a full sort of every
    # joined match row) disappears from the cascade
    pairs = prefilter_grouped(qk, target_index, req_kmer_matches=req_kmer_matches)
    # xdrop=None (default) keeps full banded Gotoh — the engine's written
    # divergence decision (operators/align.py DEFAULT_XDROP note); pass
    # align.DEFAULT_XDROP for the reference's frontier termination.
    alignments = align_pairs(
        pairs, queries, targets, k=k, max_evalue=max_evalue,
        alphabet=alpha, matrix=matrix, ka_ungapped=ka_u, ka_gapped=ka_g,
        xdrop=xdrop, db_residues=db_residues,
    )
    return _rank_and_order(alignments, max_seqs)


def search_sharded_layout(
    queries: DataFrame,
    layout_root: str,
    k: int = DEFAULT_K,
    req_kmer_matches: int = DEFAULT_REQ_KMER_MATCHES,
    max_evalue: float = DEFAULT_EVALUE,
    expand_similar: bool = False,
    kmer_threshold: int | None = None,
    kmer_max_per_pos: int | None = None,
    mask: bool = False,
    compo_bias: bool = False,
    alphabet: str = "amino",
    max_seqs: int | None = None,
    xdrop: int | None = None,
    persisted: list | None = None,
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

    spark = queries.sparkSession
    # delta generations (append_sharded_layout): base first, fold order —
    # probes resolve the J2 rule over the pruned union, so a grown layout
    # answers exactly like a full rebuild (tests/test_sharded_delta.py)
    gens = list_layout_generations(layout_root)
    alpha, matrix, ka_u, ka_g = _alphabet_params(alphabet)
    # ONE sidecar read per dataset per probe (round-10 review finding):
    # the index meta also validates build parameters — a probe with a
    # different k or alphabet would join on incompatible kmer codes and
    # return EMPTY results with exit 0, so refuse loudly instead
    # (layouts written before round 10 carry no k/alphabet: no check)
    idx_path = os.path.join(layout_root, "index")
    idx_meta = read_kmer_index_meta(spark, idx_path)
    if idx_meta["k"] is not None and int(idx_meta["k"]) != k:
        raise ValueError(
            f"sharded layout at {layout_root} was built with k={idx_meta['k']}"
            f" but the probe asked k={k} — rebuild the layout or match --k"
        )
    if idx_meta["alphabet"] is not None and idx_meta["alphabet"] != alpha:
        raise ValueError(
            f"sharded layout at {layout_root} was built with alphabet"
            f" {idx_meta['alphabet']!r} but the probe asked {alpha!r} —"
            f" rebuild the layout or match --alphabet"
        )
    qk = build_query_kmers(
        queries, k=k, expand_similar=expand_similar,
        kmer_threshold=kmer_threshold, kmer_max_per_pos=kmer_max_per_pos,
        mask=mask, compo_bias=compo_bias, alphabet=alphabet,
    ).persist()
    if persisted is not None:
        persisted.append(qk)
    idx = read_layout_index_pruned(spark, layout_root, qk, idx_meta=idx_meta, gens=gens)
    # fused form (see search()): grouped pairs also make the candidate-id
    # collect below cheaper — one row per pair instead of per match row
    pairs = prefilter_grouped(qk, idx, req_kmer_matches=req_kmer_matches).persist()
    if persisted is not None:
        persisted.append(pairs)
    candidate_ids = [
        int(r["target_id"]) for r in pairs.select("target_id").distinct().collect()
    ]
    targets, db_residues = read_layout_store_pruned(
        spark, layout_root, candidate_ids, gens=gens
    )
    db_residues = db_residues or 1
    alignments = align_pairs(
        pairs, queries, targets, k=k, max_evalue=max_evalue,
        alphabet=alpha, matrix=matrix, ka_ungapped=ka_u, ka_gapped=ka_g,
        xdrop=xdrop, db_residues=db_residues,
        # the kernel partitions by target_id, so |candidates| bounds its
        # useful width — interactive probes skip the mostly-empty wide
        # stage; large batches saturate to the default (align_pairs doc)
        kernel_parts=len(candidate_ids),
    )
    return _rank_and_order(alignments, max_seqs)


def search_multi_target(
    queries: DataFrame,
    target_sets: list[DataFrame],
    k: int = DEFAULT_K,
    req_kmer_matches: int = DEFAULT_REQ_KMER_MATCHES,
    max_evalue: float = DEFAULT_EVALUE,
    expand_similar: bool = False,
    kmer_threshold: int | None = None,
    kmer_max_per_pos: int | None = None,
    mask: bool = False,
    compo_bias: bool = False,
    alphabet: str = "amino",
    max_seqs: int | None = None,
    xdrop: int | None = None,
    db_residues: int | None = None,
) -> DataFrame:
    """J5: search each target set, UNION ALL the results (§2.7) — the
    reference's per-DB shell-job fan-out + cat (petasearch.sh:42-65).

    FUSED plan (round 11, guide §2.4): where the reference runs one
    process per target DB and round 10 ran one cascade lineage per DB
    (N index aggregations, N prefilter joins, N kernel stages, N
    1-row db_residues cross joins), the per-DB relations here are ONE
    plan keyed by a ``_set`` tag:

    * the query-side k-mer table is built ONCE and persisted (as before
      — pinned by tests/test_search_e2e.py);
    * per-set extraction unions into ONE J2 aggregation grouped by
      (kmer, _set) — exactly N per-set ``build_kmer_index`` relations
      in one exchange (operators.kmer_index.aggregate_kmer_index);
    * ONE prefilter join + grouped aggregation keyed by
      (query, target, _set) — the per-DB HAVING relation verbatim;
    * ONE alignment kernel stage; the Karlin-Altschul ``db_residues``
      differs per DB, so each per-set total rides the rows as a
      broadcast-joined column (align_pairs ``db_residues_col``) and the
      target fetch joins on (target_id, _set) — overlapping sets stay
      legal. E-values are bit-identical to the per-DB runs: same sums,
      same per-pair arithmetic.

    Result parity with N independent ``search`` calls is pinned by
    tests/test_search_e2e.py::test_multi_target_equals_per_target_union.
    Output ordering is the O6 global order (round 11: the old
    union-of-sorted-branches concatenation order was an artifact of the
    branch plans; sorting once is both cheaper and the stronger
    contract).

    ``max_seqs`` here is GLOBAL: the per-query top-k runs ONCE over the
    UNION of all target sets (round-6; what a user of the flag means —
    "my k best hits anywhere"), not within each set. Capping per set
    would return up to ``len(target_sets) * max_seqs`` rows per query
    and, worse, a weak hit from a sparse DB would survive while a
    stronger hit ranked (max_seqs+1)-th in a dense DB was dropped.

    The knobs are ``search()``'s, minus the single-DB ``target_index`` and
    ``query_kmers``; any other keyword raises TypeError rather than
    running the defaults with exit 0."""
    from petasearch_spark.operators.kmer_index import (
        aggregate_kmer_index,
        extract_kmers_arrow,
    )

    alpha, matrix, ka_u, ka_g = _alphabet_params(alphabet)
    qk = build_query_kmers(
        queries, k=k, expand_similar=expand_similar,
        kmer_threshold=kmer_threshold, kmer_max_per_pos=kmer_max_per_pos,
        mask=mask, compo_bias=compo_bias, alphabet=alphabet,
    ).persist()
    # project early (§2.3) — only the columns the cascade touches ride
    # the tagged union
    tagged = None
    tagged_kmers = None
    for i, t in enumerate(target_sets):
        ti = t.select("seq_id", "accession", "sequence").withColumn("_set", F.lit(i))
        ki = extract_kmers_arrow(t, k=k, alphabet=alpha).withColumn("_set", F.lit(i))
        tagged = ti if tagged is None else tagged.unionByName(ti)
        tagged_kmers = ki if tagged_kmers is None else tagged_kmers.unionByName(ki)
    idx = aggregate_kmer_index(tagged_kmers, extra_keys=("_set",))
    pairs = prefilter_grouped(
        qk, idx, req_kmer_matches=req_kmer_matches, extra_keys=("_set",)
    )
    if db_residues is not None:
        pairs = pairs.withColumn("_dbr", F.lit(int(db_residues)).cast("long"))
    else:
        # per-set Karlin-Altschul totals — same greatest(coalesce(sum,1),1)
        # law as align_pairs' lazy single-DB aggregate, one tiny broadcast
        dbrs = tagged.groupBy("_set").agg(
            F.greatest(
                F.coalesce(F.sum(F.length("sequence")), F.lit(1).cast("long")),
                F.lit(1).cast("long"),
            ).alias("_dbr")
        )
        pairs = pairs.join(F.broadcast(dbrs), "_set")
    alignments = align_pairs(
        pairs, queries, tagged, k=k, max_evalue=max_evalue,
        alphabet=alpha, matrix=matrix, ka_ungapped=ka_u, ka_gapped=ka_g,
        xdrop=xdrop, db_residues_col="_dbr", set_col="_set",
    )
    return _rank_and_order(alignments, max_seqs)


def funnel_report(
    queries: DataFrame,
    targets: DataFrame,
    k: int = DEFAULT_K,
    req_kmer_matches: int = DEFAULT_REQ_KMER_MATCHES,
    max_evalue: float = DEFAULT_EVALUE,
    **kwargs,
) -> dict:
    """A4: the reference's runtime funnel counters as a run report.

    Mirrors comparekmertables.cpp:463,495,587,619 (equal k-mers, hit rows,
    rows after HAVING) and blockalign.cpp:465-481 (alignments passed,
    hits/query). Each number is one lazily-planned count over the shared
    lineage — Spark computes them as separate narrow jobs; use for
    diagnostics, not in the hot path."""
    # thread the alphabet into the funnel's own index lineage so
    # nucleotide-mode reports count over the same tables the search uses
    if kwargs.get("alphabet") == "nucl":
        from petasearch_spark.functions.scoring import NUCL_ALPHABET

        alpha = NUCL_ALPHABET
    else:
        from petasearch_spark.functions.kmer import AMINO_ALPHABET

        alpha = AMINO_ALPHABET
    index = build_kmer_index(targets, k=k, alphabet=alpha)
    # the funnel counts the SAME query k-mer table the reported search
    # probes (masking/expansion/nucl degeneration included) — shared
    # construction, not a re-implementation
    qk = build_query_kmers(
        queries, k=k,
        expand_similar=bool(kwargs.get("expand_similar")),
        kmer_threshold=kwargs.get("kmer_threshold"),
        kmer_max_per_pos=kwargs.get("kmer_max_per_pos"),
        mask=bool(kwargs.get("mask")),
        compo_bias=bool(kwargs.get("compo_bias")),
        alphabet=kwargs.get("alphabet", "amino"),
    )
    matches = qk.join(index.select("kmer", F.col("seq_id").alias("target_id")), "kmer")
    pairs = prefilter(qk, index, req_kmer_matches=req_kmer_matches)
    ali = search(queries, targets, target_index=index, k=k,
                 req_kmer_matches=req_kmer_matches, max_evalue=max_evalue,
                 query_kmers=qk, **kwargs)
    n_queries = queries.count()
    report = {
        "query_kmers": qk.count(),
        "index_kmers": index.count(),
        "equal_kmers": matches.count(),
        "prefilter_rows": pairs.count(),
        "prefilter_pairs": pairs.select("query_id", "target_id").distinct().count(),
        "alignments_passed": ali.count(),
        "n_queries": n_queries,
    }
    report["hits_per_query"] = report["alignments_passed"] / max(1, n_queries)
    return report
