"""The petasearch engine semantics expressed over the `documents` table —
the same operator chain as the protein pipeline (T1 -> J2 index -> J1 join ->
A1 HAVING), with word-shingles (and char k-mers) standing in for residue
k-mers. These run under the driver's DuckDB correctness gate, so the core
engine join/index semantics are oracle-verified, not just pytest-verified.

* doc_shingle_index  == build_kmer_index (J2: one representative per key —
  longest doc, ties -> smallest id; /root/reference/src/sra/createkmertable.cpp:142-190)
* doc_prefilter      == comparekmertables (J1 equi-join + A1 HAVING count > θ;
  /root/reference/src/sra/comparekmertables.cpp:473-572, 46-67)
* protein_prefilter  == the same with the engine's own k=9 integer k-mer
  path over deterministically derived "protein" sequences; its oracle
  restates it with 9-char window strings in SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from petasearch_spark.functions.localframe import literal_df
from petasearch_spark.operators.portable import shingles_sql, tokens, word_shingles
from petasearch_spark.sources.tables import load_table

REQ_MATCHES = 2  # --req-kmer-matches 2, strict > (LocalParameters.h:144)


def _doc_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """DISTINCT (doc_id, shingle) + doc metadata — with NO shuffle.

    A document's shingle set lives wholly inside its own row, so the
    per-(doc, shingle) DISTINCT is `array_distinct` before the explode,
    not a cluster-wide `.distinct()` (which shuffled the full exploded
    string set — the round-2 doc_shingle_index regression). The token
    array is materialized in its own projection first: higher-order
    functions are evaluated interpreted, per element, and Catalyst does
    not CSE inside lambdas, so an inlined tokens() would re-split the
    text for every element_at probe (O(tokens^2) per doc). Shingle
    starts are bounded like the oracles' range(1, SHINGLE_MAX_TOKENS)
    enumeration — the slice keeps starts + (n-1) trailing tokens so the
    last start matches the SQL bound exactly (round-5 audit)."""
    from petasearch_spark.operators.portable import SHINGLE_MAX_TOKENS

    toked = docs.select(
        "doc_id",
        "n_chars",
        "source",
        F.slice(tokens(F.col("text")), 1, SHINGLE_MAX_TOKENS - 1 + (n - 1)).alias("t"),
    )
    return toked.select(
        "doc_id",
        "n_chars",
        "source",
        F.explode(F.array_distinct(word_shingles(F.col("t"), n))).alias("shingle"),
    )


def doc_shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 index over word 3-shingles: one row per distinct shingle,
    representative = longest doc (n_chars DESC, doc_id ASC), plus the
    number of docs containing it."""
    sh = _doc_shingles(load_table(spark, "documents", sf_dir, widen_scan=True))
    agg = sh.groupBy("shingle").agg(
        F.max_by(
            F.col("doc_id"), F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("rep_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return agg.orderBy("shingle")


DOC_SHINGLE_INDEX_SQL = f"""
WITH {shingles_sql("documents", "doc_id", "text", n=3, extra_cols="n_chars")}
, ranked AS (
    SELECT shingle, doc_id,
           ROW_NUMBER() OVER (PARTITION BY shingle ORDER BY n_chars DESC, doc_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY shingle) AS n_docs
    FROM sh
)
SELECT shingle, doc_id AS rep_doc_id, n_docs
FROM ranked WHERE rn = 1
ORDER BY shingle
"""


def doc_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 + A1 over shingles: docs from source 'src0' are the queries, the
    J2 index over all OTHER docs is the target; keep pairs sharing
    > REQ_MATCHES distinct shingles. Query side broadcast — identical join
    strategy to the protein prefilter."""
    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    sh = _doc_shingles(docs)
    queries = sh.filter(F.col("source") == "src0").select(F.col("doc_id").alias("query_doc"), "shingle")
    targets = sh.filter(F.col("source") != "src0")
    index = targets.groupBy("shingle").agg(
        F.max_by(F.col("doc_id"), F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))).alias("target_doc")
    )
    pairs = F.broadcast(queries).join(index, "shingle", "inner")
    return (
        pairs.groupBy("query_doc", "target_doc")
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .filter(F.col("n_matches") > REQ_MATCHES)
        .orderBy("query_doc", "target_doc")
    )


DOC_PREFILTER_SQL = f"""
WITH {shingles_sql("documents", "doc_id", "text", n=3, extra_cols="n_chars, source")}
, q AS (SELECT doc_id AS query_doc, shingle FROM sh WHERE source = 'src0')
, idx AS (
    SELECT shingle, doc_id AS target_doc
    FROM (SELECT shingle, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY shingle ORDER BY n_chars DESC, doc_id ASC) AS rn
          FROM sh WHERE source <> 'src0')
    WHERE rn = 1
)
SELECT query_doc, target_doc, COUNT(*) AS n_matches
FROM q JOIN idx USING (shingle)
GROUP BY query_doc, target_doc
HAVING COUNT(*) > {REQ_MATCHES}
ORDER BY query_doc, target_doc
"""


# ---------------------------------------------------------------------------
# Derived "protein" sequences: deterministic text -> amino-alphabet mapping so
# the real k=9 pipeline can run (and be oracle-checked) on driver tables.
# a..z cycles through the 20-letter alphabet; everything else is dropped.
_FROM = "abcdefghijklmnopqrstuvwxyz"
_TO = "ACDEFGHIKLMNPQRSTVWYACDEFG"

#: F1 in the SQL oracles: a 9-char window is a k-mer only if every
#: residue is in the 20-letter alphabet — uppercase B/J/O/U/X/Z pass the
#: [^A-Z] derivation scrub but are INVALID residues the integer encoder
#: (operators/kmer_index.extract_kmers_batch) skips
VALID_KMER_SQL = "regexp_matches(kmer, '^[ACDEFGHIKLMNPQRSTVWY]{9}$')"


#: the integer-stable projection every search-family registry entry and
#: the streaming sink share (the float bits/evalue/fident columns are
#: deterministic but bulky; driver hashes pin the integers) — ONE copy,
#: round-10 review finding: three hand-kept lists had already grown
SEARCH_INT_COLS = (
    "query_id", "target_id", "query_accession", "target_accession",
    "raw", "alnlen", "nident", "mismatch", "gapopen",
    "qstart", "qend", "qlen", "tstart", "tend", "tlen",
)

#: the same contract as a DDL string — the streaming sink's typed-empty
#: frame and explicit sink-read schema (streaming/search_stream.py)
SEARCH_INT_SCHEMA = (
    "query_id long, target_id long, query_accession string,"
    " target_accession string, raw int, alnlen int, nident int,"
    " mismatch int, gapopen int, qstart int, qend int, qlen int,"
    " tstart int, tend int, tlen int"
)


def derived_sequences(docs: DataFrame) -> DataFrame:
    """documents -> sequences(seq_id, accession, header, sequence)."""
    seq = F.regexp_replace(F.translate(F.col("text"), _FROM, _TO), "[^A-Z]", "")
    return docs.select(
        F.col("doc_id").alias("seq_id"),
        F.concat(F.lit("doc"), F.col("doc_id")).alias("accession"),
        F.concat(F.lit("doc"), F.col("doc_id"), F.lit(" "), F.col("source")).alias("header"),
        seq.alias("sequence"),
        "source",
    )


DERIVED_SEQ_SQL = f"""
    seqs AS (
        SELECT doc_id AS seq_id,
               regexp_replace(translate(text, '{_FROM}', '{_TO}'), '[^A-Z]', '', 'g') AS sequence,
               source
        FROM documents
    )
"""


def one_rep_idx_cte(src: str) -> str:
    """The J2 one-representative rule as a SQL CTE (longest sequence,
    ties -> lowest id) over a k-mer table ``src(seq_id, seq_len, kmer)``
    — shared by every oracle that restates the index (round-4 review
    finding: the rule must live in ONE place per engine)."""
    return f"""idx AS (
    SELECT kmer, seq_id AS target_id
    FROM (SELECT kmer, seq_id,
                 ROW_NUMBER() OVER (PARTITION BY kmer ORDER BY seq_len DESC, seq_id ASC) AS rn
          FROM {src})
    WHERE rn = 1
)"""


#: the oracle's k-mer tables as SQL — one fragment, two oracles
WINDOW_KMER_CTES_SQL = f"""kmers AS (
    -- positions from the DATA (select-list UNNEST over len(sequence)),
    -- not a range(1, N) constant: the old 8191-start cap silently
    -- truncated the oracle's k-mer set for longer-than-8k sequences
    -- while the engine extracted them all (round-6 fuzz; the
    -- enumeration-cap law, data-derived form)
    -- F1 (round-8): invalid-residue windows are skipped, as in the
    -- integer-kmer engine path — see VALID_KMER_SQL (the wrapper
    -- subquery exists because the window alias from a select-list
    -- UNNEST is not filterable in the same scope)
    SELECT * FROM (
        SELECT seq_id, len(sequence) AS seq_len,
               substr(sequence, UNNEST(range(1, len(sequence) - 7)), 9) AS kmer
        FROM seqs
    ) WHERE {VALID_KMER_SQL}
)
, {one_rep_idx_cte("kmers")}
, qk AS (SELECT seq_id AS query_id, kmer FROM kmers WHERE seq_id % 20 = 0)"""


def _protein_prefilter_inputs(spark: SparkSession, sf_dir: str):
    """The gated k=9 prefilter's two sides over derived sequences, on the
    engine's integer k-mer path: query k-mers of every 20th doc
    (extract_query_kmers) and the J2 index over all docs
    (build_kmer_index). Returns (queries, query k-mers, index)."""
    from petasearch_spark.operators.kmer_index import build_kmer_index, extract_query_kmers

    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    seqs = derived_sequences(docs).drop("source").persist()
    queries = seqs.filter(F.col("seq_id") % 20 == 0)
    return queries, extract_query_kmers(queries), build_kmer_index(seqs)


def protein_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real k=9 prefilter (T1+J2+J1+A1) over derived sequences: the
    same integer k-mer path as dna_prefilter and the cascade. Queries:
    every 20th doc. Targets: all docs. Matches the reference's count>2
    HAVING. The oracle restates it with 9-char window strings (the
    integer encoding is a bijection on valid windows)."""
    from petasearch_spark.operators.prefilter import prefilter_counts

    _, qk, index = _protein_prefilter_inputs(spark, sf_dir)
    return prefilter_counts(qk, index).orderBy("query_id", "target_id")


PROTEIN_PREFILTER_SQL = f"""
WITH {DERIVED_SEQ_SQL}
, {WINDOW_KMER_CTES_SQL}
SELECT query_id, target_id, COUNT(*) AS n_matches
FROM qk JOIN idx USING (kmer)
GROUP BY query_id, target_id
HAVING COUNT(*) > {REQ_MATCHES}
ORDER BY query_id, target_id
"""


def protein_prefilter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 funnel counters under the DuckDB oracle: ONE row with the
    reference's comparekmertables-side reduction counters (query/index/
    equal k-mers, rows and pairs after the strict-> HAVING —
    /root/reference/src/sra/comparekmertables.cpp:463,495,587,616-619)
    over the same integer k-mer frames protein_prefilter gates. The
    oracle recomputes every counter as scalar subqueries over the same
    CTEs, so funnel drift is caught cross-engine at both SFs — on top of
    tests/test_funnel_golden.py's independent scalar enumeration over
    the committed FASTA."""
    queries, qk, index = _protein_prefilter_inputs(spark, sf_dir)
    qk = qk.persist()
    matches = F.broadcast(qk).join(index, "kmer", "inner").persist()
    pair = matches.groupBy("query_id", "seq_id").agg(F.count(F.lit(1)).alias("n"))
    surv = pair.filter(F.col("n") > REQ_MATCHES)
    return (
        qk.agg(F.count(F.lit(1)).alias("query_kmers"))
        .crossJoin(index.agg(F.count(F.lit(1)).alias("index_kmers")))
        .crossJoin(matches.agg(F.count(F.lit(1)).alias("equal_kmers")))
        .crossJoin(
            surv.agg(
                F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("prefilter_rows"),
                F.count(F.lit(1)).alias("prefilter_pairs"),
            )
        )
        .crossJoin(queries.agg(F.count(F.lit(1)).alias("n_queries")))
    )


PROTEIN_PREFILTER_FUNNEL_SQL = f"""
WITH {DERIVED_SEQ_SQL}
, {WINDOW_KMER_CTES_SQL}
, m AS (SELECT query_id, target_id FROM qk JOIN idx USING (kmer))
, pair AS (SELECT query_id, target_id, COUNT(*) AS n FROM m GROUP BY query_id, target_id)
, surv AS (SELECT * FROM pair WHERE n > {REQ_MATCHES})
SELECT (SELECT COUNT(*) FROM qk) AS query_kmers,
       (SELECT COUNT(*) FROM idx) AS index_kmers,
       (SELECT COUNT(*) FROM m) AS equal_kmers,
       (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM surv) AS prefilter_rows,
       (SELECT COUNT(*) FROM surv) AS prefilter_pairs,
       (SELECT COUNT(*) FROM seqs WHERE seq_id % 20 = 0) AS n_queries
"""


# Derived DNA: deterministic text -> nucleotide mapping so the engine's
# DBTYPE_NUCLEOTIDES branch (4-letter codes, N invalid) can run under the
# oracle. a..x cycles through ACGT; y/z become N — a real invalid residue,
# so F1's window-skip rule is exercised in nucleotide mode too.
_DNA_FROM = "abcdefghijklmnopqrstuvwxyz"
_DNA_TO = "ACGTACGTACGTACGTACGTACGTNN"


def derived_dna(docs: DataFrame) -> DataFrame:
    """documents -> nucleotide sequences(seq_id, sequence)."""
    seq = F.regexp_replace(F.translate(F.lower(F.col("text")), _DNA_FROM, _DNA_TO), "[^ACGTN]", "")
    return docs.select(F.col("doc_id").alias("seq_id"), seq.alias("sequence"))


DERIVED_DNA_SQL = f"""
    seqs AS (
        SELECT doc_id AS seq_id,
               regexp_replace(translate(lower(text), '{_DNA_FROM}', '{_DNA_TO}'), '[^ACGTN]', '', 'g') AS sequence
        FROM documents
    )
"""


def dna_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prefilter in NUCLEOTIDE mode (the reference's DBTYPE_NUCLEOTIDES
    branch): the engine's integer-coded path — Arrow k-mer extraction with
    the 4-letter alphabet (N breaks windows, F1), J2 one-representative
    index, J1 equi-join, strict > HAVING — over deterministically derived
    DNA. The oracle re-derives everything with string k-mers in SQL
    (base-4 integer encoding is a bijection on valid windows), which gives
    the nucleotide mode its own green CORRECTNESS row; previously it was
    pytest-only (tests/test_nucleotide.py)."""
    from petasearch_spark.functions.scoring import NUCL_ALPHABET
    from petasearch_spark.operators.kmer_index import build_kmer_index, extract_query_kmers
    from petasearch_spark.operators.prefilter import prefilter_counts

    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    seqs = derived_dna(docs).persist()
    queries = seqs.filter(F.col("seq_id") % 20 == 0)
    # fused count form (round 11): same GROUP BY/HAVING relation as the
    # oracle, without the member-row window sort + re-count
    return prefilter_counts(
        extract_query_kmers(queries, alphabet=NUCL_ALPHABET),
        build_kmer_index(seqs, alphabet=NUCL_ALPHABET),
    ).orderBy("query_id", "target_id")


DNA_PREFILTER_SQL = f"""
WITH {DERIVED_DNA_SQL}
, kmers AS (
    -- positions from the DATA (select-list UNNEST over len(sequence)),
    -- not a range(1, N) constant: the old 8191-start cap silently
    -- truncated the oracle's k-mer set for longer-than-8k sequences
    -- while the engine extracted them all (round-6 fuzz; the
    -- enumeration-cap law, data-derived form)
    SELECT seq_id, len(sequence) AS seq_len,
           substr(sequence, UNNEST(range(1, len(sequence) - 7)), 9) AS kmer
    FROM seqs
)
-- F1: windows containing N (the invalid nucleotide) are skipped
, valid AS (SELECT * FROM kmers WHERE kmer NOT LIKE '%N%')
, {one_rep_idx_cte("valid")}
, qk AS (SELECT seq_id AS query_id, kmer FROM valid WHERE seq_id % 20 = 0)
SELECT query_id, target_id, COUNT(*) AS n_matches
FROM qk JOIN idx USING (kmer)
GROUP BY query_id, target_id
HAVING COUNT(*) > {REQ_MATCHES}
ORDER BY query_id, target_id
"""


def protein_prefilter_bucketed_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-TIME physical layout build for the bucketed prefilter: index and
    query k-mers written bucketBy(kmer)+sortBy via saveAsTable. At a real
    deployment this write amortizes over every subsequent query batch —
    benchmarked separately from the steady-state join (round-2 VERDICT
    item 7: the combined entry misread as 11 s of join cost)."""
    from petasearch_spark.operators.kmer_index import (
        build_kmer_index,
        extract_query_kmers,
        write_kmer_index_bucketed,
        write_query_kmers_bucketed,
    )

    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    seqs = derived_sequences(docs).drop("source").persist()
    queries = seqs.filter(F.col("seq_id") % 20 == 0)
    write_kmer_index_bucketed(build_kmer_index(seqs), "ps_bench_index_b")
    write_query_kmers_bucketed(extract_query_kmers(queries), "ps_bench_qk_b")
    # the writes above are eager; return a trivial catalog listing so the
    # bench's noop sink has something to drain without recomputation
    return literal_df(
        spark, [("ps_bench_index_b",), ("ps_bench_qk_b",)], "table_name string"
    )


def protein_prefilter_bucketed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEADY-STATE bucketed prefilter: the J1 equi-join reading both
    bucketed tables bucket-locally — a sort-merge join with NO Exchange
    above either scan (tests/test_skew_pruning.py pins that plan
    property). This is the per-query-batch cost the 100 TB deployment
    pays; builds the layout first if missing."""
    from petasearch_spark.operators.prefilter import prefilter_counts

    if not spark.catalog.tableExists("ps_bench_qk_b") or not spark.catalog.tableExists("ps_bench_index_b"):
        protein_prefilter_bucketed_build(spark, sf_dir)
    # fused count form (round 11): the bucket-local SMJ is unchanged (no
    # Exchange above either scan — test_skew_pruning pins it); the count
    # now partial-aggregates in the join stage instead of sorting member
    # rows through a window and re-counting
    return prefilter_counts(
        spark.table("ps_bench_qk_b"),
        spark.table("ps_bench_index_b"),
        broadcast_queries=False,  # bucket-local SMJ, not broadcast
    ).orderBy("query_id", "target_id")


def protein_prefilter_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prefilter through the BUCKETED physical layout — the plan the
    100 TB story actually ships (SURVEY §4.2): build + steady-state query
    (split above so the bench can time the one-time write and the
    per-batch join separately). Same integer k-mer path and logical
    output as protein_prefilter, so it shares that query's DuckDB
    oracle."""
    protein_prefilter_bucketed_build(spark, sf_dir)
    return protein_prefilter_bucketed_query(spark, sf_dir)


def _sharded_index_path(sf_dir: str) -> str:
    """Content-keyed staging root for the sharded INTERACTIVE layout
    (same fingerprint convention as the streaming fixture staging — a
    regenerated documents.parquet invalidates the layout). Since round
    10 the root holds TWO datasets: ``index/`` (k-mer shards, kshard
    partitioning) and ``seqs/`` (the sequence store, sshard
    partitioning), each with its own in-directory ``_ps_meta`` sidecar,
    so one atomic publish covers everything an interactive probe needs."""
    import tempfile

    from petasearch_spark.streaming.stateful import source_fingerprint

    fp = source_fingerprint(os.path.join(sf_dir, "documents.parquet"), "sharded-v2")
    return os.path.join(tempfile.gettempdir(), f"ps_sharded_idx_{fp}")


#: shard count for the bench-SF layout: ~190k distinct k-mers at sf0.1
#: -> ~750 rows/shard; at 100 TB you size this so one shard ~ one HDFS
#: block and prune via the same IN filter
SHARDED_NUM_SHARDS = 256


def _build_sharded_layout(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Write the interactive layout (kmer_index.write_sharded_layout)
    over the derived-sequences corpus."""
    from petasearch_spark.operators.kmer_index import write_sharded_layout

    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    write_sharded_layout(
        derived_sequences(docs).drop("source"), out_dir, num_shards=SHARDED_NUM_SHARDS
    )


def _ensure_sharded_layout(spark: SparkSession, sf_dir: str) -> str:
    """Return the published layout root, building it first if absent —
    via the claim-by-rename staging protocol (streaming.stateful.
    staged_cache), so a reader can never observe a half-written layout
    (ADVICE r9: the old bare isdir admission raced a concurrent
    mode=overwrite build)."""
    from petasearch_spark.streaming.stateful import staged_cache

    return staged_cache(
        _sharded_index_path(sf_dir),
        lambda tmp: _build_sharded_layout(spark, sf_dir, tmp),
    )


def protein_prefilter_sharded_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-TIME build of the SHARDED interactive layout (round 9; round
    10 adds the sequence store): directory-partitioned by kmer % 256 so
    a small query batch reads only the shards its k-mers hash to
    (kmer_index.write_kmer_index_sharded). Complements the bucketed
    layout: bucketed = zero-shuffle joins for LARGE query batches;
    sharded = I/O proportional to the QUERY for small/interactive ones
    (the reference's own headline use-case — a few proteins against a
    huge SRA index, README.md:1-3). As a bench entry (k125) this ALWAYS
    performs the full write — staged_cache(force_build=True): built in a
    pid-unique sibling, published by rename only if no complete layout
    is live (discarded otherwise), so the timing stays honest and
    concurrent readers never see a torn overwrite (ADVICE r9)."""
    from petasearch_spark.streaming.stateful import staged_cache

    root = staged_cache(
        _sharded_index_path(sf_dir),
        lambda tmp: _build_sharded_layout(spark, sf_dir, tmp),
        force_build=True,
    )
    return literal_df(spark, [(root,)], "path string")


def _sharded_pruned_pairs(
    spark: SparkSession, root: str, qk, persisted: list | None = None
) -> DataFrame:
    """Shard-pruned prefilter core: ONE persisted query-k-mer frame
    serves both the shard-list collect (the prune mechanism) and the
    probe side of the join (VERDICT r9 item 4 — unpersisted, the
    mapInPandas extraction ran twice). The persist is released by the
    caller's clearCache / session teardown (the plans/search.py
    convention) — or, when ``persisted`` is given (the streaming probe's
    flat-cache contract, streaming/ann_stream.py), tracked there for
    per-batch release."""
    from petasearch_spark.operators.kmer_index import read_layout_index_pruned
    from petasearch_spark.operators.prefilter import prefilter_counts

    qk = qk.persist()
    if persisted is not None:
        persisted.append(qk)
    # generation-aware (append_sharded_layout deltas fold in at probe
    # time); with no deltas this is exactly the old single-scan plan.
    # Both consumers are count queries, so the fused count form applies
    # (round 11): no member-row window sort, map-side partial counts.
    return prefilter_counts(qk, read_layout_index_pruned(spark, root, qk))


def protein_prefilter_sharded_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state prefilter against the sharded layout: shard-pruned
    scan (kmer_index.read_kmer_index_pruned) + broadcast equi-join.
    Output is identical to protein_prefilter (the same integer k-mer
    path), so the combined registry entry shares its DuckDB oracle;
    builds the layout first if missing."""
    from petasearch_spark.operators.kmer_index import extract_query_kmers

    root = _ensure_sharded_layout(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    seqs = derived_sequences(docs).drop("source")
    qk = extract_query_kmers(seqs.filter(F.col("seq_id") % 20 == 0))
    return _sharded_pruned_pairs(spark, root, qk).orderBy("query_id", "target_id")


def protein_prefilter_sharded_probe1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INTERACTIVE shape the sharded layout exists for: ONE query
    probed against the on-disk index — the pruned scan touches only the
    shards this query's ~190 k-mers hash to (bench-only entry; the
    full-batch twin above carries the oracle)."""
    from petasearch_spark.operators.kmer_index import extract_query_kmers

    root = _ensure_sharded_layout(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    seqs = derived_sequences(docs).drop("source")
    qk = extract_query_kmers(seqs.filter(F.col("seq_id") == 0))
    return _sharded_pruned_pairs(spark, root, qk).orderBy("query_id", "target_id")


def protein_prefilter_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prefilter through the SHARDED interactive layout: build +
    shard-pruned query. Logical output is identical to protein_prefilter
    (shares its oracle)."""
    protein_prefilter_sharded_build(spark, sf_dir)
    return protein_prefilter_sharded_query(spark, sf_dir)


def _sharded_search(spark: SparkSession, sf_dir: str, query_pred) -> DataFrame:
    """Interactive END-TO-END search against the on-disk sharded layout
    (VERDICT r9 item 3 — the reference's headline use-case is a few
    proteins vs a huge SRA index, /root/reference/README.md:1-3, run as
    the full pipeline data/petasearch.sh:42-65, not prefilter alone).
    Every corpus-sized input is pruned to the query:

      1. k-mer probe reads only the shards the query's k-mers hash to
         (read_kmer_index_pruned — INSET partition filter);
      2. the candidate ids from the prefilter funnel (bounded by
         queries x candidates, the same bound as the reference's
         max_seqs cap) prune the J4 sequence fetch to their sshard
         directories (read_sequence_store_pruned);
      3. db_residues for the e-value comes from the store's sidecar —
         computed once at build time over the WHOLE corpus, so e-values
         (and hence the funnel) match the batch path exactly.

    Output schema + ordering match protein_search (the batch flagship),
    whose oracle the registry entry shares."""
    root = _ensure_sharded_layout(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    seqs = derived_sequences(docs).drop("source")
    # the query side IS the user's input in the interactive case — tiny
    # by definition; here it is carved out of the corpus so the result
    # is comparable to the batch flagship
    return sharded_search_queries(spark, sf_dir, seqs.filter(query_pred), root=root)


def sharded_search_queries(
    spark: SparkSession,
    sf_dir: str,
    queries: DataFrame,
    root: str | None = None,
    persisted: list | None = None,
) -> DataFrame:
    """The interactive cascade for an ARBITRARY query-sequence frame —
    the core both the batch registry entries and the streaming probe
    (streaming/search_stream.py) run, so the two paths cannot drift.
    ``persisted`` follows the streaming flat-cache contract: every frame
    this call persists is appended there for per-batch release."""
    from petasearch_spark.plans.search import search_sharded_layout

    if root is None:
        root = _ensure_sharded_layout(spark, sf_dir)
    # default knobs = protein_search's (exact mode, no mask, full Gotoh)
    # so the registry twin shares its golden oracle; the CLI reaches the
    # full knob surface through search_sharded_layout directly
    res = search_sharded_layout(queries, root, persisted=persisted)
    return res.select(*SEARCH_INT_COLS)


def protein_search_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full search cascade through the SHARDED interactive layout —
    same query set and output as protein_search (shares its regression
    golden oracle; any drift between the pruned and full-scan paths
    breaks the driver's value hash), but index scan AND sequence fetch
    are partition-pruned to the query (plan-pinned in
    tests/test_skew_pruning.py)."""
    return _sharded_search(spark, sf_dir, F.col("seq_id") % 20 == 0)


def protein_search_sharded_probe1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE query end-to-end against the on-disk layout — the interactive
    latency shape (bench-only entry; the full-batch twin above carries
    the oracle)."""
    return _sharded_search(spark, sf_dir, F.col("seq_id") == 0)


#: the delta twin's corpus split: base = seq_id % 5 != 4 (~80%), one
#: appended generation carries the rest — together exactly the full
#: corpus, so the probe must reproduce protein_search verbatim
_DELTA_SPLIT_MOD, _DELTA_SPLIT_REM = 5, 4


def _sharded_delta_root(sf_dir: str) -> str:
    """Content-keyed staging root for the GROWN layout (base + one
    appended delta generation) — its own key, so the no-delta layout the
    other sharded entries share is never mutated."""
    import tempfile

    from petasearch_spark.streaming.stateful import source_fingerprint

    # v2: delta generations auto-size their fanout (mixed-moduli layout)
    fp = source_fingerprint(os.path.join(sf_dir, "documents.parquet"), "sharded-delta-v2")
    return os.path.join(tempfile.gettempdir(), f"ps_sharded_delta_{fp}")


def _build_sharded_delta_layout(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """base layout over ~80% of the corpus, then ONE append folds in the
    remaining ~20% as a delta generation — the grown-corpus lifecycle
    (write -> append) exercised end to end at build time."""
    from petasearch_spark.operators.kmer_index import (
        append_sharded_layout,
        write_sharded_layout,
    )

    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    seqs = derived_sequences(docs).drop("source")
    arrived = F.col("seq_id") % _DELTA_SPLIT_MOD == _DELTA_SPLIT_REM
    write_sharded_layout(
        seqs.filter(~arrived), out_dir, num_shards=SHARDED_NUM_SHARDS
    )
    append_sharded_layout(spark, out_dir, seqs.filter(arrived))


def protein_search_sharded_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full cascade against a layout GROWN BY APPEND (round 10): the
    base holds ~80% of the corpus, the rest arrives later as one
    append_sharded_layout delta generation — the incremental-ingest
    story the reference lacks entirely (createkmertable is batch-only,
    /root/reference/src/sra/createkmertable.cpp; at 100 TB the corpus
    grows daily and a full rebuild per delta is the cost this path
    removes). The probe re-resolves the J2 representative over the
    pruned union of generations (exact by packed-max associativity) and
    sums the generations' db_residues sidecars for the e-value, so the
    result is protein_search's VERBATIM — same query set, same golden
    oracle; any append-path drift (missed generation, wrong
    representative, residue miscount) breaks the driver's value hash."""
    from petasearch_spark.streaming.stateful import staged_cache

    root = staged_cache(
        _sharded_delta_root(sf_dir),
        lambda tmp: _build_sharded_delta_layout(spark, sf_dir, tmp),
    )
    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    seqs = derived_sequences(docs).drop("source")
    return sharded_search_queries(
        spark, sf_dir, seqs.filter(F.col("seq_id") % 20 == 0), root=root
    )


#: committed golden parquets (regenerate: python scripts/gen_goldens.py)
GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests", "golden",
)


def _expanded_prefilter(spark: SparkSession, sf_dir: str, compo_bias: bool) -> DataFrame:
    """The expansion rows' engine path: the cascade's query side
    (build_query_kmers, expand_similar on) over every 100th derived
    sequence, prefiltered in the fused count form against the full k-mer
    index — the same GROUP BY/HAVING relation as the oracles."""
    from petasearch_spark.operators.kmer_index import build_kmer_index
    from petasearch_spark.operators.prefilter import prefilter_counts
    from petasearch_spark.plans.search import SearchKnobs, build_query_kmers

    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    seqs = derived_sequences(docs).drop("source").persist()
    eqk = build_query_kmers(
        seqs.filter(F.col("seq_id") % 100 == 0),
        SearchKnobs(expand_similar=True, compo_bias=compo_bias),
    )
    return prefilter_counts(eqk, build_kmer_index(seqs)).orderBy(
        "query_id", "target_id"
    )


def protein_expand_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 similar-k-mer expansion under the DuckDB oracle (VERDICT r1 item
    3): the engine path runs the search cascade's own query side
    (plans.search.build_query_kmers with expand_similar — extraction, then
    bound screen + exact top-N at the calibrated --k-score 225 default) ->
    prefilter against the full k-mer index; the oracle derives the exact
    query k-mers in SQL and takes the similar ones from the committed
    expansion golden — generated by tests.golden_tools.brute_expand, an
    independent threshold-pruned enumerator (scripts/gen_goldens.py). A
    green row therefore certifies the engine's expansion set AND the
    expanded join/HAVING semantics end-to-end.

    Queries are every 100th doc (the expansion table stays small); match
    counting includes the reference's duplicate-exact-kmer behavior
    (comparekmertables.cpp:256-275)."""
    return _expanded_prefilter(spark, sf_dir, compo_bias=False)


PROTEIN_EXPAND_PREFILTER_SQL = f"""
WITH {DERIVED_SEQ_SQL}
, kmers AS (
    -- data-derived positions; see WINDOW_KMER_CTES_SQL (round-6 fuzz)
    -- F1 (round-8): the engine side of these ops extracts via the
    -- integer encoder, which SKIPS invalid-residue windows; the oracle
    -- must too — see VALID_KMER_SQL
    SELECT * FROM (
        SELECT seq_id, seq_len, pos, substr(sequence, pos + 1, 9) AS kmer
        FROM (SELECT seq_id, sequence, len(sequence) AS seq_len,
                     UNNEST(range(0, len(sequence) - 8)) AS pos
              FROM seqs)
    ) WHERE {VALID_KMER_SQL}
)
, {one_rep_idx_cte("kmers")}
, qk AS (SELECT seq_id AS query_id, kmer, pos FROM kmers WHERE seq_id % 100 = 0)
, expansion AS (
    -- goldens are tagged by total corpus chars (doc COUNTs collide across
    -- the driver's scale factors: sf0.001 and sf0.01 both have 500 docs)
    SELECT kmer, sim_kmer FROM '{GOLDEN_DIR}/expansion_golden.parquet'
    WHERE corpus_chars = (SELECT SUM(len(text)) FROM documents)
)
-- exact k-mer always probes (comparekmertables.cpp:256-262), similar
-- k-mers from the independently-derived golden (duplicates preserved)
, eqk AS (
    SELECT query_id, kmer, pos FROM qk
    UNION ALL
    SELECT q.query_id, e.sim_kmer AS kmer, q.pos FROM qk q JOIN expansion e USING (kmer)
)
SELECT query_id, target_id, COUNT(*) AS n_matches
FROM eqk JOIN idx USING (kmer)
GROUP BY query_id, target_id
HAVING COUNT(*) > {REQ_MATCHES}
ORDER BY query_id, target_id
"""


def _blosum_values_sql() -> str:
    """BLOSUM62 as a 400-row VALUES list (a CHAR, b CHAR, s INT) — the
    substitution scores the ungapped-rescore oracle joins against."""
    from petasearch_spark.functions.kmer import AMINO_ALPHABET
    from petasearch_spark.functions.scoring import BLOSUM62

    rows = ", ".join(
        f"('{a}','{b}',{int(BLOSUM62[i, j])})"
        for i, a in enumerate(AMINO_ALPHABET)
        for j, b in enumerate(AMINO_ALPHABET)
    )
    return f"blosum(a, b, s) AS (FROM (VALUES {rows}) v(a, b, s) SELECT *)"


def protein_ungapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The alignment cascade's J3+F5+F6 stages under the DuckDB oracle:
    engine k-mer index + prefilter (integer-coded kmers, Arrow kernels)
    feeding operators.align.ungapped_rescore_pairs. The oracle recomputes
    the identical integers (diagonal derivation, proximity gate, per-
    diagonal max-subarray with first-argmax/argmin endpoints) from scratch
    in SQL with window prefix sums — no engine code involved."""
    from petasearch_spark.functions.ordering import sort_via_exchange
    from petasearch_spark.operators.align import ungapped_rescore_pairs
    from petasearch_spark.operators.kmer_index import build_kmer_index, extract_query_kmers
    from petasearch_spark.operators.prefilter import prefilter_grouped

    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    seqs = derived_sequences(docs).drop("source").persist()
    queries = seqs.filter(F.col("seq_id") % 20 == 0)
    # fused grouped form (round 11): the rescore kernel consumes per-pair
    # k-mer lists and sorts diagonals internally — no window sort upstream;
    # sort_via_exchange: the rescore kernel must not re-run for the final
    # sort's RangePartitioner sampling (functions/ordering.py)
    pairs = prefilter_grouped(extract_query_kmers(queries), build_kmer_index(seqs))
    return sort_via_exchange(
        ungapped_rescore_pairs(pairs, queries, seqs), "query_id", "target_id"
    )


PROTEIN_UNGAPPED_SQL = f"""
WITH {DERIVED_SEQ_SQL}
, {_blosum_values_sql()}
, kmers AS (
    -- data-derived positions; see WINDOW_KMER_CTES_SQL (round-6 fuzz)
    -- F1 (round-8): the engine side of these ops extracts via the
    -- integer encoder, which SKIPS invalid-residue windows; the oracle
    -- must too — see VALID_KMER_SQL
    SELECT * FROM (
        SELECT seq_id, seq_len, pos, substr(sequence, pos + 1, 9) AS kmer
        FROM (SELECT seq_id, sequence, len(sequence) AS seq_len,
                     UNNEST(range(0, len(sequence) - 8)) AS pos
              FROM seqs)
    ) WHERE {VALID_KMER_SQL}
)
, {one_rep_idx_cte("kmers")}
, qk AS (SELECT seq_id AS query_id, kmer, pos FROM kmers WHERE seq_id % 20 = 0)
, hits AS (SELECT qk.query_id, idx.target_id, qk.kmer, qk.pos FROM qk JOIN idx USING (kmer))
, pairs AS (
    SELECT * FROM (
        SELECT h.*, COUNT(*) OVER (PARTITION BY query_id, target_id) AS n_matches FROM hits h
    ) WHERE n_matches > {REQ_MATCHES}
)
, tpos AS (SELECT seq_id AS target_id, kmer, MIN(pos) AS tpos FROM kmers GROUP BY 1, 2)
, m AS (
    SELECT p.query_id, p.target_id, p.n_matches, p.pos - t.tpos AS diag
    FROM pairs p JOIN tpos t ON p.target_id = t.target_id AND p.kmer = t.kmer
)
-- F5: >=2 matches within 4 diagonals of each other (over the match
-- multiset, duplicates included — gap 0 passes), blockalign.cpp:61-69
, f5 AS (
    SELECT query_id, target_id FROM (
        SELECT query_id, target_id,
               diag - LAG(diag) OVER (PARTITION BY query_id, target_id ORDER BY diag) AS gap
        FROM m
    ) WHERE gap IS NOT NULL GROUP BY 1, 2 HAVING MIN(gap) <= 4
)
, diags AS (
    SELECT DISTINCT mm.query_id, mm.target_id, mm.n_matches, mm.diag
    FROM m mm JOIN f5 USING (query_id, target_id)
)
, dd AS (
    SELECT d.*, q.sequence AS qseq, t.sequence AS tseq,
           len(q.sequence) AS qlen, len(t.sequence) AS tlen,
           GREATEST(0, -d.diag) AS t_lo,
           LEAST(len(t.sequence), len(q.sequence) - d.diag) AS t_hi
    FROM diags d
    JOIN seqs q ON q.seq_id = d.query_id
    JOIN seqs t ON t.seq_id = d.target_id
)
-- F6 core: substitution score per cell of the diagonal overlap
-- (prune the position range BEFORE looking up scores so the blosum join
-- is a plain hash join, not a lateral nested loop)
, cells0 AS (
    -- data-derived diagonal cells (the enumeration-cap law, round-7:
    -- range(0, 8192) silently truncated a diagonal overlap longer than
    -- 8192 residues — possible once derived sequences exceed 8k chars)
    SELECT query_id, target_id, n_matches, diag, t_lo,
           t_lo + j AS i,
           substr(qseq, t_lo + j + diag + 1, 1) AS qa,
           substr(tseq, t_lo + j + 1, 1) AS ta
    FROM (SELECT dd.*, UNNEST(range(0, dd.t_hi - dd.t_lo)) AS j FROM dd)
)
, cells AS (
    SELECT c.query_id, c.target_id, c.n_matches, c.diag, c.t_lo, c.i, b.s
    FROM cells0 c JOIN blosum b ON b.a = c.qa AND b.b = c.ta
)
-- max-subarray via prefix sums: gain(i) = prefix(i+1) - min(prefix(0..i))
, prefixes AS (
    SELECT *, SUM(s) OVER (PARTITION BY query_id, target_id, diag ORDER BY i
                           ROWS UNBOUNDED PRECEDING) AS cum
    FROM cells
)
, gains AS (
    SELECT *, cum - run_min AS gain FROM (
        SELECT *,
               LEAST(0, COALESCE(MIN(cum) OVER (PARTITION BY query_id, target_id, diag ORDER BY i
                                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS run_min
        FROM prefixes
    )
)
-- first argmax of gain (numpy argmax tie rule), remember min prefix value
, best_per_diag AS (
    SELECT query_id, target_id, n_matches, diag, t_lo,
           gain AS score, i AS e_abs, run_min AS minv
    FROM gains
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id, target_id, diag
                               ORDER BY gain DESC, i ASC) = 1
)
-- first argmin of prefix(0..e): position 0 holds prefix 0
, starts AS (
    SELECT b.query_id, b.target_id, b.diag, MIN(g.i - b.t_lo + 1) AS st1
    FROM best_per_diag b
    JOIN gains g ON g.query_id = b.query_id AND g.target_id = b.target_id
                AND g.diag = b.diag AND g.i < b.e_abs AND g.cum = b.minv
    WHERE b.minv < 0
    GROUP BY 1, 2, 3
)
, scored_diags AS (
    SELECT b.query_id, b.target_id, b.n_matches, b.diag, b.score,
           b.t_lo + b.diag + (CASE WHEN b.minv = 0 THEN 0 ELSE s.st1 END) + 1 AS qstart,
           b.diag + b.e_abs + 1 AS qend,
           COUNT(*) OVER (PARTITION BY b.query_id, b.target_id) AS n_diags
    FROM best_per_diag b
    LEFT JOIN starts s ON s.query_id = b.query_id AND s.target_id = b.target_id AND s.diag = b.diag
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(target_id AS BIGINT) AS target_id,
       CAST(n_matches AS INT) AS n_matches, CAST(n_diags AS INT) AS n_diags,
       CAST(diag AS INT) AS best_diag, CAST(score AS INT) AS best_score,
       CAST(qstart AS INT) AS qstart, CAST(qend AS INT) AS qend
FROM scored_diags
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id, target_id ORDER BY score DESC, diag ASC) = 1
ORDER BY query_id, target_id
"""


def protein_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine end-to-end on derived sequences: index -> prefilter ->
    banded gapped alignment -> e-value filter. The alignment kernel is
    not SQL-derivable, so the oracle replays a committed REGRESSION
    golden (engine-generated, reviewed; scripts/gen_goldens.py) — the
    driver's value hash then pins the whole cascade's integer output.
    INDEPENDENT verification of the cascade: tests/test_search_scalar_twin.py
    re-implements the entire exact-mode pipeline in plain per-cell Python
    and matches the engine's pair set + raw/bits/evalue exactly (committed
    corpus AND randomized indel families); protein_ungapped adds a true
    SQL oracle and tests/test_align.py property-tests the kernel vs full
    SW."""
    from petasearch_spark.plans.search import search

    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    # the sequences table feeds index build, query k-mer extraction, both
    # alignment fetch joins AND the db-residue count — persist so the
    # regexp derivation runs once (at real scale this table is a parquet
    # ingest artifact, persisted by definition)
    seqs = derived_sequences(docs).drop("source").persist()
    queries = seqs.filter(F.col("seq_id") % 20 == 0)
    res = search(queries, seqs)
    # drop the self-hit-dominated float columns that are stable but bulky
    return res.select(*SEARCH_INT_COLS)


PROTEIN_SEARCH_SQL = f"""
SELECT query_id, target_id, query_accession, target_accession,
       raw, alnlen, nident, mismatch, gapopen,
       qstart, qend, qlen, tstart, tend, tlen
FROM '{GOLDEN_DIR}/protein_search_golden.parquet'
WHERE corpus_chars = (SELECT SUM(len(text)) FROM documents)
ORDER BY query_id, target_id
"""


def protein_search_masked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full cascade with T3 masking ON — the reference's DEFAULT
    `--mask 1` (/root/reference/src/sra/comparekmertables.cpp:214-231):
    query sequences are tantan-masked before k-mer extraction, so F1's
    X-window skip suppresses repeat-driven probes; alignment still runs
    over the unmasked residues (as in the reference). ALSO runs the
    reference's x-drop frontier termination (--xdrop 10,
    /root/reference/src/commons/BlockAligner.cpp:60-93) instead of the
    engine's full-Gotoh default — so ONE gated row exercises the
    reference's termination rule end-to-end under the value-hash gate
    (round-3 VERDICT item 4; the golden is generated under the same
    setting). Gated by a committed regression golden like protein_search
    (scripts/gen_goldens.py); T3 itself is independently oracle-checked
    by protein_mask_tantan."""
    from petasearch_spark.operators.align import DEFAULT_XDROP
    from petasearch_spark.plans.search import search

    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    seqs = derived_sequences(docs).drop("source").persist()
    queries = seqs.filter(F.col("seq_id") % 20 == 0)
    res = search(queries, seqs, mask=True, xdrop=DEFAULT_XDROP)
    return res.select(*SEARCH_INT_COLS)


PROTEIN_SEARCH_MASKED_SQL = f"""
SELECT query_id, target_id, query_accession, target_accession,
       raw, alnlen, nident, mismatch, gapopen,
       qstart, qend, qlen, tstart, tend, tlen
FROM '{GOLDEN_DIR}/protein_search_masked_golden.parquet'
WHERE corpus_chars = (SELECT SUM(len(text)) FROM documents)
ORDER BY query_id, target_id
"""


def protein_prefilter_biased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 composition-bias correction under the oracle (the first gated
    query executing compo_bias=True — round-2 VERDICT item 5): expansion
    at the calibrated --k-score 225 where each occurrence's threshold is
    RAISED by its non-positive k-mer bias (effective = max(225 - kbias, 0);
    comparekmertables.cpp:239-253), then prefilter + HAVING. The oracle
    derives exact k-mers in SQL, takes similar k-mers from the committed
    expansion golden (independent enumerator) and the per-(query,pos)
    kbias integers from the committed bias golden — generated by
    tests.golden_tools.composition_bias_scalar, a plain-loop twin
    independent of the numpy cumsum/einsum kernel. Queries every 100th
    doc, reusing the expansion golden's k-mer universe. The engine side is
    the cascade's own query side with compo_bias on
    (plans.search.build_query_kmers)."""
    return _expanded_prefilter(spark, sf_dir, compo_bias=True)


PROTEIN_PREFILTER_BIASED_SQL = f"""
WITH {DERIVED_SEQ_SQL}
, kmers AS (
    -- data-derived positions; see WINDOW_KMER_CTES_SQL (round-6 fuzz)
    -- F1 (round-8): the engine side of these ops extracts via the
    -- integer encoder, which SKIPS invalid-residue windows; the oracle
    -- must too — see VALID_KMER_SQL
    SELECT * FROM (
        SELECT seq_id, seq_len, pos, substr(sequence, pos + 1, 9) AS kmer
        FROM (SELECT seq_id, sequence, len(sequence) AS seq_len,
                     UNNEST(range(0, len(sequence) - 8)) AS pos
              FROM seqs)
    ) WHERE {VALID_KMER_SQL}
)
, {one_rep_idx_cte("kmers")}
, qk AS (SELECT seq_id AS query_id, kmer, pos FROM kmers WHERE seq_id % 100 = 0)
, expansion AS (
    SELECT kmer, sim_kmer, score FROM '{GOLDEN_DIR}/expansion_golden.parquet'
    WHERE corpus_chars = (SELECT SUM(len(text)) FROM documents)
)
, bias AS (
    SELECT query_id, pos, kbias FROM '{GOLDEN_DIR}/bias_golden.parquet'
    WHERE corpus_chars = (SELECT SUM(len(text)) FROM documents)
)
-- exact k-mer always probes regardless of bias (comparekmertables.cpp:
-- 256-262); similar k-mers pass score >= max(225 - kbias, 0), kbias <= 0
, eqk AS (
    SELECT query_id, kmer, pos FROM qk
    UNION ALL
    SELECT q.query_id, e.sim_kmer AS kmer, q.pos
    FROM qk q
    JOIN expansion e USING (kmer)
    LEFT JOIN bias b ON b.query_id = q.query_id AND b.pos = q.pos
    WHERE e.score >= GREATEST(225 - COALESCE(b.kbias, 0), 0)
)
SELECT query_id, target_id, COUNT(*) AS n_matches
FROM eqk JOIN idx USING (kmer)
GROUP BY query_id, target_id
HAVING COUNT(*) > {REQ_MATCHES}
ORDER BY query_id, target_id
"""


def protein_search_expanded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full cascade in the reference's DEFAULT sensitivity mode
    (--exact-kmer-matching 0): expansion -> prefilter -> alignment,
    queries every 100th doc. Gated by a committed regression golden
    (scripts/gen_goldens.py) like protein_search; the expansion table
    itself is independently verified by protein_expand_prefilter."""
    from petasearch_spark.plans.search import search

    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    seqs = derived_sequences(docs).drop("source").persist()
    queries = seqs.filter(F.col("seq_id") % 100 == 0)
    res = search(queries, seqs, expand_similar=True)
    return res.select(*SEARCH_INT_COLS)


PROTEIN_SEARCH_EXPANDED_SQL = f"""
SELECT query_id, target_id, query_accession, target_accession,
       raw, alnlen, nident, mismatch, gapopen,
       qstart, qend, qlen, tstart, tend, tlen
FROM '{GOLDEN_DIR}/protein_search_expanded_golden.parquet'
WHERE corpus_chars = (SELECT SUM(len(text)) FROM documents)
ORDER BY query_id, target_id
"""


# --- full-search build/query bench split ----------------------------------


def _search_index_path(sf_dir: str) -> str:
    """Content-keyed staging root for the full-search bench split's
    prebuilt range index, keyed like _sharded_index_path: a regenerated
    documents.parquet (or another corpus under the same basename) gets
    its own index instead of reading a stale one."""
    import tempfile

    from petasearch_spark.streaming.stateful import source_fingerprint

    fp = source_fingerprint(os.path.join(sf_dir, "documents.parquet"), "search-idx-v1")
    return os.path.join(tempfile.gettempdir(), f"ps_bench_search_idx_{fp}")


def _ensure_search_index(spark: SparkSession, sf_dir: str, force_build: bool = False) -> str:
    """Return the published prebuilt index, building it first if absent
    (or always, with ``force_build``) through the claim-by-rename
    staging protocol (streaming.stateful.staged_cache)."""
    from petasearch_spark.operators.kmer_index import (
        build_kmer_index,
        write_kmer_index,
    )
    from petasearch_spark.streaming.stateful import staged_cache

    def build(tmp: str) -> None:
        docs = load_table(spark, "documents", sf_dir, widen_scan=True)
        write_kmer_index(build_kmer_index(derived_sequences(docs).drop("source")), tmp)

    return staged_cache(_search_index_path(sf_dir), build, force_build=force_build)


def protein_search_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-TIME index build for the full-search bench split: the
    reference ships this as its own workflow step (createkmertable,
    /root/reference/src/sra/createkmertable.cpp) and amortizes it over
    every petasearch invocation — protein_search's single-query bench
    number conflates it with the per-batch cascade cost. As a bench
    entry it ALWAYS performs the full write (staged_cache's
    force_build: published only if no complete index is live)."""
    path = _ensure_search_index(spark, sf_dir, force_build=True)
    return literal_df(spark, [(path,)], "index_path string")


def protein_search_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEADY-STATE full search against the PREBUILT index — the
    per-query-batch cost of the deployed engine (the reference's
    petasearch step reading a stored k-mer table). Output must equal
    protein_search exactly (tests/test_search_e2e.py pins it); builds
    the index first if missing."""
    from petasearch_spark.plans.search import search

    path = _ensure_search_index(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    seqs = derived_sequences(docs).drop("source").persist()
    queries = seqs.filter(F.col("seq_id") % 20 == 0)
    res = search(queries, seqs, target_index=spark.read.parquet(path))
    return res.select(*SEARCH_INT_COLS)


def protein_search_multi_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 multi-target fan-out under bench (round-3 VERDICT item 5): one
    query batch searched against THREE target DBs (the corpus split by
    seq_id % 3 — the reference's per-DB shell-job fan-out,
    /root/reference/data/petasearch.sh:42-65) in the reference's DEFAULT
    sensitivity mode (--exact-kmer-matching 0). Expansion is the
    expensive target-independent stage, so this is the regime where the
    shared query-side k-mer table pays: built+persisted once by
    `search_multi_target`, ~25% faster than three independent searches
    at sf0.1 (`git show 76bb0ba:scripts/round4_scale_smoke.py` measures
    it; compute-once plan pinned in tests/test_search_e2e.py). Queries
    every 100th doc, matching protein_search_expanded."""
    from petasearch_spark.plans.search import search_multi_target

    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    seqs = derived_sequences(docs).drop("source").persist()
    queries = seqs.filter(F.col("seq_id") % 100 == 0)
    targets = [seqs.filter(F.col("seq_id") % 3 == i) for i in range(3)]
    res = search_multi_target(queries, targets, expand_similar=True)
    return res.select(*SEARCH_INT_COLS)


def protein_search_multi_target_maxseqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-target fan-out above with the GLOBAL ``--max-seqs``
    per-query top-k (round-6; the engine-extra flag the reference lacks
    — SURVEY §2.6): the cap ranks ONCE over the union of all three
    target DBs by the O6 ordering, so it measures the one extra
    query-keyed window shuffle the global cap adds on top of the shared
    query-k-mer plan. Semantics (global vs per-DB capping) pinned in
    tests/test_search_e2e.py."""
    from petasearch_spark.plans.search import search_multi_target

    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    seqs = derived_sequences(docs).drop("source").persist()
    queries = seqs.filter(F.col("seq_id") % 100 == 0)
    targets = [seqs.filter(F.col("seq_id") % 3 == i) for i in range(3)]
    res = search_multi_target(queries, targets, expand_similar=True, max_seqs=5)
    return res.select(*SEARCH_INT_COLS)
