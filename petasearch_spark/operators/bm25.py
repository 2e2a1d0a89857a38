"""Full-text keyword retrieval: inverted-index BM25 top-k search.

The reference engine is a similarity search engine over sequence k-mers
(SURVEY §2: extract -> join -> count -> align); BM25 is the text-corpus
analogue of the same funnel — tokenize -> postings join -> score -> top-k —
and is the standard "find the docs about X" query a training-data pipeline
runs constantly (eval-set curation, topic audits, contamination triage).

Plan shape (100 TB): the ONE corpus-sized shuffle builds the posting list
``(term, doc_id, tf, dl)`` — map-side combined groupBy, exactly the k-mer
index build of SURVEY §2.3/T1. Everything query-side is broadcast: the
query-term table (a few rows) prunes the postings with a broadcast
semi-join BEFORE any scoring work, document frequencies for those terms
are a tiny agg, and the final top-k window runs per query over candidate
rows only. Adding queries never re-shuffles the corpus — at deployment
the posting table is the persisted index and each query batch is a
broadcast probe, the same index-once/probe-many economics as the k-mer
table (/root/reference/src/sra/createkmertable.cpp vs
comparekmertables.cpp).

Determinism: tf/df/dl are exact integers; idf uses ln (cross-engine
IEEE-stable, same precedent as tfidf_top_terms); each per-term partial
score is truncated to DECIMAL(28,12) before the per-doc sum so the
reduction is exact integer arithmetic in any partition order (the
unigram_logprob_score pattern); ranking is on the 6-decimal rounded
score with doc_id tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from petasearch_spark.functions.localframe import literal_df

from petasearch_spark.operators.quality import WINDOW_MAX_STARTS
from petasearch_spark.operators.portable import TOKENS_SQL, tokens
from petasearch_spark.sources.tables import load_table
from petasearch_spark.storage import write_bucketed

K1 = 1.2
B = 0.75
TOP_K = 10

#: the standing query workload (query_id -> terms). Terms come from the
#: synthetic corpus vocabulary so every query has real matches at every SF.
QUERIES: dict[str, tuple[str, ...]] = {
    "q_spark": ("spark", "join", "window"),
    "q_storage": ("hash", "table", "scan"),
    "q_stream": ("stream", "batch", "merge"),
    "q_filter": ("customer", "filter"),
}


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} BM25 hits per standing query over ``documents``."""
    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    return bm25_rank(docs, QUERIES)


def bm25_rank(
    docs: DataFrame,
    queries: dict[str, tuple[str, ...]],
    top_k: int = TOP_K,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Core of :func:`bm25_search` over a ``(doc_id, text)`` frame
    (separated so constructed corpora can be ranked in tests).

    ``max_df_frac`` is the standard stopword-pruning knob: query terms
    whose document frequency exceeds this fraction of the corpus are
    dropped BEFORE the postings are probed — a term with df ≈ n_docs has
    idf ≈ 0 (no ranking signal) yet makes every document a scoring
    candidate, which is the one way this plan's cost stops being
    output-bounded at 100 TB. None (default) scores every query term —
    the oracle-exact mode the driver gate checks."""
    posting, doclen = _build_postings(docs)
    # corpus scalars (2 numbers — the same collect precedent as tfidf's N)
    n_docs, total_tokens = doclen.agg(F.count(F.lit(1)), F.sum("dl")).collect()[0]
    return _score_postings(posting, n_docs, total_tokens, queries, top_k, max_df_frac)


def _build_postings(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens) for a ``(doc_id, text)`` frame — the BM25
    index state. Postings are ONE corpus shuffle, map-side combined; dl
    rides along (functionally dependent on doc_id, so it does not widen
    the key). Doclens carry the corpus stats (n_docs, total tokens) so
    an incrementally-maintained index never needs a distinct over the
    postings to recover them."""
    toks = docs.select("doc_id", tokens(F.col("text")).alias("ts"))
    posting = (
        toks.select("doc_id", F.size("ts").cast("long").alias("dl"), F.explode("ts").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return posting, toks.select("doc_id", F.size("ts").cast("long").alias("dl"))


def _score_postings(
    posting: DataFrame,
    n_docs: int,
    total_tokens: int,
    queries: dict[str, tuple[str, ...]],
    top_k: int = TOP_K,
    max_df_frac: float | None = None,
) -> DataFrame:
    """The BM25 scoring rule, stated ONCE for both the inline path
    (:func:`bm25_rank`) and the prebuilt-index probe
    (:func:`bm25_probe_prebuilt`) — identical inputs give cell-identical
    rankings by construction."""
    spark = posting.sparkSession
    # one IEEE division, mirrored in SQL; 1.0 on an empty corpus (no
    # postings exist, so the value never reaches a score — it just keeps
    # the plan constructible)
    avgdl = (total_tokens / n_docs) if n_docs else 1.0

    qterms = literal_df(
        spark,
        [(qid, t) for qid, ts in queries.items() for t in ts],
        "query_id string, term string",
    )
    dft = (
        posting.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    if max_df_frac is not None:
        # prune saturated terms from the QUERY side, before the postings
        # are probed: the candidate join then never materializes their
        # corpus-sized posting lists
        keep = dft.filter(F.col("df") <= F.lit(max_df_frac) * F.lit(float(n_docs)))
        qterms = qterms.join(keep.select("term"), "term")
        dft = keep
    # broadcast semi-prune: only postings for (kept) query terms are scored
    cand = posting.join(F.broadcast(qterms), "term")
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    denom = F.col("tf") + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * (F.col("dl") / F.lit(avgdl)))
    per_term = (idf * (F.col("tf") * F.lit(K1 + 1.0)) / denom).cast("decimal(28,12)")
    scored = (
        cand.join(F.broadcast(dft), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(F.sum(per_term).cast("double"), 6).alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .orderBy("query_id", "rk")
    )


#: term-bucket count for the persisted posting index
POSTINGS_BUCKETS = 16


def write_postings_bucketed(docs: DataFrame, prefix: str, num_buckets: int = POSTINGS_BUCKETS) -> None:
    """Persist the BM25 index state: ``{prefix}_postings`` BUCKETED (and
    per-file sorted) by term, plus ``{prefix}_doclens`` (doc_id, dl).

    Bucketing by term makes every probe-side operation keyed on term —
    the df aggregation and any term-bucketed candidate join — bucket-
    local: NO Exchange above the postings scan (the same layout economics
    as the bucketed k-mer index, kmer_index.write_kmer_index_bucketed).
    The doclens table is bucketed by doc_id through the same writer.
    """
    _write_state(docs, prefix, num_buckets, "overwrite")


def _write_state(docs: DataFrame, prefix: str, num_buckets: int, mode: str) -> None:
    """Write (``mode`` overwrite) or append (``mode`` append) the postings
    and doclens of ``docs`` as the ``prefix`` index tables."""
    posting, doclen = _build_postings(docs)
    write_bucketed(posting, f"{prefix}_postings", "term", num_buckets, mode)
    write_bucketed(doclen, f"{prefix}_doclens", "doc_id", num_buckets, mode)


def merge_postings_delta(
    spark: SparkSession,
    prefix: str,
    delta_docs: DataFrame,
    num_buckets: int = POSTINGS_BUCKETS,
) -> None:
    """Incremental BM25 index maintenance — the fourth member of the
    delta-merge family (kmer_index.merge_kmer_index_delta,
    dedup.merge_dedup_ledger, ivf.merge_ivf_index_delta).

    New documents' doc_ids are disjoint from the base corpus, so a
    posting row never collides: the merge is APPEND-ONLY. The delta's
    postings are built (one shuffle, proportional to the DELTA alone)
    and appended bucket-aligned; base files are never read or rewritten.
    Corpus statistics are NOT frozen at build time — df/avgdl/n_docs are
    recomputed from the merged state at probe time, so scores of OLD
    documents correctly shift as the corpus grows (the property the
    rebuild-equivalence test pins; a stats-frozen index would drift).

    A delta that re-submits an existing doc_id fails loudly — a silent
    append would double that document's postings/doclen rows and inflate
    n_docs/total_tokens, corrupting every later probe score (round-4
    ADVICE). The check is one semi-join of the (small) delta id set
    against the 1-row-per-doc doclens table.

    The delta projection is persisted for the duration of the merge, so
    an expensive delta lineage (a filtered/joined frame) evaluates once
    — not once for the check and once per index write (round-5 review
    finding; the two writes alone re-evaluated it twice before).
    """
    delta = delta_docs.select("doc_id", "text").persist()
    try:
        dup = (
            delta.select("doc_id")
            .join(spark.table(f"{prefix}_doclens"), "doc_id", "left_semi")
            .limit(5)
            .collect()
        )
        if dup:
            ids = sorted(r["doc_id"] for r in dup)
            raise ValueError(
                f"merge_postings_delta: delta doc_ids already present in "
                f"{prefix}_doclens (e.g. {ids}); the merge is append-only — "
                f"re-submitting a document would double its postings"
            )
        _write_state(delta, prefix, num_buckets, "append")
    finally:
        delta.unpersist()


def bm25_probe_prebuilt(
    spark: SparkSession,
    prefix: str,
    queries: dict[str, tuple[str, ...]] = QUERIES,
    top_k: int = TOP_K,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Steady-state BM25 search against the persisted (incrementally
    maintained) index: corpus stats come from the doclens table (1 row
    per doc — never a distinct over the postings), df for the query's
    terms is a bucket-local aggregation over the term-bucketed postings,
    and the scoring rule is byte-identical to the inline path
    (:func:`_score_postings` is shared)."""
    posting = spark.table(f"{prefix}_postings")
    doclen = spark.table(f"{prefix}_doclens")
    n_docs, total_tokens = doclen.agg(F.count(F.lit(1)), F.sum("dl")).collect()[0]
    return _score_postings(posting, n_docs, total_tokens, queries, top_k, max_df_frac)


_QUERY_VALUES = ", ".join(
    f"('{qid}', '{t}')" for qid, ts in QUERIES.items() for t in ts
)

BM25_SQL = f"""
WITH queries(query_id, term) AS (VALUES {_QUERY_VALUES}),
toks AS (SELECT doc_id, {TOKENS_SQL.format(col="text")} AS ts FROM documents),
posting AS (
    SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl, unnest(ts) AS term FROM toks
),
tf AS (
    SELECT doc_id, dl, term, COUNT(*) AS tf FROM posting GROUP BY doc_id, dl, term
),
stats AS (
    SELECT COUNT(*) AS n_docs, CAST(SUM(len(ts)) AS BIGINT) AS total_tokens FROM toks
),
dft AS (
    SELECT term, COUNT(*) AS df FROM tf
    WHERE term IN (SELECT DISTINCT term FROM queries)
    GROUP BY term
),
scored AS (
    SELECT q.query_id, tf.doc_id,
           ROUND(CAST(SUM(CAST(
               ln(1.0 + (CAST(s.n_docs AS DOUBLE) - dft.df + 0.5) / (dft.df + 0.5))
               * (tf.tf * {K1 + 1.0})
               / (tf.tf + {K1} * ({1.0 - B} + {B} * (tf.dl / (CAST(s.total_tokens AS DOUBLE) / s.n_docs))))
           AS DECIMAL(28,12))) AS DOUBLE), 6) AS score,
           COUNT(*) AS n_terms_hit
    FROM tf JOIN queries q USING (term) JOIN dft USING (term) CROSS JOIN stats s
    GROUP BY q.query_id, tf.doc_id
)
SELECT query_id, doc_id, score, n_terms_hit, rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk FROM scored)
WHERE rk <= {TOP_K}
ORDER BY query_id, rk
"""


# --- exact phrase search over a positional inverted index ----------------


#: phrase workload: the first 3 tokens of every 250th document — data-
#: derived so every phrase has at least its own source doc as a match at
#: every SF, and the list stays a handful of rows (broadcast-sized)
PHRASE_SRC_MOD = 250


def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase matching — "find this literal quote" — the retrieval
    primitive BM25's bag-of-words scoring cannot express, and the text
    analogue of the engine's ordered-diagonal constraint (a phrase is a
    run of tokens at CONSECUTIVE positions, like k-mer hits on one
    diagonal; /root/reference/src/sra/blockalign.cpp's diagonal gate).

    Index: positional postings ``(term, doc_id, poss sorted array)`` —
    ONE corpus shuffle with map-side combine, the standard positional
    inverted index (Lucene's proximity data, SURVEY §2.3 T1 economics:
    build once, probe per query batch).

    Query: each phrase term joins the postings through a BROADCAST of the
    phrase table (postings never re-shuffle), then per (phrase, doc) the
    occurrence count is ``|poss0 ∩ (poss1-1) ∩ (poss2-2)|`` — array
    intersections on position lists, no explode of the candidate space.
    The DuckDB oracle recomputes matches through a DIFFERENT formulation
    (token-array window equality) for independence.

    At 100 TB: the phrase table is always tiny (standing queries); work
    is bounded by the probed terms' posting sizes — worst case a phrase
    of stopwords, which the df-cap idea from bm25_rank applies to
    unchanged. Output columns: phrase_id, phrase, doc_id, n_matches."""
    docs = load_table(spark, "documents", sf_dir, widen_scan=True)
    return phrase_rank(docs)


def phrase_rank(docs: DataFrame) -> DataFrame:
    """Core of :func:`phrase_search` over a ``(doc_id, text)`` frame
    (separated so constructed corpora can be probed in tests).
    Match starts are bounded at quality.WINDOW_MAX_STARTS on BOTH
    engines (the oracle's range enumeration is finite by construction;
    the engine slices its token stream to the same horizon — round-5
    audit)."""
    from petasearch_spark.operators.quality import WINDOW_MAX_STARTS

    toked = docs.select(
        "doc_id", F.slice(tokens(F.col("text")), 1, WINDOW_MAX_STARTS + 2).alias("ts")
    )
    postings = (
        toked.select("doc_id", F.posexplode("ts").alias("pos", "term"))
        .groupBy("term", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("poss"))
    )
    phrases = (
        toked.filter((F.col("doc_id") % PHRASE_SRC_MOD == 1) & (F.size("ts") >= 3))
        .select(
            F.col("doc_id").alias("phrase_id"),
            F.concat_ws(" ", F.col("ts")[0], F.col("ts")[1], F.col("ts")[2]).alias("phrase"),
            F.col("ts")[0].alias("w0"),
            F.col("ts")[1].alias("w1"),
            F.col("ts")[2].alias("w2"),
        )
    )
    j0 = postings.join(
        F.broadcast(phrases), postings["term"] == phrases["w0"]
    ).select("phrase_id", "phrase", "doc_id", F.col("poss").alias("p0"))
    j1 = postings.join(
        F.broadcast(phrases.select("phrase_id", "w1")), postings["term"] == F.col("w1")
    ).select("phrase_id", "doc_id", F.col("poss").alias("p1"))
    j2 = postings.join(
        F.broadcast(phrases.select("phrase_id", "w2")), postings["term"] == F.col("w2")
    ).select("phrase_id", "doc_id", F.col("poss").alias("p2"))
    m = j0.join(j1, ["phrase_id", "doc_id"]).join(j2, ["phrase_id", "doc_id"])
    out = m.select(
        "phrase_id",
        "phrase",
        "doc_id",
        F.size(
            F.array_intersect(
                F.array_intersect("p0", F.transform("p1", lambda x: x - 1)),
                F.transform("p2", lambda x: x - 2),
            )
        ).alias("n_matches"),
    )
    return out.filter(F.col("n_matches") > 0).orderBy("phrase_id", "doc_id")


PHRASE_SEARCH_SQL = f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL.format(col="text")} AS t FROM documents)
, phrases AS (
    SELECT doc_id AS phrase_id, t[1] || ' ' || t[2] || ' ' || t[3] AS phrase,
           t[1] AS w0, t[2] AS w1, t[3] AS w2
    FROM toks WHERE doc_id % {PHRASE_SRC_MOD} = 1 AND len(t) >= 3
)
-- independent formulation: slide a 3-token window over every document's
-- token array and match it against the phrase (no postings, no arrays of
-- positions — window equality)
SELECT p.phrase_id, p.phrase, d.doc_id, COUNT(*) AS n_matches
FROM toks d, range(1, {WINDOW_MAX_STARTS + 1}) r(i), phrases p
WHERE i + 2 <= len(d.t)
  AND d.t[i] = p.w0 AND d.t[i+1] = p.w1 AND d.t[i+2] = p.w2
GROUP BY p.phrase_id, p.phrase, d.doc_id
ORDER BY p.phrase_id, d.doc_id
"""
