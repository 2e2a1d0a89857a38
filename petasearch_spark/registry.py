"""Central query registry: every implemented operator from SURVEY §2 plus
the large-scale-pipeline surface, each mapping to

    (callable(spark, sf_dir) -> DataFrame,  oracle SQL or None)

Consumed by __spark_entry__.py (driver contract) and bench.py.
Oracle SQL strings run under DuckDB with the parquet tables pre-registered
as views; queries whose semantics SQL cannot express (the alignment kernel,
streaming) carry None and get the driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from petasearch_spark.operators import (
    bm25,
    corpus,
    sketches,
    dedup,
    doc_search,
    events,
    ivf,
    layout,
    masking,
    multimodal,
    profile,
    quality,
    relational,
    selection,
    similarity,
    text,
)
from petasearch_spark.sources import csv_events
from petasearch_spark.streaming import (
    events_stream,
    index_ingest_stream,
    ingest_stream,
    search_stream,
    stateful,
)
from petasearch_spark.streaming.ann_stream import (
    ann_ivf_stream_topk as _ann_ivf_stream_topk,
    ann_stream_topk as _ann_stream_topk,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

#: name -> (query fn, oracle SQL | None)
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    # --- relational core (joins, aggs, windows, set-ops, sorts) ---
    "q1_pricing_summary": (relational.q1_pricing_summary, relational.Q1_SQL),
    "q3_shipping_priority": (relational.q3_shipping_priority, relational.Q3_SQL),
    "q4_order_priority": (relational.q4_order_priority, relational.Q4_SQL),
    "q5_local_supplier": (relational.q5_local_supplier, relational.Q5_SQL),
    "parts_without_lineitems": (relational.parts_without_lineitems, relational.PARTS_WITHOUT_LINEITEMS_SQL),
    "top_suppliers_per_nation": (relational.top_suppliers_per_nation, relational.TOP_SUPPLIERS_SQL),
    "repeat_customers": (relational.repeat_customers, relational.REPEAT_CUSTOMERS_SQL),
    "customers_never_ordered": (relational.customers_never_ordered, relational.CUSTOMERS_NEVER_ORDERED_SQL),
    "running_order_totals": (relational.running_order_totals, relational.RUNNING_ORDER_TOTALS_SQL),
    # --- event analytics (time bucketing, sessionization, JSON) ---
    "events_hourly": (events.events_hourly, events.EVENTS_HOURLY_SQL),
    "events_sessionize": (events.events_sessionize, events.EVENTS_SESSIONIZE_SQL),
    "events_json_stats": (events.events_json_stats, events.EVENTS_JSON_SQL),
    "events_rollup": (events.events_rollup, events.EVENTS_ROLLUP_SQL),
    "users_purchase_and_error": (events.users_purchase_and_error, events.USERS_PURCHASE_AND_ERROR_SQL),
    "clean_purchase_days": (events.clean_purchase_days, events.CLEAN_PURCHASE_DAYS_SQL),
    "events_asof_join": (events.events_asof_join, events.EVENTS_ASOF_SQL),
    "events_conversion_funnel": (events.events_conversion_funnel, events.EVENTS_FUNNEL_SQL),
    "events_retention_cohorts": (events.events_retention_cohorts, events.EVENTS_RETENTION_SQL),
    "events_proximity_pairs": (events.events_proximity_pairs, events.EVENTS_PROXIMITY_SQL),
    "events_stream_hourly": (events_stream.events_stream_hourly, events_stream.EVENTS_STREAM_HOURLY_SQL),
    "events_stream_user_totals": (stateful.events_stream_user_totals, stateful.EVENTS_STREAM_USER_TOTALS_SQL),
    "docs_stream_dedup": (stateful.docs_stream_dedup, stateful.DOCS_STREAM_DEDUP_SQL),
    # stream-stream interval join (watermark-bounded state) — the last
    # structured-streaming operator class; batch theta-join oracle
    "events_stream_join": (events_stream.events_stream_purchase_error_join, events_stream.EVENTS_STREAM_JOIN_SQL),
    # --- engine semantics under the oracle (J1/J2/A1 on documents) ---
    "doc_shingle_index": (doc_search.doc_shingle_index, doc_search.DOC_SHINGLE_INDEX_SQL),
    "doc_prefilter": (doc_search.doc_prefilter, doc_search.DOC_PREFILTER_SQL),
    "protein_prefilter": (doc_search.protein_prefilter, doc_search.PROTEIN_PREFILTER_SQL),
    "protein_ungapped": (doc_search.protein_ungapped, doc_search.PROTEIN_UNGAPPED_SQL),
    "protein_expand_prefilter": (doc_search.protein_expand_prefilter, doc_search.PROTEIN_EXPAND_PREFILTER_SQL),
    # same logical output as protein_prefilter via the bucketed layout —
    # shares its oracle; what the 100 TB deployment ships
    "protein_prefilter_bucketed": (doc_search.protein_prefilter_bucketed, doc_search.PROTEIN_PREFILTER_SQL),
    # the INTERACTIVE layout twin (round 9): index sharded by kmer % 256,
    # probe scans only the shards the query k-mers hash to — lookup I/O
    # proportional to the query, not the corpus; same logical output
    "protein_prefilter_sharded": (doc_search.protein_prefilter_sharded, doc_search.PROTEIN_PREFILTER_SQL),
    # the DBTYPE_NUCLEOTIDES branch (4-letter codes, N invalid) under the
    # oracle — string-kmer SQL twin of the engine's base-4 integer path
    "dna_prefilter": (doc_search.dna_prefilter, doc_search.DNA_PREFILTER_SQL),
    # A4 funnel counters as one oracle-checked row (the pytest golden in
    # test_funnel_golden.py additionally pins them vs an independent
    # scalar enumeration on the committed FASTA)
    "protein_prefilter_funnel": (doc_search.protein_prefilter_funnel, doc_search.PROTEIN_PREFILTER_FUNNEL_SQL),
    # T4 composition bias under the gate: expansion thresholds raised by
    # per-(query,pos) kbias from an independent scalar-twin golden
    "protein_prefilter_biased": (doc_search.protein_prefilter_biased, doc_search.PROTEIN_PREFILTER_BIASED_SQL),
    # alignment kernel is not SQL-derivable: oracle = committed regression
    # golden (scripts/gen_goldens.py), value-hash pins the full cascade
    "protein_search": (doc_search.protein_search, doc_search.PROTEIN_SEARCH_SQL),
    # the full cascade through the SHARDED interactive layout (round 10):
    # pruned index scan + pruned sequence fetch + sidecar db_residues —
    # same output as protein_search, so it shares the regression golden;
    # any pruning bug (missed shard, torn meta) breaks the value hash
    "protein_search_sharded": (doc_search.protein_search_sharded, doc_search.PROTEIN_SEARCH_SQL),
    # the cascade against a layout GROWN BY APPEND (LSM delta
    # generations, round 10): base = 80% of the corpus, the rest folded
    # in via append_sharded_layout; probe re-resolves J2 over the pruned
    # union and sums sidecar db_residues — output must be
    # protein_search's verbatim, so it shares the regression golden
    "protein_search_sharded_delta": (doc_search.protein_search_sharded_delta, doc_search.PROTEIN_SEARCH_SQL),
    # the STREAMED form of the same growth: target arrivals folded in
    # per micro-batch (foreachBatch append, replay-safe by the atomic
    # generation claim); probed after the drain it must also reproduce
    # protein_search verbatim
    "protein_index_stream_append": (index_ingest_stream.protein_index_stream_append, doc_search.PROTEIN_SEARCH_SQL),
    "protein_search_expanded": (doc_search.protein_search_expanded, doc_search.PROTEIN_SEARCH_EXPANDED_SQL),
    # the full cascade under the reference's DEFAULT --mask 1: tantan ->
    # F1 suppression -> extract -> align, pinned by a regression golden
    "protein_search_masked": (doc_search.protein_search_masked, doc_search.PROTEIN_SEARCH_MASKED_SQL),
    # P5 profile mode (§7 stretch): derived PSSMs -> argmax consensus ->
    # prefilter, consensus + prefilter fully recomputed by the SQL oracle
    "profile_search_consensus": (profile.profile_search_consensus, profile.PROFILE_SEARCH_CONSENSUS_SQL),
    # profile-vs-profile mode (beyond the reference, whose profile support
    # is query-side only): both sides consensus-reduced, then prefilter
    "profile_vs_profile_prefilter": (profile.profile_vs_profile_prefilter, profile.PROFILE_VS_PROFILE_SQL),
    # T3 isn't SQL-expressible (no backrefs in RE2): oracle replays a
    # golden from an independent scalar masking implementation
    "protein_mask_stats": (masking.protein_mask_stats, masking.PROTEIN_MASK_STATS_SQL),
    # T3 reference parity: REAL tantan (operators/tantan.py) with the
    # reference's invocation constants; golden from the independent
    # scalar transliteration of the tantan loop
    "protein_mask_tantan": (masking.protein_mask_tantan, masking.PROTEIN_MASK_TANTAN_SQL),
    # --- dedup family ---
    "dedup_exact": (dedup.dedup_exact, dedup.DEDUP_EXACT_SQL),
    "dedup_jaccard_pairs": (dedup.dedup_jaccard_pairs, dedup.DEDUP_JACCARD_SQL),
    "dedup_minhash_lsh": (dedup.dedup_minhash_lsh, dedup.DEDUP_MINHASH_SQL),
    "dedup_simhash": (dedup.dedup_simhash, dedup.DEDUP_SIMHASH_SQL),
    "dedup_clusters": (dedup.dedup_clusters, dedup.DEDUP_CLUSTERS_SQL),
    # --- similarity search ---
    "ann_cosine_topk": (similarity.ann_cosine_topk, similarity.ANN_COSINE_TOPK_SQL),
    # streaming twin: query vectors as a 2-batch stream, foreachBatch probe
    # against the static corpus — output (and oracle) = ann_cosine_topk
    "ann_stream_topk": (_ann_stream_topk, similarity.ANN_COSINE_TOPK_SQL),
    # partition-pruned streaming probe of a materialized IVF index —
    # output (and oracle) = ann_ivf_topk
    "ann_ivf_stream_topk": (_ann_ivf_stream_topk, ivf.ANN_IVF_TOPK_SQL),
    "ann_ivf_topk": (ivf.ann_ivf_topk, ivf.ANN_IVF_TOPK_SQL),
    "ann_ivf_filtered_topk": (ivf.ann_ivf_filtered_topk, ivf.ANN_IVF_FILTERED_TOPK_SQL),
    "ann_ivf_kmeans": (ivf.ann_ivf_kmeans, ivf.ANN_IVF_KMEANS_SQL),
    "ann_pq_topk": (ivf.ann_pq_topk, ivf.ANN_PQ_TOPK_SQL),
    # the FAISS-IVFADC composition: coarse buckets + PQ residual codes,
    # ADC scoring with per-(query,bucket) offsets — no corpus shuffle
    "ann_ivfpq_topk": (ivf.ann_ivfpq_topk, ivf.ANN_IVFPQ_TOPK_SQL),
    "semdedup_clusters": (ivf.semdedup_clusters, ivf.SEMDEDUP_CLUSTERS_SQL),
    "phrase_search": (bm25.phrase_search, bm25.PHRASE_SEARCH_SQL),
    "events_value_quantiles": (events.events_value_quantiles, events.EVENTS_VALUE_QUANTILES_SQL),
    # bounded-state decimal-DDSketch quantiles — the continuous-value scale
    # path the exact histogram formulation documents but cannot be
    "events_quantile_sketch": (events.events_quantile_sketch, events.EVENTS_QUANTILE_SKETCH_SQL),
    "embedding_profile": (similarity.embedding_profile, similarity.EMBEDDING_PROFILE_SQL),
    "cm_stream_heavy_hitters": (stateful.cm_stream_heavy_hitters, sketches.CM_HEAVY_HITTERS_SQL),
    # ingest-time quantile sketch — bucket histogram as streaming state;
    # oracle = the batch sketch twin verbatim (counts add commutatively)
    "events_stream_quantiles": (stateful.events_stream_quantiles, events.EVENTS_QUANTILE_SKETCH_SQL),
    "doc_cluster_tfidf": (text.doc_cluster_tfidf, text.DOC_CLUSTER_TFIDF_SQL),
    "events_session_window": (events.events_session_window, events.EVENTS_SESSION_WINDOW_SQL),
    "events_value_outliers": (events.events_value_outliers, events.EVENTS_VALUE_OUTLIERS_SQL),
    "q7_volume_shipping": (relational.q7_volume_shipping, relational.Q7_SQL),
    "q18_large_orders": (relational.q18_large_orders, relational.Q18_SQL),
    "embedding_neardup": (similarity.embedding_neardup, similarity.EMBEDDING_NEARDUP_SQL),
    "embedding_neardup_lsh": (similarity.embedding_neardup_lsh, similarity.EMBEDDING_NEARDUP_LSH_SQL),
    "embedding_quantize_int8": (similarity.embedding_quantize_int8, similarity.EMBEDDING_QUANTIZE_SQL),
    # --- multimodal (binary payload + typed metadata, mapInPandas codecs) ---
    "media_catalog": (multimodal.media_catalog, multimodal.MEDIA_CATALOG_SQL),
    "image_stats": (multimodal.image_stats, multimodal.IMAGE_STATS_SQL),
    "image_resize": (multimodal.image_resize, multimodal.IMAGE_RESIZE_SQL),
    "audio_features": (multimodal.audio_features, multimodal.AUDIO_FEATURES_SQL),
    "video_frame_sample": (multimodal.video_frame_sample, multimodal.VIDEO_FRAME_SAMPLE_SQL),
    # --- corpus curation (sampling / decontamination / packing) ---
    "corpus_sample_stratified": (corpus.corpus_sample_stratified, corpus.CORPUS_SAMPLE_SQL),
    "decontaminate_ngram_overlap": (corpus.decontaminate_ngram_overlap, corpus.DECONTAMINATE_SQL),
    # semantic (embedding-cosine) decontamination: the fuzzy modality the
    # shingle passes cannot see; eval matrix rides inside an Arrow kernel
    "decontaminate_semantic": (corpus.decontaminate_semantic, corpus.DECONTAMINATE_SEMANTIC_SQL),
    # data SELECTION: DSIR importance resampling (hashed uni+bigram log
    # ratio vs a target slice, Laplace-smoothed, deterministic top-K)
    "dsir_importance_sample": (selection.dsir_importance_sample, selection.DSIR_SQL),
    # closed-form hashed-unigram Naive-Bayes classifier (CCNet-style
    # quality/domain filter) -> resubstitution confusion matrix
    "lang_classifier_nb": (selection.lang_classifier_nb, selection.LANG_NB_SQL),
    # training-example assembly: global token prefix-sum via the two-phase
    # distributed scan (bucket subtotals -> driver exclusive scan ->
    # per-bucket windows), oracle = single-window SUM() OVER
    "sequence_packing": (corpus.sequence_packing, corpus.SEQUENCE_PACKING_SQL),
    # fuzzy eval-set decontamination: MinHash LSH candidates (eval bands
    # broadcast) -> exact-Jaccard verify, the near-match complement of the
    # exact n-gram membership test above
    "decontaminate_minhash": (corpus.decontaminate_minhash, corpus.DECONTAMINATE_MINHASH_SQL),
    # the end-to-end curation decision (quality -> exact dedup -> near
    # dedup -> decontamination -> holdout -> sampling) as ONE lazy plan;
    # per-doc stage verdicts, oracle embeds the stage oracles as subqueries
    "corpus_curation_funnel": (corpus.corpus_curation_funnel, corpus.CURATION_FUNNEL_SQL),
    # --- text analysis / retrieval ---
    # inverted-index BM25 top-k: the text analogue of the k-mer funnel
    # (postings build = one corpus shuffle; query side fully broadcast)
    "bm25_search": (bm25.bm25_search, bm25.BM25_SQL),
    "text_quality_stats": (text.text_quality_stats, text.TEXT_QUALITY_SQL),
    "lang_id_heuristic": (text.lang_id_heuristic, text.LANG_ID_SQL),
    "token_count_bpe": (text.token_count_bpe, text.TOKEN_COUNT_SQL),
    # BPE tokenizer TRAINING: word-vocab collapse then n iterative merge
    # rounds; oracle = one chained CTE block per round (same greedy fold)
    "bpe_train_merges": (text.bpe_train_merges, text.BPE_TRAIN_SQL),
    # tokenizer EVALUATION: apply the learned rules back to the corpus,
    # per-source fertility (tokens per word) via one vocab join
    "bpe_fertility": (text.bpe_fertility, text.BPE_FERTILITY_SQL),
    "bpe_encode_corpus": (text.bpe_encode_corpus, text.BPE_ENCODE_SQL),
    "doc_fingerprint": (text.doc_fingerprint, text.DOC_FINGERPRINT_SQL),
    # RAG-corpus chunking: overlapping token windows, portable chunk hash
    "doc_chunk_overlap": (text.doc_chunk_overlap, text.DOC_CHUNK_SQL),
    # KMV distinct sketch: the deterministic (oracle-checkable) sketch —
    # mergeable K-minima over the portable hash, vs exact + rel_error
    "kmv_distinct_tokens": (sketches.kmv_distinct_tokens, sketches.KMV_DISTINCT_SQL),
    "tfidf_top_terms": (text.tfidf_top_terms, text.TFIDF_SQL),
    # --- corpus quality (exact-substring dup coverage, Gopher signals) ---
    "dup_span_coverage": (quality.dup_span_coverage, quality.DUP_SPAN_SQL),
    # exact duplicated-span REMOVAL (Lee et al. 2021): canonical
    # occurrence protected, every other copy cut, rebuilt text hashed
    "dedup_span_removal": (quality.dedup_span_removal, quality.DEDUP_SPAN_REMOVAL_SQL),
    "gopher_quality": (quality.gopher_quality, quality.GOPHER_QUALITY_SQL),
    "unigram_logprob_score": (quality.unigram_logprob_score, quality.UNIGRAM_LOGPROB_SQL),
    # PII scrubbing: regex count + cascading redaction, RE2∩Java pattern
    # subset so both engines compile the same automaton
    "pii_redaction": (text.pii_redaction, text.PII_REDACTION_SQL),
    # C4-style paragraph(block)-level exact dedup: corpus-wide first
    # occurrence wins, docs reconstructed from surviving blocks
    "dedup_blocks": (dedup.dedup_blocks, dedup.DEDUP_BLOCKS_SQL),
    # soft quality filter: deterministic Bernoulli keep with p ∝ score
    "quality_weighted_sample": (corpus.quality_weighted_sample, corpus.QUALITY_WEIGHTED_SAMPLE_SQL),
    # Z-order (Morton) layout key + per-cell min/max pruning stats
    "events_zorder_layout": (layout.events_zorder_layout, layout.EVENTS_ZORDER_SQL),
    # Count-Min heavy hitters: order-independent counters -> exact oracle
    "cm_heavy_hitters": (sketches.cm_heavy_hitters, sketches.CM_HEAVY_HITTERS_SQL),
    # perceptual-hash (dHash) near-dup images: Arrow decode kernel ->
    # 56-bit signature -> pigeonhole band join -> bit_count verify
    "image_phash_dedup": (multimodal.image_phash_dedup, multimodal.IMAGE_PHASH_DEDUP_SQL),
    # Bloom-filter decontamination: eval set folded to a 128 KiB bitset,
    # probe side pure arithmetic — deterministic affine bit positions so
    # even the false positives are engine-identical
    "decontaminate_bloom": (corpus.decontaminate_bloom, corpus.DECONTAMINATE_BLOOM_SQL),
    # integer-exact daily volume anomaly flags (trailing-window spike test)
    "events_anomaly_daily": (events.events_anomaly_daily, events.EVENTS_ANOMALY_SQL),
    # per-column data-quality profile: nulls / exact cardinality / ranges
    # in ONE aggregation pass, unpivoted via an exploded struct array
    "table_profile": (relational.table_profile, relational.TABLE_PROFILE_SQL),
    # deterministic HyperLogLog (md5 registers, integer harmonic sum) —
    # the memory-lean twin of the KMV sketch, same exact oracle
    "hll_distinct_tokens": (sketches.hll_distinct_tokens, sketches.HLL_DISTINCT_SQL),
    # source-weighted data mixing: integer budgets + hash-priority
    # exclusive running sum — the static mixture-construction step
    "mixture_sample": (corpus.mixture_sample, corpus.MIXTURE_SAMPLE_SQL),
    # streaming JSONL ingest with malformed-line quarantine accounting —
    # the continuous twin of sources/jsonl.py, same from_json expression
    "docs_stream_ingest": (ingest_stream.docs_stream_ingest, ingest_stream.DOCS_STREAM_INGEST_SQL),
    # CSV events ingest: read.text + from_csv so the corrupt record is an
    # ordinary quarantine column; planted bad-value rows, arithmetic oracle
    "events_csv_ingest": (csv_events.events_csv_ingest, csv_events.EVENTS_CSV_INGEST_SQL),
    # long->wide PIVOT with an explicit value list (one conditional-agg
    # shuffle; never the value-inferring extra scan)
    "events_type_pivot": (events.events_type_pivot, events.EVENTS_TYPE_PIVOT_SQL),
    # FILTERED vector search: label predicate pushed into the parquet
    # scan (exact, recall-lossless — not post-filtered top-k)
    "ann_filtered_topk": (similarity.ann_filtered_topk, similarity.ANN_FILTERED_TOPK_SQL),
    # SAX motif discovery (Lin et al. 2003): rank-based 8-day windows ->
    # 4x2-day exact-decimal PAA -> equal-width 4-letter words -> top-25
    "events_sax_motifs": (events.events_sax_motifs, events.EVENTS_SAX_MOTIFS_SQL),
    # the wide->long inverse: native unpivot/stack melt (zero-shuffle
    # projection; the pivot's agg is the only shuffle in the round trip)
    "events_type_unpivot": (events.events_type_unpivot, events.EVENTS_TYPE_UNPIVOT_SQL),
    # round 10: streaming interactive search — query documents as a
    # stream, each micro-batch through the SAME pruned cascade as the
    # batch sharded entry (one code path), idempotent per-batch sink;
    # union over batches == batch answer, so the oracle is
    # protein_search's verbatim
    "protein_search_stream": (search_stream.protein_search_stream, doc_search.PROTEIN_SEARCH_SQL),
}


#: The driver's correctness gate hashes exactly the FIRST 50 queries()
#: entries (CORRECTNESS_r0N truncates at 50). Round 2 registered 54 and
#: silently lost hard-signal coverage for the overflow (VERDICT r2 item 1).
#: Fix: the driver sees an EXPLICIT <=50 subset; the entries below stay in
#: REGISTRY — same DuckDB comparison via tests/test_oracle_parity.py, and
#: bench.py still times them — but yield their driver slot to a
#: non-redundant query. Each carries its redundancy rationale.
UNGATED: dict[str, str] = {
    # --- round-9 second-lifetime rotation (VERDICT r8 item 2): the 11
    # rows whose ONLY gate tenure was rounds 1-2 (q4_order_priority,
    # parts_without_lineitems, customers_never_ordered, token_count_bpe,
    # lang_id_heuristic, media_catalog, image_resize,
    # embedding_quantize_int8, events_stream_hourly, protein_mask_stats,
    # protein_prefilter_bucketed) rotate back IN — their last independent
    # driver hash predates six rounds of shared-kernel change (portable
    # hash, admission laws, the F1 valid-run split). Their former
    # rationales are superseded by the staleness argument; the 11 slots
    # come from the three-green-round [6,7,8] cohort below.
    # --- round-6 gate rotation (VERDICT r5 item 1): the 15 entries below
    # were driver-hash-green for 3+ consecutive rounds (most since round
    # 1); each yields its slot to a never-gated round-4/5 entry so the
    # driver's independent rows+schema+hash check finally covers that
    # surface (bpe_train_merges, bpe_encode_corpus, dsir_importance_sample,
    # lang_classifier_nb, events_sax_motifs, dedup_span_removal,
    # events_csv_ingest, decontaminate_minhash, events_quantile_sketch,
    # events_value_quantiles, ann_ivfpq_topk, ann_ivf_filtered_topk,
    # corpus_curation_funnel, pii_redaction, events_asof_join). All 15
    # keep full DuckDB parity at sf0.001 AND the gate SF in
    # tests/test_oracle_parity.py.
    # --- round-7 gate rotation (VERDICT r6 item 1): the 15 entries below
    # were driver-hash-green for 5-6 consecutive rounds (all since round 1
    # or 2); each yields its slot to a never-gated entry so the driver's
    # independent rows+schema+hash check finally covers that surface
    # (profile_vs_profile_prefilter, phrase_search, kmv_distinct_tokens,
    # hll_distinct_tokens, table_profile, doc_chunk_overlap,
    # mixture_sample, quality_weighted_sample, image_phash_dedup,
    # events_anomaly_daily, events_type_unpivot, decontaminate_bloom,
    # dedup_blocks, embedding_profile, semdedup_clusters). All 15 keep
    # full DuckDB parity at sf0.001 AND the gate SF in
    # tests/test_oracle_parity.py. Never-gated backlog after this
    # rotation: 20 of 112.
    "q3_shipping_priority": (
        "rotated out round 7 after 6 green rounds; its join+date-predicate+"
        " top-N class stays gated via q1_pricing_summary (scan/agg) and"
        " top_suppliers_per_nation (join + window rank), and the newly gated"
        " table_profile adds a fresh relational hash row"
    ),
    "events_hourly": (
        "rotated out round 7 after 6 green rounds; the time-bucket"
        " conditional-aggregation class stays gated via events_sessionize and"
        " the newly gated events_anomaly_daily/events_type_unpivot rows ride"
        " the same daily-series machinery"
    ),
    "doc_shingle_index": (
        "rotated out round 7 after 6 green rounds; the J2 one-representative"
        " index build is embedded verbatim in the gated protein_prefilter and"
        " dna_prefilter rows (their index side IS this operator's core), and"
        " the 1M-seq smoke asserts the hot-key collapse at scale"
    ),
    "protein_ungapped": (
        "rotated out round 7 after 6 green rounds; the J3/O4/F5-F8 diag"
        " machinery is pinned end-to-end by the gated protein_search /"
        " protein_search_masked cascade rows (whose value hashes cover the"
        " ungapped rescore stage) and by the scalar-twin goldens in pytest"
    ),
    "protein_expand_prefilter": (
        "rotated out round 7 after 6 green rounds; the T2 similar-kmer"
        " enumeration stays gated via protein_prefilter_biased (the SAME"
        " enumerator with bias-raised thresholds, rotated in round 6) and"
        " keeps its independent-enumerator golden in pytest"
    ),
    "dedup_exact": (
        "rotated out round 7 after 6 green rounds; the hash-groupBy"
        " keep-smallest class stays gated via dedup_minhash_lsh (which embeds"
        " exact-group collapse before banding) and the newly gated"
        " dedup_blocks (block-level exact dedup, the harder reconstruction)"
    ),
    "ann_cosine_topk": (
        "rotated out round 7 after 6 green rounds; the brute-force cosine"
        " core stays gated via ann_ivf_topk / ann_ivfpq_topk /"
        " ann_ivf_filtered_topk (whose verify stages recompute the same"
        " cosine) and the NaN-first ranking law is pinned in pytest"
    ),
    "ann_ivf_kmeans": (
        "rotated out round 7 after 6 green rounds; the Lloyd-iteration"
        " decimal-recenter machinery is embedded in the gated ann_ivfpq_topk"
        " (coarse quantizer) and the newly gated semdedup_clusters"
        " (centroid-bucketed clustering)"
    ),
    "ann_pq_topk": (
        "rotated out round 7 after 6 green rounds; the PQ codebook/ADC"
        " machinery stays gated via ann_ivfpq_topk (the same subspace"
        " codebooks composed with coarse buckets — the strictly harder row)"
    ),
    "image_stats": (
        "rotated out round 7 after 6 green rounds; the mapInPandas"
        " opaque-binary decode class stays gated via the newly gated"
        " image_phash_dedup (same decode kernel + signature + band join) and"
        " media_catalog (the metadata surface)"
    ),
    "corpus_sample_stratified": (
        "rotated out round 7 after 6 green rounds; the deterministic"
        " md5-Bernoulli sampling family stays gated via the newly gated"
        " quality_weighted_sample and mixture_sample rows (same hash-filter"
        " machinery plus score weighting / integer budgets)"
    ),
    "decontaminate_ngram_overlap": (
        "rotated out round 7 after 6 green rounds; eval-set decontamination"
        " stays gated via decontaminate_minhash (fuzzy) and the newly gated"
        " decontaminate_bloom (whose flag set is asserted a superset of this"
        " exact-membership test in tests/test_corpus.py)"
    ),
    "text_quality_stats": (
        "rotated out round 7 after 6 green rounds; the tokenize/ratio"
        " machinery stays gated via gopher_quality (the harder multi-signal"
        " row) and lang_classifier_nb (gated round 6) rides the same"
        " tokenizer; full DuckDB parity at both SFs stays in pytest"
    ),
    "bm25_search": (
        "rotated out round 7 after 6 green rounds; the postings/idf/ranking"
        " machinery stays gated via the newly gated phrase_search (same"
        " postings build + the harder positional-intersection verify)"
    ),
    "dup_span_coverage": (
        "rotated out round 7 after 6 green rounds; the window-hash span"
        " machinery stays gated via dedup_span_removal (rotated in round 6 —"
        " the same spans plus canonical-occurrence removal and text rebuild)"
    ),
    # --- round-8 gate rotation (VERDICT r7 item 1): the 20 entries below
    # were the longest-stable driver-hash-green rows (mostly green since
    # round 1); each yields its slot so the FINAL 20 never-gated registry
    # entries get their first independent driver rows+schema+hash row
    # (events_conversion_funnel, events_retention_cohorts,
    # events_proximity_pairs, events_stream_join, ann_stream_topk,
    # ann_ivf_stream_topk, cm_stream_heavy_hitters, events_stream_quantiles,
    # doc_cluster_tfidf, events_session_window, events_value_outliers,
    # q7_volume_shipping, q18_large_orders, decontaminate_semantic,
    # bpe_fertility, events_zorder_layout, cm_heavy_hitters,
    # docs_stream_ingest, events_type_pivot, ann_filtered_topk). After this
    # rotation every one of the 112 registered queries has held a gate slot
    # at least once (GATE_LEDGER below; asserted in
    # tests/test_gate_ledger.py). The flagship search cascade keeps its
    # pins: protein_search, protein_search_masked, protein_prefilter stay
    # gated. All 20 keep full DuckDB parity at sf0.001 AND the gate SF in
    # tests/test_oracle_parity.py.
    "q1_pricing_summary": (
        "rotated out round 8 after 7 green rounds; the scan/aggregate class"
        " stays gated via the incoming q7_volume_shipping and q18_large_orders"
        " relational rows and table_profile's full-table aggregate row"
    ),
    "top_suppliers_per_nation": (
        "rotated out round 8 after 7 green rounds; the join + window-rank"
        " class stays gated via q7_volume_shipping (multi-role dimension join)"
        " and doc_cluster_tfidf (rank-per-group assignment)"
    ),
    "events_sessionize": (
        "rotated out round 8 after 7 green rounds; sessionization stays gated"
        " via the incoming events_session_window (the native session_window"
        " twin whose exact-gap merge boundary is additionally pinned in"
        " tests/test_events_extra.py)"
    ),
    "clean_purchase_days": (
        "rotated out round 8 after 7 green rounds; §2.7 set-op semantics keep"
        " pytest parity at both SFs and the event-day machinery stays gated"
        " via events_conversion_funnel / events_retention_cohorts"
    ),
    "events_stream_user_totals": (
        "rotated out round 8 after 7 green rounds; custom stateful streaming"
        " stays gated via the incoming cm_stream_heavy_hitters +"
        " events_stream_quantiles (the same applyInPandasWithState machinery"
        " with harder merge laws) and the kill/recover e2e pins its"
        " checkpoint semantics"
    ),
    "docs_stream_dedup": (
        "rotated out round 8 after 7 green rounds; streaming dedup state"
        " stays pinned by the kill/recover e2e and the incoming"
        " docs_stream_ingest gates the streaming-ingest surface"
    ),
    "dedup_minhash_lsh": (
        "rotated out round 8 after 7 green rounds; the band-bucket LSH join"
        " class keeps pytest parity at both SFs plus the 200k recall smoke;"
        " block-level dedup stays gated via dedup_blocks (rotated in round 7)"
    ),
    "ann_ivf_topk": (
        "rotated out round 8 after 7 green rounds; the IVF probe is gated"
        " via ann_ivfpq_topk / ann_ivf_filtered_topk (supersets of the same"
        " bucket-pruned probe) and the incoming ann_ivf_stream_topk, whose"
        " output (and oracle) is exactly this query's"
    ),
    "embedding_neardup": (
        "rotated out round 8 after 7 green rounds; the brute-force cosine"
        " pair kernel stays gated via semdedup_clusters + embedding_profile"
        " (rotated in round 7) and the incoming ann_stream_topk's cosine core"
    ),
    "dna_prefilter": (
        "rotated out round 8 after 6 green rounds; the DBTYPE_NUCLEOTIDES"
        " branch keeps its base-4 encode unit/property coverage and the J1"
        " equi-join + A1 HAVING class keeps its flagship protein_prefilter"
        " gate row"
    ),
    "protein_mask_tantan": (
        "rotated out round 8 after 6 green rounds; T3 reference parity stays"
        " gated END TO END via protein_search_masked (tantan -> F1"
        " suppression -> extract -> align, value-hash pinned) and the scalar"
        " transliteration golden stays in pytest"
    ),
    "gopher_quality": (
        "rotated out round 8 after 5 green rounds; the multi-signal quality"
        " ratio machinery keeps pytest parity at both SFs; the per-doc scalar"
        " class stays gated via pii_redaction + lang_classifier_nb"
    ),
    "profile_search_consensus": (
        "rotated out round 8 after 5 green rounds; P5 stays gated via"
        " profile_vs_profile_prefilter (rotated in round 7 — the superset:"
        " BOTH sides consensus-reduced through the same argmax kernel)"
    ),
    "protein_prefilter_biased": (
        "rotated out round 8 after 5 green rounds; T4 keeps its"
        " independent scalar-twin bias golden in pytest and the expansion"
        " machinery keeps its enumerator golden; the prefilter class keeps"
        " its flagship protein_prefilter gate row"
    ),
    "sequence_packing": (
        "rotated out round 8 after 5 green rounds; the two-phase distributed"
        " prefix-sum packer keeps pytest parity at both SFs; the corpus"
        " sampling family stays gated via quality_weighted_sample +"
        " mixture_sample (rotated in round 7)"
    ),
    "unigram_logprob_score": (
        "rotated out round 8 after 5 green rounds; the broadcast-model"
        " scoring class stays gated via dsir_importance_sample +"
        " lang_classifier_nb (same log-arithmetic determinism convention)"
    ),
    "protein_prefilter_funnel": (
        "rotated out round 8 after 3 green rounds; the A4 counters stay"
        " pinned EXACTLY vs the independent plain-Python enumeration in"
        " tests/test_funnel_golden.py and the funnel's inputs ride the gated"
        " protein_prefilter / protein_search rows"
    ),
    "events_quantile_sketch": (
        "rotated out round 8 after 2 green rounds; the incoming"
        " events_stream_quantiles shares this query's DuckDB oracle VERBATIM"
        " (bucket counts add commutatively, so the stream-built histogram"
        " must equal the batch sketch exactly) — the identical output stays"
        " under the driver hash via the harder streaming path"
    ),
    "events_value_quantiles": (
        "rotated out round 8 after 2 green rounds; exact-integer DDSketch"
        " bucketing keeps pytest parity at both SFs; the value-distribution"
        " family stays gated via events_value_outliers (independent"
        " row_number oracle over the same value column)"
    ),
    "events_csv_ingest": (
        "rotated out round 8 after 2 green rounds; the corrupt-record"
        " quarantine/accounting design stays gated via the incoming"
        " docs_stream_ingest (same planted-malformed accounting oracle over"
        " a real 2-micro-batch run)"
    ),
    # --- round-9 rotation OUT: 11 of the 12 rows green for rounds 6-8
    # yield their slots to the second-lifetime cohort above (VERDICT r8
    # item 2). corpus_curation_funnel keeps its slot (the composed
    # end-to-end curation decision — the strongest single hash row of the
    # pipeline family) alongside the pinned protein_search /
    # protein_search_masked / protein_prefilter flagships. All 11 keep
    # full DuckDB parity at sf0.001 AND the gate SF in
    # tests/test_oracle_parity.py.
    "events_asof_join": (
        "rotated out round 9 after 3 green rounds; the temporal-correlation"
        " join class stays gated via events_proximity_pairs (self-join within"
        " a time bound) and events_stream_join (the watermark-bounded"
        " stream-stream interval join over the same events)"
    ),
    "ann_ivf_filtered_topk": (
        "rotated out round 9 after 3 green rounds; the filtered-probe class"
        " stays gated via ann_filtered_topk (the pushed-predicate exact path)"
        " and the IVF bucket-pruned probe keeps its ann_ivf_stream_topk gate"
        " row (identical output to ann_ivf_topk by construction)"
    ),
    "ann_ivfpq_topk": (
        "rotated out round 9 after 3 green rounds; the IVF coarse probe stays"
        " gated via ann_ivf_stream_topk and the PQ codebook/ADC arithmetic"
        " keeps its constructed-input pins in tests/test_pq.py plus DuckDB"
        " parity at both SFs"
    ),
    "dsir_importance_sample": (
        "rotated out round 9 after 3 green rounds; the broadcast-model"
        " log-ratio scoring class keeps pytest parity at both SFs and shares"
        " its hashed-ngram machinery with the incoming lang_id_heuristic and"
        " token_count_bpe gate rows"
    ),
    "lang_classifier_nb": (
        "rotated out round 9 after 3 green rounds; the hashed-unigram NB"
        " machinery keeps pytest parity; the tokenizer/confusion-matrix"
        " surface is gated via the incoming lang_id_heuristic row"
    ),
    "decontaminate_minhash": (
        "rotated out round 9 after 3 green rounds; eval-set decontamination"
        " stays gated via decontaminate_semantic (fuzzy embedding modality)"
        " and decontaminate_bloom (membership modality); the MinHash banding"
        " machinery keeps its pytest parity + the 200k recall smoke"
    ),
    "bpe_train_merges": (
        "rotated out round 9 after 3 green rounds; the trained-merges surface"
        " stays gated via bpe_fertility (which applies the same learned rules"
        " back to the corpus — a fertility drift implies a training drift)"
    ),
    "bpe_encode_corpus": (
        "rotated out round 9 after 3 green rounds; the greedy merge-fold"
        " encoder is embedded in the gated bpe_fertility row (same vocab join"
        " + fold) and keeps DuckDB parity at both SFs in pytest"
    ),
    "dedup_span_removal": (
        "rotated out round 9 after 3 green rounds; the window-hash span"
        " machinery keeps pytest parity at both SFs plus the 1M-doc/60M-window"
        " smoke record; block-level exact dedup reconstruction stays gated via"
        " dedup_blocks"
    ),
    "pii_redaction": (
        "rotated out round 9 after 3 green rounds; the RE2∩Java regex cascade"
        " keeps pytest parity at both SFs; the per-doc scalar text class stays"
        " gated via the incoming token_count_bpe / lang_id_heuristic rows"
    ),
    "events_sax_motifs": (
        "rotated out round 9 after 3 green rounds; the daily-series rank/PAA"
        " machinery stays gated via events_anomaly_daily (same day grid) and"
        " the SAX word construction keeps its exact-decimal pytest parity"
    ),
    # --- round-10 rotation (VERDICT r9 item 2): protein_prefilter_sharded
    # takes its first gate slot (PENDING_FIRST_GATE debt from round 9) and
    # the 16 rows whose last gate tenure is <= round 5 rotate back IN for
    # a second-lifetime hash (q5_local_supplier r4; audio_features,
    # dedup_clusters, dedup_jaccard_pairs, dedup_simhash, doc_fingerprint,
    # doc_prefilter, embedding_neardup_lsh, events_json_stats,
    # events_rollup, protein_search_expanded, repeat_customers,
    # running_order_totals, tfidf_top_terms, users_purchase_and_error,
    # video_frame_sample r5) — their last independent driver hash predates
    # the portable-hash, admission-law, and F1 valid-run-split changes.
    # The 17 slots come from the fifteen [7,8,9] three-green-round rows
    # plus q7_volume_shipping / q18_large_orders (the relational class
    # regains four fresh rows via this same rotation). The flagship
    # search cascade (protein_search, protein_search_masked,
    # protein_prefilter) and corpus_curation_funnel stay pinned. All 17
    # rotated-out rows keep full DuckDB parity at sf0.001 AND the gate SF
    # in tests/test_oracle_parity.py.
    "profile_vs_profile_prefilter": (
        "rotated out round 10 after 3 green rounds; P5 consensus-reduction"
        " keeps its argmax-kernel unit pins and the profile family's scalar"
        " goldens in pytest; the prefilter join class keeps its flagship"
        " protein_prefilter gate row"
    ),
    "semdedup_clusters": (
        "rotated out round 10 after 3 green rounds; centroid-bucketed"
        " clustering machinery stays gated via the returning dedup_clusters"
        " (min-label CC) and the embedding pair kernel via the returning"
        " embedding_neardup_lsh"
    ),
    "phrase_search": (
        "rotated out round 10 after 3 green rounds; the postings build +"
        " positional-intersection verify keeps pytest parity at both SFs;"
        " the idf/ranking family regains a fresh row via the returning"
        " tfidf_top_terms"
    ),
    "embedding_profile": (
        "rotated out round 10 after 3 green rounds; the per-dimension"
        " aggregate class keeps pytest parity; the embedding family stays"
        " gated via embedding_quantize_int8 and the returning"
        " embedding_neardup_lsh"
    ),
    "doc_chunk_overlap": (
        "rotated out round 10 after 3 green rounds; the window-hash span"
        " machinery keeps pytest parity at both SFs plus the 1M-doc smoke"
        " record; the shingle/fingerprint class regains a fresh row via the"
        " returning doc_fingerprint"
    ),
    "kmv_distinct_tokens": (
        "rotated out round 10 after 3 green rounds; the KMV estimator keeps"
        " its exact-threshold pytest parity; the distinct-count sketch class"
        " stays covered in pytest via hll_distinct_tokens (rotated out with"
        " it) and both keep parity at the gate SF"
    ),
    "dedup_blocks": (
        "rotated out round 10 after 3 green rounds; block-level exact dedup"
        " reconstruction keeps pytest parity at both SFs; the dedup family"
        " regains three fresh gate rows via the returning dedup_clusters /"
        " dedup_jaccard_pairs / dedup_simhash"
    ),
    "quality_weighted_sample": (
        "rotated out round 10 after 3 green rounds; the md5-Bernoulli"
        " weighted-sampling family stays gated via mixture_sample's sibling"
        " history and keeps pytest parity at both SFs"
    ),
    "image_phash_dedup": (
        "rotated out round 10 after 3 green rounds; the mapInPandas decode +"
        " signature + band-join class stays gated via media_catalog /"
        " image_resize and regains fresh rows via the returning"
        " audio_features / video_frame_sample"
    ),
    "decontaminate_bloom": (
        "rotated out round 10 after 3 green rounds; the Bloom membership"
        " modality keeps its superset-of-exact assertion in"
        " tests/test_corpus.py; decontamination stays gated via"
        " decontaminate_semantic"
    ),
    "events_anomaly_daily": (
        "rotated out round 10 after 3 green rounds; the daily-series"
        " rank/moving-stat machinery keeps pytest parity at both SFs; the"
        " events daily-grid class regains a fresh row via the returning"
        " events_rollup"
    ),
    "table_profile": (
        "rotated out round 10 after 3 green rounds; the full-table aggregate"
        " class keeps pytest parity at both SFs and the relational surface"
        " regains four fresh rows in this same rotation"
    ),
    "hll_distinct_tokens": (
        "rotated out round 10 after 3 green rounds; the HLL register"
        " arithmetic keeps its exact-decimal pytest parity at both SFs"
        " alongside its KMV sibling"
    ),
    "mixture_sample": (
        "rotated out round 10 after 3 green rounds; integer-budget mixture"
        " allocation keeps pytest parity at both SFs; the stateless"
        " hash-filter sampling family keeps its round-7/8 lifetime hashes"
    ),
    "events_type_unpivot": (
        "rotated out round 10 after 3 green rounds; the unpivot/stack"
        " machinery keeps pytest parity at both SFs and its pivot twin"
        " events_type_pivot stays gated"
    ),
    "q7_volume_shipping": (
        "rotated out round 10 after 2 green rounds; the multi-role dimension"
        " join class stays covered by the four relational rows returning in"
        " this same rotation (q5_local_supplier's multi-dim join chain"
        " especially) and keeps pytest parity at both SFs"
    ),
    "q18_large_orders": (
        "rotated out round 10 after 2 green rounds; the HAVING-subquery"
        " semi-join class stays gated via the returning repeat_customers"
        " (groupBy-count HAVING) and keeps pytest parity at both SFs"
    ),
    # --- round-12 rotation: the four round-10 additions queued in
    # PENDING_FIRST_GATE (protein_search_sharded, protein_search_stream,
    # protein_search_sharded_delta, protein_index_stream_append) take
    # their first gate slot — two of them are streaming twins whose
    # replay moved onto the one streaming.stateful.run_replay runner in
    # the same change. The four slots come from rows green for rounds
    # [8, 9, 10, 11] whose class keeps another gated row; every stream
    # twin keeps its slot (all of them were rewired onto the runner).
    # The flagship search cascade (protein_search, protein_search_masked,
    # protein_prefilter) stays pinned. All four keep full DuckDB parity
    # at sf0.001 AND the gate SF in tests/test_oracle_parity.py.
    "cm_heavy_hitters": (
        "rotated out round 12 after 4 green rounds; the gated"
        " cm_stream_heavy_hitters shares this query's DuckDB oracle"
        " VERBATIM (counter addition is associative, so the stream-built"
        " matrix must equal the batch sketch exactly) — the identical"
        " output stays gated via the harder streaming path"
    ),
    "events_zorder_layout": (
        "rotated out round 12 after 4 green rounds; the Morton key keeps"
        " its python-reference and monotonicity pins plus the pruning and"
        " round-trip tests in tests/test_layout.py, and DuckDB parity at"
        " both SFs in pytest"
    ),
    "events_retention_cohorts": (
        "rotated out round 12 after 4 green rounds; the per-user"
        " earliest-event aggregation stays gated via events_conversion_funnel"
        " (same first-ts-per-user pass over the events) and the cohort"
        " triangle keeps pytest parity at both SFs"
    ),
    "events_proximity_pairs": (
        "rotated out round 12 after 4 green rounds; the temporal-"
        " correlation join class stays gated via events_stream_join (the"
        " watermark-bounded interval join over the same events) and keeps"
        " pytest parity at both SFs"
    ),
}

#: Queries registered AFTER the current round's rotation settled: they
#: carry full pytest parity but no lifetime driver-gate tenure yet, and
#: MUST be rotated into the gate at the next rotation (value = round
#: added). tests/test_gate_ledger.py exempts exactly these names from
#: the no-never-gated invariant.
PENDING_FIRST_GATE: dict[str, int] = {}

#: The round whose driver artifact does NOT exist yet. Bumped as part
#: of each round-open rotation edit (tests/test_gate_ledger.py keeps it
#: in step with the committed CORRECTNESS_r*.json artifacts); the gate
#: ledger generator anchors on this instead of inferring the round from
#: artifact files, so a freshly-landed driver artifact cannot shift the
#: derivation (ADVICE r9 medium).
CURRENT_ROUND: int = 12

#: driver-gated queries, in registry order
GATED: list[str] = [n for n in REGISTRY if n not in UNGATED]
assert len(GATED) <= 50, f"driver gate truncates at 50; GATED has {len(GATED)}"
assert not set(UNGATED) - set(REGISTRY), "UNGATED names must exist in REGISTRY"


#: Rotation ledger (VERDICT r7 item 7; generated since round 9 — VERDICT
#: r8 item 5): for every registered query, the rounds in which it held
#: one of the 50 driver-gate slots (i.e. appeared in CORRECTNESS_r*.json).
#: Derived from the committed driver artifacts + the live GATED list by
#: scripts/gen_gate_ledger.py (rerun after every rotation);
#: tests/test_gate_ledger.py asserts the committed module regenerates
#: byte-identically and matches the artifacts round-for-round.
from petasearch_spark.gate_ledger import GATE_LEDGER  # noqa: E402

def queries() -> dict[str, QueryFn]:
    return {name: REGISTRY[name][0] for name in GATED}


def oracle_sql() -> dict[str, str]:
    return {name: REGISTRY[name][1] for name in GATED if REGISTRY[name][1] is not None}
