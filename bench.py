"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line with per-query wall-clock seconds.

Materialization uses the noop sink — full execution, no driver collect.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from petasearch_spark import maintenance_bench  # noqa: E402
from petasearch_spark.operators import doc_search  # noqa: E402
from petasearch_spark.registry import REGISTRY  # noqa: E402
from petasearch_spark.session import get_spark, release_lineage_cuts  # noqa: E402

#: bench-only entries: the bucketed prefilter's ONE-TIME layout build and
#: its STEADY-STATE bucket-local join, timed separately (the combined
#: registry query conflated the amortized write with the per-batch join
#: cost — round-2 VERDICT item 7). The combined registry entry
#: protein_prefilter_bucketed is the ONLY registry query not benched: its
#: timing is exactly build + query, which the split pair already records.
BENCH_ONLY = {
    "protein_prefilter_bucketed_build": doc_search.protein_prefilter_bucketed_build,
    "protein_prefilter_bucketed_query": doc_search.protein_prefilter_bucketed_query,
    "protein_search_index_build": doc_search.protein_search_index_build,
    "protein_search_prebuilt": doc_search.protein_search_prebuilt,
    "search_multi_target": doc_search.protein_search_multi_target,
    "search_multi_target_maxseqs": doc_search.protein_search_multi_target_maxseqs,
    # round-6: maintenance jobs under driver timing (VERDICT r5 item 6) —
    # entries within a group run in list order and share per-process state
    "ivf_maint_build": maintenance_bench.ivf_maint_build,
    "ivf_maint_recluster": maintenance_bench.ivf_maint_recluster,
    "ivf_maint_probe_recall": maintenance_bench.ivf_maint_probe_recall,
    "curate_cold_run": maintenance_bench.curate_cold_run,
    "curate_resume_noop": maintenance_bench.curate_resume_noop,
    "staging_cache_cold": maintenance_bench.staging_cache_cold,
    "staging_cache_warm": maintenance_bench.staging_cache_warm,
    # round-7: incremental index maintenance (VERDICT r6 item 8)
    "index_delta_merge": maintenance_bench.index_delta_merge,
    # round-9: the sharded INTERACTIVE layout — one-time build, the
    # full-batch query (oracle twin of protein_prefilter), and the
    # single-query probe the layout exists for (shard-pruned scan)
    "protein_prefilter_sharded_build": doc_search.protein_prefilter_sharded_build,
    "protein_prefilter_sharded_query": doc_search.protein_prefilter_sharded_query,
    "protein_prefilter_sharded_probe1": doc_search.protein_prefilter_sharded_probe1,
    # round-10: the interactive layout carried through the FULL cascade —
    # one query end-to-end (pruned index scan + pruned sequence fetch +
    # align); the batch twin protein_search_sharded rides the registry
    "protein_search_sharded_probe1": doc_search.protein_search_sharded_probe1,
}

#: The driver's bench capture keeps only the LAST 2000 bytes of output and
#: parses the final line — BENCH_r03's 73-entry JSON line exceeded that and
#: the whole per-query record was lost (parsed: null). Full query names
#: capped the list at 69 entries through round 4, leaving 41 registered
#: queries perf-invisible to BENCH_r*.json (round-4 VERDICT item 1).
#: Round 5 switches the emitted dict to SHORT POSITIONAL KEYS ("k0".."kN",
#: the index into BENCH_QUERIES) so every entry fits with headroom; the
#: committed key map lives in BENCH_KEYS.json (regenerated by
#: scripts/gen_bench_keys.py, drift-guarded by tests/test_bench_contract.py)
#: and the emitted line carries a "key_map" pointer. CONTRACT: the list is
#: APPEND-ONLY — new entries go at the end, and a retired entry keeps a
#: tombstone slot — so a key never changes meaning across rounds.
#: precision-degradation trigger, NOT the hard cap (that is the 1990
#: assert against the driver's 2000-byte tail buffer): 1940 keeps the
#: 2-decimal record intact even in the all-keys-flagged worst case
#: (round 10, 132 keys after protein_search_sharded_delta: modeled worst
#: is 1927 — tests/test_bench_contract.py pins the arithmetic; the
#: integer last-resort sits at 1662, far under the buffer; the 50-byte
#: gap to 1990 covers the `failed` envelope, whose per-failure delta is
#: net-negative after its one-time +13)
MAX_LINE = 1940

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q7_volume_shipping",
    "q18_large_orders",
    "top_suppliers_per_nation",
    "running_order_totals",
    "events_hourly",
    "events_sessionize",
    "events_session_window",
    "events_json_stats",
    "events_rollup",
    "clean_purchase_days",
    "events_asof_join",
    "events_proximity_pairs",
    "events_conversion_funnel",
    "events_retention_cohorts",
    "doc_shingle_index",
    "doc_prefilter",
    "protein_prefilter",
    "protein_prefilter_bucketed_build",
    "protein_prefilter_bucketed_query",
    "protein_search",
    "protein_search_index_build",
    "protein_search_prebuilt",
    "protein_search_expanded",
    "protein_ungapped",
    "protein_expand_prefilter",
    "dedup_exact",
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_ivf_kmeans",
    "ann_ivfpq_topk",
    "semdedup_clusters",
    "embedding_neardup",
    "embedding_neardup_lsh",
    "image_stats",
    "video_frame_sample",
    "corpus_sample_stratified",
    "decontaminate_ngram_overlap",
    "corpus_curation_funnel",
    "sequence_packing",
    "bm25_search",
    "phrase_search",
    "text_quality_stats",
    "doc_chunk_overlap",
    "doc_fingerprint",
    "tfidf_top_terms",
    "doc_cluster_tfidf",
    "unigram_logprob_score",
    "pii_redaction",
    "dedup_blocks",
    "quality_weighted_sample",
    "events_zorder_layout",
    "cm_heavy_hitters",
    "image_phash_dedup",
    "decontaminate_bloom",
    "events_anomaly_daily",
    "events_value_outliers",
    "embedding_profile",
    "table_profile",
    "hll_distinct_tokens",
    "mixture_sample",
    "events_type_pivot",
    "search_multi_target",
    # ---- round-5 additions (short keys made the line budget a non-issue;
    # ---- everything in the registry is now benched) ----
    "q4_order_priority",
    "parts_without_lineitems",
    "repeat_customers",
    "customers_never_ordered",
    "users_purchase_and_error",
    "events_stream_hourly",
    "events_stream_user_totals",
    "docs_stream_dedup",
    "events_stream_join",
    "dna_prefilter",
    "protein_prefilter_funnel",
    "protein_prefilter_biased",
    "protein_search_masked",
    "profile_search_consensus",
    "profile_vs_profile_prefilter",
    "protein_mask_stats",
    "protein_mask_tantan",
    "ann_stream_topk",
    "ann_ivf_stream_topk",
    "ann_pq_topk",
    "events_value_quantiles",
    "events_quantile_sketch",
    "cm_stream_heavy_hitters",
    "events_stream_quantiles",
    "embedding_quantize_int8",
    "media_catalog",
    "image_resize",
    "audio_features",
    "decontaminate_semantic",
    "dsir_importance_sample",
    "lang_classifier_nb",
    "decontaminate_minhash",
    "lang_id_heuristic",
    "token_count_bpe",
    "bpe_train_merges",
    "bpe_fertility",
    "kmv_distinct_tokens",
    "dup_span_coverage",
    "dedup_span_removal",
    "gopher_quality",
    "docs_stream_ingest",
    "events_csv_ingest",
    "ann_filtered_topk",
    "events_sax_motifs",
    "events_type_unpivot",
    "bpe_encode_corpus",
    "ann_ivf_filtered_topk",
    # ---- round-6 additions: maintenance jobs (k116+) ----
    "ivf_maint_build",
    "ivf_maint_recluster",
    "ivf_maint_probe_recall",
    "curate_cold_run",
    "curate_resume_noop",
    "staging_cache_cold",
    "staging_cache_warm",
    "search_multi_target_maxseqs",
    # ---- round-7 additions ----
    "index_delta_merge",
    # ---- round-9 additions: sharded interactive layout (k125+) ----
    "protein_prefilter_sharded_build",
    "protein_prefilter_sharded_query",
    "protein_prefilter_sharded_probe1",
    # ---- round-10 additions: interactive search end-to-end (k128+) ----
    "protein_search_sharded",
    "protein_search_sharded_probe1",
    "protein_search_stream",
    # the cascade against a layout grown by append (delta generations)
    "protein_search_sharded_delta",
    # ...and by streamed per-micro-batch appends
    "protein_index_stream_append",
]

#: short emitted key per entry — positional, stable under the append-only
#: contract above; the human-readable map is committed as BENCH_KEYS.json
BENCH_KEYS = {name: f"k{i}" for i, name in enumerate(BENCH_QUERIES)}

#: Kernel warm-up list (round-6 VERDICT item 2): both live band flags in
#: round 6 (dna_prefilter k78, ivf_maint_recluster k117) were FIRST-RUN
#: Arrow-kernel compile — the first batch through a mapInPandas closure
#: pays worker spawn, imports, and one-time table construction (BLOSUM,
#: base-4 LUTs, PQ codebooks), 3-5x the warm cost — and that variance is
#: why the band law needed hi=2*max. Running each kernel-bearing entry
#: ONCE at the smallest SF before the timed loop removes the cause, so
#: the bands can be tightened to ~1.4x*max and a real 1.5x regression
#: actually flags. One entry per distinct kernel closure; the three
#: ivf_maint entries run as a group (shared per-process state, keyed by
#: the warm-up sf_dir so the timed group is untouched).
WARMUP_SF_DIR = os.environ.get("SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.001")
WARMUP_QUERIES = [
    "protein_prefilter",          # kmer extract kernel (protein branch)
    "dna_prefilter",              # kmer extract kernel (base-4 branch)
    "protein_mask_tantan",        # tantan kernel
    "protein_mask_stats",         # heuristic masking kernel
    "protein_prefilter_biased",   # per-(query,pos) kbias kernel
    "protein_expand_prefilter",   # similar-kmer expansion kernel
    "protein_search",             # ungapped + gapped alignment kernels
    "profile_search_consensus",   # profile consensus + PSSM kernels
    "dedup_minhash_lsh",          # minhash signature kernel
    "embedding_neardup",          # blocked cosine applyInPandas kernel
    "ann_ivf_topk",               # IVF assign/matmul kernel
    "ann_ivfpq_topk",             # PQ ADC kernel
    "semdedup_clusters",          # per-centroid cluster_pass kernel
    "image_stats",                # multimodal decode kernels
    "image_resize",
    "audio_features",
    "video_frame_sample",
    "image_phash_dedup",
    "ivf_maint_build",            # recluster group: Lloyd-over-buckets
    "ivf_maint_recluster",        #   kernel compiles here, not in the
    "ivf_maint_probe_recall",     #   timed loop (k117's round-6 flag)
]


#: Fixed synthetic probe (round-8 VERDICT item 1, demoted to FORENSIC
#: by round-9 measurement): a fixed-size 32-partition whole-stage-
#: codegen long aggregation timed at start and end of the run,
#: `probe_mps` = [start, end] millions of rows/s on the JSON line. The
#: round-9 calibration showed the probe does NOT track the era this
#: host class applies to real queries — a sample whose per-key median
#: read 1.9x the quiet law carried probes at ~0.95x quiet speed (the
#: burst-class host serves a 2 s burst at full speed while throttling
#: the multi-second queries; same mechanism as the failed round-8
#: pre-warm protocol). The authoritative era coefficient is therefore
#: SELF-normalized from the sample (era_coefficient below, emitted as
#: "era"); the probe stays on the line because the (era, probe) pair
#: distinguishes mechanisms a single scalar cannot: era high + probe
#: quiet = query-shaped throttle or code-wide slowdown (run the A/B);
#: era high + probe slow = whole-host slowdown (tenant or power cap).
PROBE_ROWS = 16_000_000_000


def probe_mps(spark) -> float:
    """Best-of-2 throughput (M rows/s) of the fixed probe aggregation,
    after one small warm pass (JIT tiering makes the very first run read
    ~10% slow even on a quiet host). Best-of-N is the right statistic:
    noise only ever slows a run, never speeds it, so max(mps) is the
    machine's current sustained ceiling."""
    spark.range(0, 100_000_000, 1, 32).selectExpr("sum(id % 7) as s").collect()
    best = 0.0
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(0, PROBE_ROWS, 1, 32).selectExpr("sum(id % 7) as s").collect()
        best = max(best, PROBE_ROWS / (time.perf_counter() - t0) / 1e6)
    return round(best, 0)


def run_entry(spark, name: str, sf_dir: str) -> float:
    """Run bench entry ``name`` over ``sf_dir`` into the noop sink and
    return its wall time in seconds. Then, untimed, release the blocks of
    the entry's cut_lineage checkpoints, which clearCache() cannot: later
    entries would otherwise run beside them."""
    t0 = time.perf_counter()
    fn = BENCH_ONLY[name] if name in BENCH_ONLY else REGISTRY[name][0]
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    release_lineage_cuts(df)
    return elapsed


def _load_bands() -> dict:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_BANDS.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}


def era_coefficient(timings: dict[str, float], bands_doc: dict | None = None) -> float:
    """Observed-to-quiet slowdown for this SAMPLE: the median, over all
    keys with a committed quiet center >= 0.3 s, of observed/center —
    clamped to [1.0, 4.0]. Self-normalization from the sample itself is
    the authoritative era signal; the synthetic probe is NOT (measured
    round 9: probe_mps read ~0.95x quiet while the per-key median read
    1.9x — the burst-class host serves a 2 s probe at full speed while
    throttling the multi-second queries, exactly the trap the round-8
    pre-warm experiment documented). The median is robust to a handful
    of real per-key regressions (1 of ~125 keys moves it by nothing);
    the blind spot — a CODE change that uniformly slows everything —
    is era-indistinguishable from a throttle from one sample alone and
    stays covered by the committed-commit A/B protocol (BASELINE.md
    round-8 era note). Clamp floor 1.0: a faster-than-quiet host must
    never push corrected values UP into hi flags; ceiling 4.0 bounds
    how much a catastrophic sample can self-excuse."""
    doc = _load_bands() if bands_doc is None else bands_doc
    centers = doc.get("centers") or {}
    ratios = [
        v / centers[k]
        for k, v in timings.items()
        if k in centers and centers[k] >= 0.3
    ]
    if not ratios:
        return 1.0
    # true median (ADVICE r9: ratios[len//2] is the UPPER middle on even
    # counts — a high-biased era loosens the hi bound)
    return min(4.0, max(1.0, statistics.median(ratios)))


def out_of_band(timings: dict[str, float], era: float | None = None) -> list[str]:
    """Keys whose seconds fall outside the committed per-key expected
    band (BENCH_BANDS.json, regenerated by scripts/gen_bench_bands.py
    from quiet full-coverage samples) — the machine-checkable form of
    BASELINE.md's warm-re-time protocol (round-5 VERDICT item 3), era-
    normalized since round 9 (VERDICT r8 item 1): the hi comparison
    divides by the sample's era coefficient, so a uniformly throttled
    host (round 8: ~1.65x for a whole day) doesn't scatter phantom
    flags; the lo comparison stays RAW — lo catches an entry suddenly
    doing near-zero work, and dividing a non-inflating key by the era
    would manufacture exactly that false alarm. A key listed here
    warrants a warm re-time; a key listed on three consecutive samples
    is a regression. Missing/unknown keys are skipped so a
    just-appended entry doesn't fail before the bands are regenerated."""
    doc = _load_bands()
    bands = doc.get("bands")
    if not bands:
        return []
    coeff = era_coefficient(timings, doc) if era is None else era
    return sorted(
        (
            k
            for k, v in timings.items()
            if k in bands and (v < bands[k][0] or v / coeff > bands[k][1])
        ),
        key=lambda k: int(k[1:]),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    # forensics for the band protocol's quiet-machine precondition: on a
    # shared host, competing tenants inflate every entry ~uniformly and
    # scatter oob flags across unrelated families (round-7: three samples
    # at load 6-14 read 301-339 s where quiet runs read 214-241 s) —
    # the stderr load line lets a reviewer classify such a sample at a
    # glance instead of chasing phantom regressions
    try:
        print(f"bench: loadavg at start {os.getloadavg()}", file=sys.stderr)
    except OSError:
        pass
    warm_t0 = time.perf_counter()
    spark = get_spark("petasearch_bench")
    # JVM/codegen warmup so the first timed query isn't charged for session
    # startup (a real deployment's session is long-lived): a decimal agg
    # (whole-stage codegen), a parquet footer read, and one Arrow batch
    # through mapInPandas (spawns the Python worker pool the kernels use)
    spark.range(1_000_000).selectExpr(
        "sum(cast(id as decimal(18,4))) as s", "count(1) as c"
    ).collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    def _warm(batches):
        for pdf in batches:
            yield pdf

    spark.range(1_000).mapInPandas(_warm, schema="id long").count()
    # per-kernel warm-up at the smallest SF (see WARMUP_QUERIES): never
    # timed, never fatal — a warm-up failure surfaces on stderr and the
    # timed run still records the entry (just cold, as before). But a
    # SYSTEMIC warm-up failure (bad/missing WARMUP_SF_DIR) would silently
    # time every kernel cold against the 1.4x warm bands and scatter
    # spurious oob flags (ADVICE r7) — check the dir once up front, count
    # failures, and carry the count on the JSON line so a cold sample is
    # self-identifying the way a loaded one is (load1).
    warmup_failed = 0
    if not os.path.isdir(WARMUP_SF_DIR):
        print(
            f"bench: WARMUP_SF_DIR {WARMUP_SF_DIR!r} is not a directory —"
            " ALL kernel entries will time cold; bands assume warm",
            file=sys.stderr,
        )
        warmup_failed = len(WARMUP_QUERIES)
    else:
        for name in WARMUP_QUERIES:
            try:
                run_entry(spark, name, WARMUP_SF_DIR)
            except Exception as exc:  # noqa: BLE001
                warmup_failed += 1
                print(f"bench: warm-up {name} failed: {exc!r}", file=sys.stderr)
            spark.catalog.clearCache()
    # total session-startup + warm-up wall time, carried on the JSON line:
    # on a burst-class host (round-8 era) this ~40 s sustained span tracks
    # the machine's current speed mode, so a slow sample carries its own
    # calibration alongside load1/warmup_failed
    warmup_s = round(time.perf_counter() - warm_t0, 1)
    # era probe #1: immediately after the sustained warm-up span, so a
    # burst-mode host has already been driven into its sustained speed
    # mode when the probe reads it (round-8: short bursts read full
    # speed on a throttled host; probes adjacent to sustained work don't)
    probe_start = probe_mps(spark)
    timings: dict[str, float] = {}
    failed: list[str] = []
    for name in BENCH_QUERIES:
        try:
            # lookup INSIDE the try: a tombstoned/renamed registry entry
            # (KeyError) must degrade to one "failed" key, not kill the
            # whole record (round-5 review finding)
            timings[BENCH_KEYS[name]] = round(run_entry(spark, name, sf_dir), 2)
        except Exception as exc:  # noqa: BLE001
            # one broken entry must not cost the round's WHOLE per-query
            # record (the driver keeps only the final line; an uncaught
            # crash here means parsed: null for every other entry too).
            # The failure stays visible: key listed in "failed", detail
            # on stderr, and the correctness gate / pytest flag the query
            # itself.
            print(f"bench: {name} failed: {exc!r}", file=sys.stderr)
            failed.append(BENCH_KEYS[name])
        # untimed: release the query's own persist() blocks so the shared
        # session doesn't accumulate 100+ queries' caches (GC pressure was
        # the dominant run-to-run variance in earlier bench records)
        spark.catalog.clearCache()
    total = round(sum(timings.values()), 2)
    # era probe #2: the era drifts monotonically within a day (round-8
    # forensics: 369 -> 613 s across one afternoon), so the end probe
    # bounds the other side of the run
    probe_end = probe_mps(spark)
    probe = [probe_start, probe_end]
    try:
        print(f"bench: loadavg at end {os.getloadavg()}", file=sys.stderr)
        # the 1-minute load average at end, on the JSON line itself: the
        # driver keeps only stdout's final line, so a loaded-host sample
        # must carry its own forensic (round-7: shared-tenant load 6-14
        # inflated every entry ~2x and scattered oob flags — an
        # unexplained record would read as 12 regressions).
        # CAVEAT (round-8 forensics, VERDICT item 7): bench's OWN
        # local[32] execution drives load1 to ~15-22 by end-of-run even
        # on an otherwise-idle machine, so end-of-run load1 alone cannot
        # distinguish tenant competition from self-load — probe_mps is
        # the authoritative era signal; load1 is supporting color only.
        load1 = round(os.getloadavg()[0], 1)
    except OSError:
        load1 = None
    # stop the session BEFORE printing so no late JVM/py4j shutdown chatter
    # can land after the JSON line — it must be the final line of output
    spark.stop()

    era = round(era_coefficient(timings), 2)
    oob = out_of_band(timings, era)
    oob_raw_n = len(out_of_band(timings, 1.0))

    def encode(ts: dict[str, float], with_oob: bool = True) -> str:
        rec = {
            "metric": "bench_total_seconds",
            "value": total,
            "unit": "sec",
            "key_map": "BENCH_KEYS.json",
            "queries": ts,
            "sf": sf,
            "warmup_s": warmup_s,
            # era self-calibration (VERDICT r8 item 1): the sample's
            # median slowdown vs the committed quiet centers (the
            # coefficient the oob computation divided by), plus the
            # synthetic probe pair for mechanism forensics (see the
            # PROBE_ROWS note: era high + probe quiet = query-shaped
            # throttle; era high + probe slow = whole-host slowdown)
            "era": era,
            "probe_mps": probe,
        }
        if failed:
            # net line-length cost: +13 envelope once, then each failure
            # moves ~12 bytes out of queries for ~6 here — bounded by the
            # MAX_LINE headroom even in the single-failure worst case
            rec["failed"] = failed
        if warmup_failed:
            # cold-run forensic (ADVICE r7): entries may read 1.4-5x over
            # their warm bands; classify before chasing regressions
            rec["warmup_failed"] = warmup_failed
        if with_oob and oob:
            # out-of-band keys per BENCH_BANDS.json — capped so a fully
            # loaded machine (many flags) can't blow the line budget
            rec["oob"] = oob[:12]
            rec["oob_n"] = len(oob)
            if load1 is not None:
                rec["load1"] = load1  # quiet-machine forensic (~14 bytes)
        if with_oob and oob_raw_n:
            # the UNcorrected (era=1.0) flag count (ADVICE r9): era-division
            # can self-excuse a uniform up-to-4x slowdown within one sample,
            # so the line carries both readings for the A/B protocol — a
            # sample with oob_n 0 but oob_raw_n 30 and era ~2 is a throttle
            # window (or a uniform code regression: discriminate via the
            # committed-commit A/B, BASELINE.md round-8/9 era notes), while
            # oob_raw_n ~ oob_n at era ~1 is per-key signal
            rec["oob_raw_n"] = oob_raw_n
        return json.dumps(rec, separators=(",", ":"))

    line = encode(timings)
    if len(line) > MAX_LINE:
        # degrade precision rather than lose the record to tail truncation;
        # the integer step keeps even pathological 1000+s-per-entry runs
        # under the buffer (114 entries x <= 8 bytes)
        line = encode({k: round(v, 1) for k, v in timings.items()})
    if len(line) > MAX_LINE:
        line = encode({k: int(round(v)) for k, v in timings.items()})
    if len(line) > MAX_LINE:
        # last resort: the per-entry record outranks the band flags
        line = encode({k: int(round(v)) for k, v in timings.items()}, with_oob=False)
    assert len(line) <= 1990, (
        f"bench JSON line is {len(line)} chars; the driver's tail capture "
        f"holds 2000 — trim BENCH_QUERIES (see MAX_LINE note)"
    )
    sys.stderr.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
