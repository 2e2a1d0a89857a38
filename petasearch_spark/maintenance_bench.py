"""Bench-only maintenance-job entries (round-5 VERDICT item 4 /
round-6 item 6): the lifecycle jobs — IVF index build → recluster →
probe-recall, the curate CLI cold run and its --resume no-op re-run,
and the staging-cache cold/warm claim pair — were smoke/unit-verified
but invisible to the driver's per-round bench record, so their cost
could regress silently. Each function below follows the bench contract
``fn(spark, sf_dir) -> DataFrame`` (the side effect happens inside the
call, so the wall clock covers it; the returned frame is a small
verification summary the noop sink materializes).

Entries within a group share per-process state (the recluster entry
reclusters the index the build entry wrote; the resume entry resumes
the store the cold run produced). bench.py runs them in list order in
one process; a failed upstream entry degrades its dependents to
``failed`` keys, never the whole record.

These are engine maintenance analogues of the reference's offline index
builds (reference src/sra/createkmertable.cpp — build once, query
many), extended to the vector-index lifecycle the reference lacks.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from petasearch_spark.functions.localframe import literal_df
from petasearch_spark.session import cut_lineage

from petasearch_spark.sources.tables import load_table
from petasearch_spark.storage import reap_dead, source_fingerprint, staged_cache

#: per-process state shared between the entries of one group, keyed by
#: sf_dir so a multi-SF process never cross-wires artifacts
_STATE: dict[str, dict] = {}


def _state(sf_dir: str) -> dict:
    return _STATE.setdefault(sf_dir, {})


# --- IVF lifecycle: build -> recluster -> probe-recall ---------------------


def ivf_maint_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-time labeled-IVF index build cost: assign every corpus vector
    to its nearest coarse centroid (broadcast Arrow kernel, no shuffle)
    and write partitioned-by-bucket parquet. The index feeds the two
    entries below."""
    from petasearch_spark.operators.ivf import N_CENTROIDS, write_ivf_index
    from petasearch_spark.operators.similarity import _as_double, admit_indexed

    emb = admit_indexed(load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("v")
    ))  # same admission rule as the registry's IVF entry points
    cent_rows = [
        (r["vec_id"], r["v"])
        for r in emb.filter(F.col("vec_id") < N_CENTROIDS).select("vec_id", "v").collect()
    ]
    prefix = os.path.join(tempfile.gettempdir(), "ps_maint_ivf_")
    reap_dead(prefix)  # repeated bench runs must not accumulate debris
    path = f"{prefix}{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    write_ivf_index(emb, path, cent_rows, extra_cols=("label",))
    st = _state(sf_dir)
    st["ivf_path"], st["ivf_cent"] = path, cent_rows
    return literal_df(
        spark, [(len(cent_rows), emb.count())], "n_centroids int, n_vectors long"
    )


def ivf_maint_recluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The periodic maintenance job itself: self-seeded Lloyd over the
    stored buckets + partitioned rewrite + atomic swap (recluster_ivf_index)."""
    from petasearch_spark.operators.ivf import recluster_ivf_index

    st = _state(sf_dir)
    new_cent = recluster_ivf_index(spark, st["ivf_path"])
    st["ivf_new_cent"] = new_cent
    return literal_df(
        spark, [(int(c),) for c, _ in new_cent], "cent_id long"
    )


def ivf_maint_probe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the reclustered index and measure recall@TOPK against the
    brute-force cosine ground truth (cosine_topk — the same core the
    gated ann_cosine_topk rides), then drop the per-process index. This
    is the number a production recluster schedule is tuned against."""
    from petasearch_spark.operators.ivf import probe_ivf_index
    from petasearch_spark.operators.similarity import (
        N_QUERIES,
        TOPK,
        _as_double,
        cosine_topk,
    )

    st = _state(sf_dir)
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    got = probe_ivf_index(spark, st["ivf_path"], q, st["ivf_new_cent"]).select(
        "query_id", "neighbor_id"
    )
    truth = cosine_topk(q, emb).select("query_id", "neighbor_id")
    out = (
        truth.join(got.withColumn("hit", F.lit(1)), ["query_id", "neighbor_id"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.round(F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count(F.lit(1)), 4).alias(
                f"recall_at_{TOPK}"
            ),
        )
    )
    out = cut_lineage(out)
    shutil.rmtree(st.pop("ivf_path"), ignore_errors=True)
    return out


# --- curate CLI: cold run -> --resume no-op re-run -------------------------


def curate_cold_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full curate pipeline cost over the SF documents table (staging
    rewrite + composed funnel + curated store + packing) — the e2e
    maintenance analogue of easy-search, end to end in one number."""
    from petasearch_spark.cli import _curate

    prefix = os.path.join(tempfile.gettempdir(), "ps_maint_curate_")
    reap_dead(prefix)  # repeated bench runs must not accumulate debris
    out_dir = f"{prefix}{os.getpid()}"
    shutil.rmtree(out_dir, ignore_errors=True)
    # the accounting line is _curate's contract output; swallow it here —
    # bench stdout must stay parseable (final line = the bench JSON)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = _curate(spark, sf_dir, out_dir)
    assert rc == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    st = _state(sf_dir)
    st["curate_out"], st["curate_report"] = out_dir, report
    return literal_df(
        spark,
        [(report["n_staged"], report["n_kept"], report["n_packs"])],
        "n_staged long, n_kept long, n_packs long",
    )


def curate_resume_noop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """--resume over the COMPLETE store: every stage marker intact and
    the input fingerprint unchanged, so the run is pure skip-path cost —
    marker/fingerprint checks plus count recomputation from artifacts.
    Verifies the resumed accounting values equal the cold run's."""
    from petasearch_spark.cli import _curate

    st = _state(sf_dir)
    out_dir = st["curate_out"]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = _curate(spark, sf_dir, out_dir, resume=True)
    assert rc == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    resumed = report.pop("resumed_stages")
    assert resumed == ["staging", "funnel", "curated", "packs"], resumed
    assert report == st["curate_report"], "resume no-op changed accounting values"
    shutil.rmtree(st.pop("curate_out"), ignore_errors=True)
    return literal_df(
        spark, [(len(resumed), report["n_kept"])], "n_resumed_stages int, n_kept long"
    )


# --- staging cache: cold build vs warm claim -------------------------------


def _staging_root(sf_dir: str) -> str:
    fp = source_fingerprint(os.path.join(sf_dir, "documents.parquet"), "maint_pair")
    return os.path.join(tempfile.gettempdir(), f"ps_maintstage_{fp}")


def staging_cache_cold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold claim: build + atomic-rename publish of a content-keyed
    staging cache (the JSONL export the streaming-ingest fixtures use).
    The root is removed first so every bench run pays the build."""
    root = _staging_root(sf_dir)
    shutil.rmtree(root, ignore_errors=True)

    def build(tmp: str) -> None:
        docs = load_table(spark, "documents", sf_dir)
        docs.select(
            F.to_json(F.struct("doc_id", "text", "lang", "source")).alias("value")
        ).coalesce(4).write.mode("overwrite").text(os.path.join(tmp, "docs.jsonl"))

    claimed = staged_cache(root, build)
    _state(sf_dir)["staging_root"] = claimed
    n = spark.read.text(os.path.join(claimed, "docs.jsonl")).count()
    return literal_df(spark, [(n,)], "n_lines long")


def staging_cache_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm claim of the same key: pure cache-hit overhead (mtime
    refresh + sibling TTL sweep + path return; the build must NOT run)."""
    root = _staging_root(sf_dir)

    def must_not_build(tmp: str) -> None:
        raise AssertionError("warm claim rebuilt a published cache")

    claimed = staged_cache(root, must_not_build)
    assert claimed == root
    # leave the published dir for future warm runs on this machine; the
    # key is content-fingerprinted so regenerated testdata strands it at
    # most STAGING_TTL_DAYS (the sweep contract)
    return literal_df(spark, [(1,)], "cache_hit int")


def index_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental k-mer-index maintenance under driver timing (round-6
    VERDICT item 8): base bucketed index over 90% of the derived corpus,
    then merge_kmer_index_delta folds the remaining 10% in WITHOUT
    reshuffling the base (bucket-local full-outer + J2 collision rule —
    the daily-delta shape a 100 TB index lives by; the reference's
    createkmertable is rebuild-only). The timed cost covers the base
    build + write, the delta build + write, and the bucket-aligned merge
    write; tests/test_incremental_index.py pins the merged CONTENT equals
    a from-scratch rebuild."""
    from petasearch_spark.operators.doc_search import derived_sequences
    from petasearch_spark.operators.kmer_index import (
        build_kmer_index,
        merge_kmer_index_delta,
        write_kmer_index_bucketed,
    )

    seqs = derived_sequences(load_table(spark, "documents", sf_dir, widen_scan=True))
    base_seqs = seqs.filter(F.col("seq_id") % 10 != 0)
    delta_seqs = seqs.filter(F.col("seq_id") % 10 == 0)
    tag = os.getpid()
    base_t, delta_t, out_t = (
        f"ps_bench_idx_base_{tag}",
        f"ps_bench_idx_delta_{tag}",
        f"ps_bench_idx_merged_{tag}",
    )
    write_kmer_index_bucketed(build_kmer_index(base_seqs), base_t)
    merged = merge_kmer_index_delta(base_t, delta_seqs, out_t, delta_table=delta_t)
    n = merged.count()
    out = literal_df(spark, [(n,)], "merged_kmers long")
    for t in (base_t, delta_t, out_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out
