"""Streaming ANN probe — a stream of query vectors searched against the
STATIC corpus per micro-batch. This is the real-time retrieval shape a
production embedding service runs: the corpus (or its IVF index) is a
fixed table; queries arrive continuously; each micro-batch executes the
same broadcast-join top-k the batch operator uses (`foreachBatch` — the
Structured Streaming idiom for per-batch logic that needs window
functions, which streaming plans cannot host directly).

Equivalence: each query vector arrives in exactly one micro-batch and
per-query top-k needs no cross-query state, so the union of per-batch
results equals the batch answer over all queries — the DuckDB oracle IS
the batch operator's SQL, verbatim.

Scale shape: the per-batch work is one broadcast of the (small) query
batch against the corpus scan (brute probe) or a partition-pruned scan
of the materialized IVF index's nprobe bucket directories (IVF probe).
State across batches is zero; per-batch caches are released after every
batch so a continuous stream's storage memory stays flat.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from petasearch_spark.functions.localframe import literal_df

from petasearch_spark.operators.similarity import N_QUERIES, _as_double, cosine_topk
from petasearch_spark.sources.tables import load_table
from petasearch_spark.storage import reap_dead, source_fingerprint, staged_cache
from petasearch_spark.streaming.stateful import _stage_two_files, run_replay

#: output schema of both probes — used to return a TYPED empty frame when
#: the stream produced no sink files (empty corpus / empty query set: a
#: parquet dir with no part files cannot infer a schema)
RESULT_SCHEMA = "query_id long, neighbor_id long, cos double, rk int"


def _load_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "embeddings", sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )


def _query_stream(spark: SparkSession, emb: DataFrame, sf_dir: str) -> DataFrame:
    """Stage the query vectors (vec_id < N_QUERIES) as a 2-file parquet
    stream source, read one file per micro-batch. The staging is cached
    per (source CONTENT, N_QUERIES) — the staged rows depend on the
    cutoff, so changing N_QUERIES must invalidate the cache, not silently
    serve the old query set (round-4 review finding) — and published
    atomically so concurrent runs never see a partial write."""
    fp = source_fingerprint(
        os.path.join(sf_dir, "embeddings.parquet"), f"nq={N_QUERIES}"
    )
    q_src = os.path.join(tempfile.gettempdir(), f"ps_ann_qsrc2_{fp}")

    def build(tmp: str) -> None:
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        ).coalesce(1).write.mode("overwrite").parquet(tmp)

    staged = _stage_two_files(spark, staged_cache(q_src, build), "query_id")
    return (
        spark.readStream.schema("query_id long, qv array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )


def _run_foreach_stream(
    stream: DataFrame,
    sink_tag: str,
    probe_fn: Callable[[DataFrame, list], DataFrame],
    schema: str = RESULT_SCHEMA,
    order_by: tuple[str, ...] = ("query_id", "rk"),
) -> DataFrame:
    """Replay ``stream``, run `probe_fn` per micro-batch, write its result
    to a per-tag, PER-PROCESS sink (cleared per run; pid-unique so
    concurrent suite runs cannot rmtree or double-append each other's
    in-flight sink — round-4 review finding), and return the combined
    result read back with ``schema``/``order_by`` — a typed empty frame
    if nothing was produced.

    `probe_fn(batch_df, persisted)` must append any DataFrame it
    persist()s to `persisted`; ONLY those frames are unpersisted after
    the batch write. A continuous stream's cache thus stays flat without
    the previous session-wide clearCache(), which evicted every cache the
    CALLER held (e.g. a long-lived service's persisted corpus would have
    been re-read cold every micro-batch).

    A sink must outlive its own run (the returned DataFrame reads it
    lazily), so each run reaps the sink dirs of dead processes instead of
    its own — without this, every fresh pid would leave one result-set
    dir in /tmp forever (round-4 review finding)."""
    prefix = os.path.join(tempfile.gettempdir(), "ps_ann_stream_sink_")
    reap_dead(prefix)
    sink = os.path.join(f"{prefix}{os.getpid()}", sink_tag)
    shutil.rmtree(sink, ignore_errors=True)
    run_replay(stream, make_probe_batch_writer(sink, probe_fn))
    return read_probe_sink(stream.sparkSession, sink, schema=schema, order_by=order_by)


def make_probe_batch_writer(
    sink: str, probe_fn: Callable[[DataFrame, list], DataFrame]
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer for the ANN probes. IDEMPOTENT per batch: each
    micro-batch overwrites its OWN ``b=<batch_id>`` subdir instead of
    appending to a flat sink (round-7 kill/recover e2e — a crash in the
    window between the sink write and the checkpoint commit makes Spark
    REPLAY the batch on restart, and a plain append would then hold the
    batch's rows twice; an overwritten per-batch dir makes the replay a
    no-op rewrite, which is the same bronze-partition contract
    curate-stream uses for ingest)."""

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        persisted: list = []
        try:
            probe_fn(batch_df, persisted).write.mode("overwrite").parquet(
                os.path.join(sink, f"b={batch_id}")
            )
        finally:
            for df in persisted:
                df.unpersist()

    return run_batch


def read_probe_sink(
    spark: SparkSession,
    sink: str,
    schema: str = RESULT_SCHEMA,
    order_by: tuple[str, ...] = ("query_id", "rk"),
) -> DataFrame:
    """Combined result over the per-batch subdirs — a typed empty frame
    when the stream produced nothing (a parquet dir with no part files
    cannot infer a schema). ``schema``/``order_by`` default to the ANN
    probes' contract; other foreachBatch probes (the search stream)
    pass theirs."""
    has_parts = os.path.isdir(sink) and any(
        f.endswith(".parquet") for _root, _dirs, fs in os.walk(sink) for f in fs
    )
    if not has_parts:
        return literal_df(spark, [], schema)
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(sink)
        .orderBy(*order_by)
    )


def ann_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch top-5 cosine search: query vectors (vec_id <
    N_QUERIES) staged as a 2-file parquet stream (maxFilesPerTrigger=1 ->
    >=2 real micro-batches), probed against the static embeddings table,
    results appended to a parquet sink. Output (and oracle) = the batch
    ann_cosine_topk exactly."""
    emb = _load_emb(spark, sf_dir)
    if not emb.filter(F.col("vec_id") < N_QUERIES).take(1):
        # no query vectors: skip staging + the whole streaming machinery
        # (the empty-table sweep otherwise pays a full stream startup)
        return literal_df(spark, [], RESULT_SCHEMA)
    fp = source_fingerprint(os.path.join(sf_dir, "embeddings.parquet"))
    # the SAME core as the batch operator — stream/batch cannot drift
    # (cosine_topk persists nothing, so the tracked list stays empty)
    return _run_foreach_stream(
        _query_stream(spark, emb, sf_dir),
        f"brute_{fp}",
        lambda batch, _p: cosine_topk(batch, emb),
    )


def ann_ivf_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partition-pruned variant: the corpus is a MATERIALIZED IVF
    index (write_ivf_index — parquet partitioned by bucket), and each
    micro-batch probe reads only its queries' nprobe bucket DIRECTORIES
    (probe_ivf_index's partition pruning). This is the scale path for
    streaming retrieval: per batch, the executor never opens a file
    outside the probed buckets, and the probe's per-batch persist is
    released after the batch write. Output (and oracle) = the batch
    ann_ivf_topk exactly — same frozen coarse quantizer (the first
    N_CENTROIDS vectors), same ranking."""
    from petasearch_spark.operators.ivf import (
        N_CENTROIDS,
        probe_ivf_index,
        write_ivf_index,
    )

    from petasearch_spark.operators.similarity import admit_indexed

    # indexed-search admission rule (round-6 finite + round-7 dim
    # clause): the materialized index and the quantizer must admit
    # exactly what the batch ann_ivf_topk (whose oracle this stream
    # shares) admits
    emb = admit_indexed(_load_emb(spark, sf_dir))
    cent_rows = [
        (r["vec_id"], r["v"])
        for r in emb.filter(F.col("vec_id") < N_CENTROIDS).collect()
    ]
    if not cent_rows:
        # empty corpus: no quantizer can exist and write_ivf_index would
        # produce a fileless parquet dir — typed empty answer instead
        return literal_df(spark, [], RESULT_SCHEMA)
    # the materialized index depends on the quantizer size: a changed
    # N_CENTROIDS must rebuild it, or probes would prune against bucket
    # directories written by a DIFFERENT quantizer (round-4 review
    # finding); published atomically like every staging cache
    # fin=1: the admission-rule guard changes what the index holds for
    # the same source file — the key must change with it, or a pre-guard
    # cached index would keep serving (staged-cache key law)
    fp = source_fingerprint(
        os.path.join(sf_dir, "embeddings.parquet"), f"nc={N_CENTROIDS}|fin=1"
    )
    idx_path = staged_cache(
        os.path.join(tempfile.gettempdir(), f"ps_ivf_stream_idx2_{fp}"),
        lambda tmp: write_ivf_index(emb, tmp, cent_rows),
    )
    return _run_foreach_stream(
        _query_stream(spark, emb, sf_dir),
        f"ivf_{fp}",
        lambda batch, persisted: probe_ivf_index(
            spark, idx_path, batch, cent_rows, _persisted=persisted
        ),
    )
