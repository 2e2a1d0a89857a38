"""Streaming TARGET ingest — the other direction of the interactive
service (streaming/search_stream.py streams QUERIES against a static
layout; here the CORPUS is what streams): newly-arrived target
documents are folded into the on-disk sharded layout per micro-batch
via append_sharded_layout (an LSM delta generation per non-empty
batch), and every probe issued afterwards sees the grown corpus — the
continuous form of the reference's "index new SRA runs as they land"
maintenance loop, which the batch-only reference can only express as a
full createkmertable rerun (/root/reference/src/sra/createkmertable.cpp).

Equivalence: each arriving document lands in exactly one micro-batch,
an append is atomic (generation claimed by rename), the probe-time J2
re-resolution over generations is exact (packed-max associativity,
operators/kmer_index.aggregate_kmer_index), and the e-value's db_residues is the
sum of generation sidecars — so after the stream drains, a probe
answers byte-identically to a layout built over the full corpus in one
shot. The registered twin therefore shares protein_search's golden
oracle verbatim.

Exactly-once: append is all-or-nothing, so a batch REPLAYED after a
crash (sink-side work done, checkpoint commit lost) either finds none
of its ids (re-append is safe) or all of them in one generation (it is
live — skip). Append's admission IS the replay detector: its
SeqIdCollision counts the matched ids and their generations, and the
fold skips only that exact case. A partly colliding batch, or one that
repeats an id within itself (a plain ValueError), raises (pinned by
tests/test_sharded_delta.py::test_stream_fold_batch_replay_is_exactly_once).

Scale shape: per-batch cost is append's — one admission aggregation,
extraction + groupBy over the BATCH, a generation write whose fanout is
auto-sized to the batch (LSM L0), and an id check that reads only the
``seq_id`` column of the store shards the batch's ids hash to. Nothing
rescans the corpus; compaction (compact_sharded_layout) is the
scheduled maintenance job that bounds generation count, like the IVF
recluster loop (operators/ivf.py).

Publication: the registered twin runs the whole lifecycle (base write,
then every batch's append) inside the staging directory that
storage.staged_cache hands its build. The base write publishes nothing
of its own, so the grown layout appears under its cache key whole or
not at all, and a killed build leaves only ``<key>.build<pid>``, which
the next claim reaps.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fold_batch_into_layout(spark: SparkSession, root: str, batch_seqs: DataFrame) -> str | None:
    """Fold one micro-batch of target sequences into the layout —
    append_sharded_layout plus the replay-skip law (see module doc).
    Returns the generation path, None for an empty or replayed batch."""
    from petasearch_spark.operators.kmer_index import SeqIdCollision, append_sharded_layout

    try:
        return append_sharded_layout(spark, root, batch_seqs)
    except SeqIdCollision as exc:
        # replayed batch: appends are atomic, so a batch whose ids ALL
        # live in one generation is that generation — exactly-once by skip
        if exc.matched == exc.distinct and len(exc.generations) == 1:
            return None
        raise


def _ingest_root(sf_dir: str) -> str:
    from petasearch_spark.storage import source_fingerprint

    fp = source_fingerprint(
        os.path.join(sf_dir, "documents.parquet"), "sharded-ingest-v1"
    )
    return os.path.join(tempfile.gettempdir(), f"ps_sharded_ingest_{fp}")


def _build_ingested_layout(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """The ingest lifecycle, run end to end in ``out_dir``: the grown base
    (doc_search._write_grown_base, ~80% of the corpus), then the
    remaining ~20% arrives as a real 2-file parquet stream
    (maxFilesPerTrigger=1 -> >=2 micro-batches) folded by foreachBatch
    appends."""
    from petasearch_spark.operators.doc_search import _write_grown_base, derived_sequences
    from petasearch_spark.streaming.stateful import _stage_two_files, run_replay

    _, arrived = _write_grown_base(spark, sf_dir, out_dir)
    staged = _stage_two_files(spark, os.path.join(sf_dir, "documents.parquet"), "doc_id")

    def fold(batch_docs: DataFrame, _batch_id: int) -> None:
        batch = derived_sequences(batch_docs).drop("source").filter(arrived)
        fold_batch_into_layout(spark, out_dir, batch)

    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    run_replay(stream, fold)


def protein_index_stream_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered twin: layout grown by STREAMED target arrivals
    (base 80%, the rest folded in per micro-batch), probed with
    protein_search's query set — output must be protein_search's
    VERBATIM (shares its golden oracle; a missed batch, torn
    generation, wrong representative, or residue miscount all break the
    driver's value hash). The lifecycle runs inside the content-keyed
    staging build (the _ensure_sharded_layout convention), so repeated
    gate/bench runs probe the published artifact instead of re-growing
    it."""
    from petasearch_spark.operators.doc_search import _protein_corpus, sharded_search_queries
    from petasearch_spark.storage import staged_cache

    root = staged_cache(
        _ingest_root(sf_dir),
        lambda tmp: _build_ingested_layout(spark, sf_dir, tmp),
    )
    seqs = _protein_corpus(spark, sf_dir)
    return sharded_search_queries(
        spark, sf_dir, seqs.filter(F.col("seq_id") % 20 == 0), root=root
    )
