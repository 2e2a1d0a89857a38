"""Streaming interactive search — a stream of query documents searched
against the STATIC on-disk sharded layout per micro-batch. This is the
service shape the reference's headline use-case implies (a few proteins
at a time against a huge prebuilt SRA index, /root/reference/README.md:1-3)
run continuously: the index + sequence store are fixed directories;
query documents arrive as a stream; each micro-batch derives its query
sequences and runs the SAME pruned cascade the batch operator runs
(operators/doc_search.sharded_search_queries — one code path, so
stream and batch cannot drift), `foreachBatch` because the cascade
needs window functions and driver-side candidate pruning that a
streaming plan cannot host directly.

Equivalence: each query document arrives in exactly one micro-batch,
per-query results need no cross-query state, and the e-value
normalization reads the layout sidecar's corpus-total db_residues (a
constant), so the union of per-batch results equals the batch answer
over all queries — the DuckDB oracle IS protein_search's, verbatim.

Scale shape: per-batch I/O is the batch probe's — index shards ∝ the
batch's k-mers, sequence-store directories ∝ its candidates (1M-scale
record in BASELINE.md round 10). Cross-batch state is zero; every frame
the cascade persists is tracked and released after the batch write, so
a continuous stream's storage memory stays flat. The sink is the same
idempotent per-batch-dir contract as the ANN probes (a replayed batch
after a crash overwrites its own dir — exactly-once results).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from petasearch_spark.functions.localframe import literal_df

from petasearch_spark.streaming.ann_stream import _run_foreach_stream
from petasearch_spark.storage import source_fingerprint
from petasearch_spark.streaming.stateful import _stage_two_files

#: protein_search's output contract — ONE copy, shared with the batch
#: registry entries (round-10 review finding: three hand-kept lists)
from petasearch_spark.operators.doc_search import SEARCH_INT_SCHEMA as SEARCH_RESULT_SCHEMA


def protein_search_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch interactive search: the documents table staged as
    a 2-file parquet stream (maxFilesPerTrigger=1 -> >=2 real
    micro-batches), each batch's query documents (doc_id % 20 == 0, the
    batch flagship's query set) derived to sequences and run through the
    pruned cascade against the prebuilt sharded layout. Output (and
    oracle) = protein_search exactly."""
    from petasearch_spark.operators.doc_search import (
        _ensure_sharded_layout,
        derived_sequences,
        sharded_search_queries,
    )

    root = _ensure_sharded_layout(spark, sf_dir)
    staged = _stage_two_files(spark, os.path.join(sf_dir, "documents.parquet"), "doc_id")

    def probe(batch_docs: DataFrame, persisted: list) -> DataFrame:
        queries = (
            derived_sequences(batch_docs)
            .drop("source")
            .filter(F.col("seq_id") % 20 == 0)
        )
        if not queries.take(1):
            # a batch with no query documents: skip the cascade (its
            # empty-input path is correct but pays full plan machinery)
            return literal_df(spark, [], SEARCH_RESULT_SCHEMA)
        return sharded_search_queries(
            spark, sf_dir, queries, root=root, persisted=persisted
        )

    fp = source_fingerprint(os.path.join(sf_dir, "documents.parquet"))
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    return _run_foreach_stream(
        stream,
        f"search{fp}",
        probe,
        schema=SEARCH_RESULT_SCHEMA,
        order_by=("query_id", "target_id"),
    )
