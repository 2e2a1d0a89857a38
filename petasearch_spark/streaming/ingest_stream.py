"""Streaming JSONL ingest — the continuous form of sources/jsonl.py
(a Kafka/landing-zone -> bronze-table hop): each micro-batch of raw
dump lines is parsed schema-first, malformed lines are quarantined, and
the query maintains per-source ingest accounting. What a production
ingest monitors is exactly this output: did every line land, and how
many went to quarantine.

Parse = the SAME ``from_json`` expression as the batch reader (stream
and batch cannot drift), applied over ``readStream.text``. The
aggregation is a plain streaming groupBy — counters are associative, so
micro-batch order is irrelevant and the final table equals the batch
answer exactly, which is what the DuckDB oracle checks (malformed lines
are planted deterministically by doc_id, so the oracle recomputes both
sides from the documents table without parsing any JSON).

Scale shape: parsing is stateless per line (no shuffle before the
counter agg); state is one row per source — bounded by the source
vocabulary, not the stream length.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: every BREAK_MOD-th doc's dump line is truncated mid-JSON at staging
BREAK_MOD = 50
BREAK_AT = 7
_TRUNC_LEN = 20  # always inside the {"id":"doc-..." prefix -> never valid JSON


def _stage_jsonl_two_files(spark: SparkSession, sf_dir: str) -> str:
    """documents -> a 2-file JSONL staging dir (micro-batch bait) with
    deterministically planted malformed lines. Cached per source CONTENT
    like a fixture: repeated gate/bench runs reuse one staging copy
    instead of accumulating mkdtemp dirs in /tmp (round-3 ADVICE), and a
    regenerated documents table gets a fresh key instead of stale data.
    The key also covers the corruption constants — staged lines DEPEND on
    them, so editing BREAK_MOD/BREAK_AT/_TRUNC_LEN must invalidate the
    cache — and publication is atomic (staged_cache), so concurrent
    processes never see a half-built dir (round-4 review findings)."""
    from petasearch_spark.storage import source_fingerprint, staged_cache

    key = source_fingerprint(
        os.path.join(sf_dir, "documents.parquet"),
        f"mod={BREAK_MOD}|at={BREAK_AT}|trunc={_TRUNC_LEN}",
    )
    root = os.path.join(tempfile.gettempdir(), f"ps_jsonl_stage2_{key}")

    def build(tmp: str) -> None:
        flat = os.path.join(tmp, "flat")
        os.makedirs(flat)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        line = F.to_json(
            F.struct(
                F.concat(F.lit("doc-"), F.col("doc_id")).alias("id"),
                "text",
                "lang",
                "source",
            )
        )
        broken = F.when(
            F.col("doc_id") % BREAK_MOD == BREAK_AT, F.substring(line, 1, _TRUNC_LEN)
        ).otherwise(line)
        for i in range(2):
            docs.filter(F.col("doc_id") % 2 == i).select(broken.alias("value")).coalesce(
                1
            ).write.mode("overwrite").text(os.path.join(tmp, f"half{i}"))
        n = 0
        for i in range(2):
            half = os.path.join(tmp, f"half{i}")
            for f in sorted(os.listdir(half)):
                if f.endswith(".txt"):
                    os.symlink(
                        os.path.join("..", f"half{i}", f),
                        os.path.join(flat, f"part{n}.txt"),
                    )
                    n += 1

    return os.path.join(staged_cache(root, build), "flat")


def docs_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source streaming ingest accounting: (source, n_docs,
    n_chars_total) for parsed lines plus one ``__quarantine__`` row
    counting malformed lines. ``n_chars_total`` comes from the parsed
    text, so the row proves the stream actually parsed payloads, not
    just counted lines."""
    from petasearch_spark.sources.jsonl import JSONL_DOC_SCHEMA
    from petasearch_spark.streaming.stateful import run_replay

    stage = _stage_jsonl_two_files(spark, sf_dir)
    parsed = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(stage)
        .select(
            "value",
            F.from_json(
                "value",
                JSONL_DOC_SCHEMA,
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_malformed"},
            ).alias("j"),
        )
        .select(
            "j.*",
            # blank lines parse to an all-NULL struct without a corrupt
            # marker — quarantine them like the batch reader (round-5
            # audit; sources/jsonl.py carries the same rule)
            F.when(
                F.col("j._malformed").isNull() & (F.trim("value") == ""), F.col("value")
            ).alias("_blank"),
        )
        .withColumn("_malformed", F.coalesce(F.col("_malformed"), F.col("_blank")))
        .drop("_blank")
    )
    counts = (
        parsed.select(
            # quarantine keyed off the corrupt-record marker itself (same
            # rule as sources.jsonl.split_malformed) — NOT off source
            # being null, so a successfully parsed line with a null
            # source would land in its own NULL group exactly like the
            # oracle's GROUP BY (round-3 ADVICE)
            F.when(F.col("_malformed").isNotNull(), F.lit("__quarantine__"))
            .otherwise(F.col("source"))
            .alias("source"),
            F.coalesce(F.length("text"), F.lit(0)).cast("long").alias("n_chars"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars_total"),
        )
    )
    name = "docs_stream_ingest_sink"
    run_replay(counts, name, "complete")
    return spark.table(name).orderBy("source")


DOCS_STREAM_INGEST_SQL = f"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars_total
FROM documents
WHERE doc_id % {BREAK_MOD} <> {BREAK_AT}
GROUP BY source
UNION ALL
SELECT '__quarantine__' AS source, COUNT(*) AS n_docs,
       CAST(0 AS BIGINT) AS n_chars_total
FROM documents
WHERE doc_id % {BREAK_MOD} = {BREAK_AT}
ORDER BY source
"""
