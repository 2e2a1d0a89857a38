"""CSV events source: schema-first PERMISSIVE ingest with quarantine.

Event logs arrive as CSV at least as often as JSONL; this is the CSV
twin of sources/jsonl.py, same design choices: an EXPLICIT schema (no
inferSchema — inference is a second full scan and a type lottery at
100 TB), PERMISSIVE mode with the corrupt record landing in an ORDINARY
``_malformed`` column (so quarantine is a plain filter), and one
accounting aggregation whose numbers are exactly reconcilable against
the staged input.

The registry query ``events_csv_ingest`` stages the events table as CSV
with deterministically planted rows whose ``value`` field is not a
number (every ``CSV_BREAK_MOD``-th event) — the parser must quarantine
EXACTLY those rows, so the DuckDB oracle recomputes the expected
accounting arithmetically from the original table (the
docs_stream_ingest pattern, streaming/ingest_stream.py).

Scale shape: one pass, no shuffle before the per-type aggregation;
staging is fixture-cached per source content (staged_cache — atomic
publication, content-keyed invalidation).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: every CSV_BREAK_MOD-th event (by id, at offset CSV_BREAK_AT) is staged
#: with a non-numeric value field -> must be quarantined by the parser
CSV_BREAK_MOD = 40
CSV_BREAK_AT = 3
_BAD_VALUE = "not-a-number"

CSV_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.StringType()),  # typed downstream; the raw
        # wire format stays a string so ingest accounting never depends
        # on timestamp-format lottery
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("_malformed", T.StringType()),
    ]
)


def read_events_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read an events CSV (no header, explicit schema). Well-formed rows
    carry ``_malformed IS NULL``; rows with an unparseable field carry
    the raw line in ``_malformed``.

    Deliberately ``read.text`` + ``from_csv`` rather than ``read.csv``
    with columnNameOfCorruptRecord: the native reader's corrupt column
    is INTERNAL and forbids any query that prunes to it alone
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — the
    quarantine count is exactly such a query); with ``from_csv`` it is
    an ordinary struct field. Same rationale and shape as
    sources/jsonl.py::read_jsonl_docs."""
    # the raw line is renamed _raw BEFORE expanding the struct: the CSV
    # schema has its own `value` field and a bare drop("value") would
    # remove both
    raw = spark.read.text(path).select(F.col("value").alias("_raw"))
    parsed = raw.select(
        "_raw",
        F.from_csv(
            "_raw",
            CSV_EVENTS_SCHEMA.simpleString(),
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_malformed"},
        ).alias("r"),
    ).select(
        "r.*",
        # two holes from_csv leaves open (round-5 audit): a blank line
        # parses as an all-NULL row with no corrupt marker, and an empty
        # leading field yields event_id NULL — ids are REQUIRED by the
        # events contract (the oracle reconstructs per-id), so both land
        # in quarantine instead of a phantom NULL-keyed clean group
        F.when(
            F.col("r._malformed").isNull()
            & ((F.trim("_raw") == "") | F.col("r.event_id").isNull()),
            F.col("_raw"),
        ).alias("_bad"),
    )
    return parsed.withColumn(
        "_malformed", F.coalesce(F.col("_malformed"), F.col("_bad"))
    ).drop("_bad")


def _stage_events_csv(spark: SparkSession, sf_dir: str) -> str:
    """events -> a CSV staging dir with planted bad-value rows, cached
    per source CONTENT + corruption constants (the jsonl staging
    economics: no /tmp accumulation, stale-data-proof)."""
    from petasearch_spark.storage import source_fingerprint, staged_cache

    src = os.path.join(sf_dir, "events.parquet")
    key = source_fingerprint(src, f"mod={CSV_BREAK_MOD}|at={CSV_BREAK_AT}|v=2")
    root = os.path.join(tempfile.gettempdir(), f"ps_csv_stage_{key}")

    def build(tmp: str) -> None:
        from petasearch_spark.sources.tables import load_table

        # route through load_table: events has shipped as TIMESTAMP(NANOS)
        # (raw read.parquet rejects it / leaks a session conf) — the
        # normalized ts makes the staged strings raw-format-independent
        ev = load_table(spark, "events", sf_dir)
        value_str = F.when(
            F.col("event_id") % CSV_BREAK_MOD == CSV_BREAK_AT, F.lit(_BAD_VALUE)
        ).otherwise(F.col("value").cast("string"))
        (
            ev.select(
                "event_id",
                F.col("ts").cast("string").alias("ts"),
                "user_id",
                "event_type",
                value_str.alias("value"),
            )
            .coalesce(2)
            .write.mode("overwrite")
            .csv(os.path.join(tmp, "csv"))
        )

    return os.path.join(staged_cache(root, build), "csv")


def events_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest accounting over the staged CSV: per event type the row
    count and exact-decimal value sum, plus one ``__quarantine__`` row
    for the planted bad-value lines. The parser must quarantine exactly
    the planted set for the oracle's arithmetic reconstruction to
    hash-match. NULL-event_id source rows stage as empty-leading-field
    lines, which the parser QUARANTINES (ids are required) — the
    oracle's arithmetic split must route them the same way, not lose
    them to a NULL modulo (round-6 fuzz). Non-finite values round-trip
    the CSV staging as clean doubles ("NaN"/"Infinity" parse back) and
    are excluded from the sum by the events._finite_value rule."""
    from petasearch_spark.operators.events import _finite_value
    from petasearch_spark.operators.portable import decimal_sum

    ev = read_events_csv(spark, _stage_events_csv(spark, sf_dir))
    # ONE scan/parse: quarantined rows fold into their own group key (the
    # docs_stream_ingest pattern); their value sum is NULL -> coalesce 0
    key = F.when(F.col("_malformed").isNotNull(), F.lit("__quarantine__")).otherwise(
        F.col("event_type")
    )
    return (
        ev.groupBy(key.alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.coalesce(
                decimal_sum(
                    F.when(F.col("_malformed").isNull(), _finite_value(F.col("value")))
                ),
                F.lit(0.0),
            ).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def _csv_ingest_sql() -> str:
    from petasearch_spark.operators.events import FINITE_VALUE_SQL

    # NULLIF: the CSV wire format cannot distinguish an empty-string
    # field from NULL — a '' event_type comes back NULL from the parse,
    # so the oracle's reconstruction must merge the two groups exactly
    # like the roundtrip does (round-6 fuzz)
    return f"""
SELECT NULLIF(event_type, '') AS event_type, COUNT(*) AS n_events,
       COALESCE(CAST(ROUND(SUM(CAST({FINITE_VALUE_SQL} AS DECIMAL(18,4))), 4) AS DOUBLE), 0.0) AS sum_value
FROM events
WHERE event_id % {CSV_BREAK_MOD} <> {CSV_BREAK_AT} AND event_id IS NOT NULL
GROUP BY NULLIF(event_type, '')
UNION ALL
SELECT '__quarantine__' AS event_type, COUNT(*) AS n_events, 0.0 AS sum_value
FROM events
WHERE event_id % {CSV_BREAK_MOD} = {CSV_BREAK_AT} OR event_id IS NULL
ORDER BY event_type
"""


EVENTS_CSV_INGEST_SQL = _csv_ingest_sql()
