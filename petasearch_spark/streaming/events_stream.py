"""Structured Streaming surface.

The reference engine is strictly batch (SURVEY §2.10) — this module is part
of the beyond-parity pipeline surface: incremental ingestion of an event
stream with windowed aggregation. The batch twin (operators/events.py
events_hourly) provides the DuckDB oracle: a correct streaming run over the
full file set must produce exactly the batch answer.

Both twins run through the package's one replay runner
(``streaming.stateful.run_replay``: availableNow into a memory sink), so
the result is a normal DataFrame the driver can collect; in production
the same lineage points at a file/Kafka source and a parquet/Delta sink
with checkpointing.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from petasearch_spark.session import apply_session_defaults
from petasearch_spark.streaming.stateful import run_replay, source_fingerprint, staged_cache


def events_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window counts/sums computed via readStream ->
    replay into a memory sink; returns the final table."""
    apply_session_defaults(spark)  # nanosAsLong + UTC for a foreign session
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    from petasearch_spark.operators.events import _finite_value
    from petasearch_spark.sources.tables import normalize_events_ts

    name = "events_stream_hourly_sink"
    # The file-stream source wants a directory; stage the single parquet
    # file behind a symlink (a real deployment points this at the landing
    # directory new files arrive in). The stage lives only as long as the
    # replay: the returned frame reads the memory sink, not the stage.
    with tempfile.TemporaryDirectory(prefix="events_stream_") as stage:
        os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), os.path.join(stage, "events.parquet"))
        stream = normalize_events_ts(spark.readStream.schema(batch_schema).parquet(stage))
        # day-less law + finite-value law, explicit on BOTH sides (round-7
        # fuzz): F.window silently drops NULL-ts rows, and Spark's
        # double->decimal cast silently NULLs non-finite where DuckDB's CAST
        # errors — the batch events_hourly applies both; the stream twin
        # must not drift from it
        stream = stream.filter(F.col("ts").isNotNull())
        agg = (
            stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(_finite_value(F.col("value")).cast("decimal(18,4)")).cast("double").alias("sum_value"),
            )
            .select(
                F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )
        run_replay(agg, name, "complete")
    return spark.table(name).orderBy("hour", "event_type")


EVENTS_STREAM_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE value END
                     AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
ORDER BY hour, event_type
"""


JOIN_WINDOW_S = 21600  # 6 h: errors following a purchase by the same user


def _stage_join_halves(spark: SparkSession, sf_dir: str) -> str:
    """Stage events split at the median timestamp into a 2-file stream
    dir, content-cached like every other stream fixture (round-10
    optimization; the old inline staging re-ran 3 full scans + an exact
    percentile on EVERY run: one scan for the median, one filtered
    coalesce(1) write per half — ~4.5 s warm at sf0.1).

    * ONE pass writes both halves: a ``half`` column + repartition(2,
      "half") + partitionBy — each half hashes wholly into one task, so
      each directory gets exactly one file (guide §2.3/§6).
    * the split point uses approx_percentile: the streaming result is
      INVARIANT to where the time split lands (any by-time split keeps
      the watermark from dropping rows — a purchase evicted after batch
      0 has p_ts + 6 h < wm < mid, and batch-1 errors all sit above mid,
      so no droppable purchase can match), and the exact percentile
      buffered every value in one aggregation state (guide §5).
    * file mtimes are pinned half0-older: FileStreamSource orders files
      by modification time, and the one-pass write would otherwise leave
      the batch order to sub-second write timing. Batch order does not
      change the RESULT (the watermark argument above is symmetric), but
      a deterministic order keeps every run's per-batch progress
      comparable.
    NULL-ts rows match neither half — exactly the old filters' behavior
    (they cannot join: every join condition on a NULL ts is NULL)."""
    import time as _time

    src = os.path.join(sf_dir, "events.parquet")
    key = source_fingerprint(src, "pe-midsplit")
    root = os.path.join(tempfile.gettempdir(), f"ps_stage_pejoin_{key}")

    def build(tmp: str) -> None:
        from petasearch_spark.sources.tables import normalize_events_ts

        flat = os.path.join(tmp, "flat")
        os.makedirs(flat)
        batch = normalize_events_ts(spark.read.parquet(src)).filter(
            F.col("ts").isNotNull()
        )
        mid = batch.agg(
            F.expr("approx_percentile(unix_micros(ts), 0.5)")
        ).collect()[0][0]
        halves = os.path.join(tmp, "halves")
        (
            batch.withColumn(
                "half", (F.unix_micros("ts") > F.lit(mid)).cast("int")
            )
            .repartition(2, "half")
            .write.mode("overwrite")
            .partitionBy("half")
            .parquet(halves)
        )
        n = 0
        t0 = _time.time()
        for i in range(2):
            hdir = os.path.join(halves, f"half={i}")
            for f in sorted(os.listdir(hdir)) if os.path.isdir(hdir) else []:
                if f.endswith(".parquet"):
                    os.utime(os.path.join(hdir, f), (t0 + 10 * i, t0 + 10 * i))
                    # RELATIVE symlink: survives the tmp -> root rename
                    os.symlink(
                        os.path.join("..", "halves", f"half={i}", f),
                        os.path.join(flat, f"part{n}.parquet"),
                    )
                    n += 1

    return os.path.join(staged_cache(root, build), "flat")


def events_stream_purchase_error_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INTERVAL JOIN: purchases joined to the same user's
    errors arriving within {JOIN_WINDOW_S} s — the remaining structured-
    streaming operator class after windowed aggregation
    (events_stream_hourly), custom state (events_stream_user_totals) and
    streaming dedup (docs_stream_dedup).

    Both sides are branches of ONE file stream with watermarks; the
    watermark + time-range condition is what lets Spark BOUND the join
    state (a purchase can be evicted once the error-side watermark passes
    ts + window — without it, stream-stream state grows forever at
    100 TB/day). The staging splits the events at the median timestamp
    into TWO files processed as separate micro-batches
    (maxFilesPerTrigger=1), so purchases buffered in batch 0 must be
    matched against errors arriving in batch 1 — cross-batch join state
    is genuinely exercised, and because the split is by time the
    watermark never drops a row, keeping the batch theta-join oracle
    exact. Inner join, append mode, availableNow. The staging itself is
    content-cached and single-pass since round 10 (_stage_join_halves).
    """
    apply_session_defaults(spark)  # nanosAsLong + UTC for a foreign session
    flat = _stage_join_halves(spark, sf_dir)
    # schema from the SOURCE footer (one metadata read, no data scan):
    # the staged flat dir may legitimately hold zero files (degenerate
    # all-NULL-ts events) and could not infer a schema then
    from petasearch_spark.sources.tables import normalize_events_ts

    schema = normalize_events_ts(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    errors = (
        stream.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr(f"INTERVAL {JOIN_WINDOW_S} SECONDS")),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "error_id",
        (F.unix_micros("e_ts") - F.unix_micros("p_ts")).alias("gap_us"),
    )
    name = "events_stream_join_sink"
    run_replay(joined, name, "append")
    return spark.table(name).orderBy("user_id", "purchase_id", "error_id")


EVENTS_STREAM_JOIN_SQL = f"""
SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id,
       epoch_us(e.ts) - epoch_us(p.ts) AS gap_us
FROM events p
JOIN events e
  ON p.user_id = e.user_id
 AND p.event_type = 'purchase' AND e.event_type = 'error'
 AND epoch_us(e.ts) - epoch_us(p.ts) >= 0
 AND epoch_us(e.ts) - epoch_us(p.ts) <= {JOIN_WINDOW_S * 1000000}
ORDER BY p.user_id, purchase_id, error_id
"""
