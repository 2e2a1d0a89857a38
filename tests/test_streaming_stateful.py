"""Stateful streaming: prove the state store does cross-batch work (the
oracle parity test alone would also pass for a single-batch run)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from petasearch_spark.streaming.stateful import docs_stream_dedup, events_stream_user_totals, run_replay

SF_DIR = "/root/testdata/sf0.001"
NO_DATA_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"


def _watermarked_two_file_stream(spark, root: str):
    """A watermarked windowed count over a 2-file parquet source read one
    file per micro-batch; batch 1 advances event time past batch 0's
    window, so a no-data batch after it WOULD have work to do."""
    flat = os.path.join(root, "flat")
    os.makedirs(flat)
    for i, ts in enumerate(["2024-01-01 10:00:00", "2024-01-01 14:00:00"]):
        part = os.path.join(root, f"b{i}")
        spark.createDataFrame([(ts, 1.0)], "ts_s string, value double").selectExpr(
            "CAST(ts_s AS TIMESTAMP) AS ts", "value"
        ).coalesce(1).write.parquet(part)
        (f,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        # the file source orders by modification time: b0 strictly first
        os.utime(os.path.join(part, f), (1_700_000_000 + i, 1_700_000_000 + i))
        os.symlink(os.path.join(part, f), os.path.join(flat, f"p{i}.parquet"))
    return (
        spark.readStream.schema("ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .count()
    )


@pytest.fixture
def no_data_conf(spark):
    """Run a test against a chosen session value of the no-data key and
    put the session's own value back afterwards."""
    own = spark.conf.get(NO_DATA_KEY, None)

    def set_to(value):
        if value is None:
            spark.conf.unset(NO_DATA_KEY)
        else:
            spark.conf.set(NO_DATA_KEY, value)

    yield set_to
    set_to(own)


@pytest.mark.parametrize("prior", [None, "true"])
def test_replay_runs_only_data_batches_and_restores_session(spark, tmp_path, no_data_conf, prior):
    """The replay skips the trailing no-data micro-batch (exactly one
    batch per staged file), and the override is scoped to the replay:
    the session's value afterwards is the value it had before — unset
    stays unset, an explicit "true" stays "true"."""
    no_data_conf(prior)
    query = run_replay(_watermarked_two_file_stream(spark, str(tmp_path)), "replay_probe_sink")
    assert [p.batchId for p in query.recentProgress] == [0, 1]
    assert not query.isActive
    assert spark.conf.get(NO_DATA_KEY, None) == prior


def test_replay_restores_session_when_the_sink_raises(spark, tmp_path, no_data_conf):
    """A failing foreachBatch function fails the replay, but the session
    value is still restored and no query is left running."""
    no_data_conf("true")

    def boom(_batch, _batch_id):
        raise RuntimeError("sink failure")

    with pytest.raises(Exception, match="sink failure"):
        run_replay(_watermarked_two_file_stream(spark, str(tmp_path)), boom)
    assert spark.conf.get(NO_DATA_KEY, None) == "true"
    assert spark.streams.active == []


def test_events_stream_hourly_leaves_no_stage_dir(spark):
    """The symlink stage lives only as long as its replay."""
    from petasearch_spark.streaming.events_stream import events_stream_hourly

    def n_stages():
        return sum(1 for f in os.listdir(tempfile.gettempdir()) if f.startswith("events_stream_"))

    before = n_stages()
    assert events_stream_hourly(spark, SF_DIR).count() > 0
    assert n_stages() == before


def test_user_totals_state_carries_across_batches(spark):
    final = events_stream_user_totals(spark, SF_DIR)
    rows = final.collect()
    assert len(rows) > 0
    # the raw sink holds one emission per (user, micro-batch); users whose
    # events split across both halves must have TWO emissions with
    # strictly increasing running counts — i.e. state actually carried.
    emitted = spark.table("events_stream_user_totals_sink")
    per_user = (
        emitted.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_emit"), F.max("n_events").alias("mx"), F.min("n_events").alias("mn"))
        .collect()
    )
    multi = [r for r in per_user if r["n_emit"] >= 2]
    assert multi, "no user spanned both micro-batches - state never exercised"
    assert all(r["mx"] > r["mn"] for r in multi)
    # final totals = batch aggregate
    batch = {
        (r["user_id"]): (r["n"], float(r["tv"]))
        for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")) / 100.0).alias("tv"),
        )
        .collect()
    }
    for r in rows:
        n, tv = batch[r["user_id"]]
        assert r["n_events"] == n and r["total_value"] == tv


def test_docs_stream_dedup_matches_batch(spark):
    got = {r["source"]: r["n_unique_docs"] for r in docs_stream_dedup(spark, SF_DIR).collect()}
    want = {
        r["source"]: r["n"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .groupBy("source")
        .agg(F.countDistinct(F.md5("text")).alias("n"))
        .collect()
    }
    assert got == want


def test_watermark_drops_late_events(spark, tmp_path):
    """Watermark semantics demo: batch 2 delivers an event whose timestamp
    is far behind the watermark advanced by batch 1 -> the late row is
    DROPPED from its (already emitted) window in append mode."""
    # Watermark propagation lags one batch (batch N filters with stats
    # from batch N-1), so the demonstration needs THREE batches: b0 loads
    # the 10:00 window and advances event time to 13:00; b1's arrival
    # (wm now 12:00) closes and EMITS the 10:00 window; b2 delivers a
    # 10:07 event long after — its window state is gone and the row is
    # dropped, never re-emitted.
    stage = str(tmp_path / "wm_in")
    os.makedirs(stage)
    rows0 = [("2024-01-01 10:00:00", 1.0), ("2024-01-01 10:05:00", 2.0), ("2024-01-01 13:00:00", 4.0)]
    rows1 = [("2024-01-01 14:00:00", 8.0)]
    rows2 = [("2024-01-01 10:07:00", 100.0)]
    for i, rows in enumerate([rows0, rows1, rows2]):
        spark.createDataFrame(rows, "ts_s string, value double").selectExpr(
            "CAST(ts_s AS TIMESTAMP) AS ts", "value"
        ).coalesce(1).write.parquet(os.path.join(stage, f"b{i}"))
    flat = str(tmp_path / "wm_flat")
    os.makedirs(flat)
    n = 0
    for i in range(3):
        d = os.path.join(stage, f"b{i}")
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                src = os.path.join(d, f)
                # the file source orders by modification time: force b0
                # strictly older than b1 so the batches arrive in order
                os.utime(src, (1_700_000_000 + i * 3600, 1_700_000_000 + i * 3600))
                os.symlink(src, os.path.join(flat, f"p{n}.parquet"))
                n += 1
    schema = spark.read.parquet(flat).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(flat)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.sum("value").alias("total"))
        .select(F.date_format("w.start", "HH:mm").alias("hour"), "total")
    )
    name = "wm_sink"
    run_replay(stream, name)
    got = {r["hour"]: r["total"] for r in spark.table(name).collect()}
    # 10:00 window closed with only batch-0 rows; the late 100.0 from
    # batch 2 was dropped and never appears anywhere.
    assert got.get("10:00") == 3.0
    assert 100.0 not in got.values()
    assert sum(got.values()) <= 15.0


def test_stream_join_state_carries_across_batches(spark, tmp_path):
    """Purchases from micro-batch 0 must join errors from micro-batch 1.
    Constructed corpus: the only qualifying pair has its purchase below
    and its error above the median-ts split the staging uses, so the
    result can only exist if buffered join state survived the batch
    boundary (the driver corpus at this SF happens to have no
    boundary-crossing pair, hence the constructed one)."""
    import datetime as dt

    from petasearch_spark.streaming.events_stream import (
        events_stream_purchase_error_join,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for h in range(12):
        etype = "click"
        user = 99
        if h == 5:
            etype, user = "purchase", 1
        if h == 7:
            etype, user = "error", 1
        rows.append((h, base + dt.timedelta(hours=h), user, etype, 1.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    out = events_stream_purchase_error_join(spark, str(tmp_path)).collect()
    assert [(r["user_id"], r["purchase_id"], r["error_id"]) for r in out] == [(1, 5, 7)]
    # the split point is the median ts: h5 (purchase) <= mid < h7 (error)
    mid = df.agg(F.expr("percentile(unix_micros(ts), 0.5)")).collect()[0][0]
    us = {r["event_id"]: r["us"] for r in df.select("event_id", F.unix_micros("ts").alias("us")).collect()}
    assert us[5] <= mid < us[7]


def test_cm_stream_equals_batch_sketch(spark):
    """The stream-built counter matrix must reproduce the batch sketch
    EXACTLY (counter addition is associative/commutative), and the state
    must actually span micro-batches: counters touched by both halves of
    the staged corpus emit twice with strictly growing values."""
    from petasearch_spark.operators.sketches import cm_heavy_hitters
    from petasearch_spark.streaming.stateful import cm_stream_heavy_hitters

    sf = "/root/testdata/sf0.001"
    stream_rows = [tuple(r) for r in cm_stream_heavy_hitters(spark, sf).collect()]
    batch_rows = [tuple(r) for r in cm_heavy_hitters(spark, sf).collect()]
    assert stream_rows == batch_rows and len(stream_rows) > 0
    # raw sink: one emission per (counter, micro-batch it was touched in)
    emitted = spark.table("cm_stream_sink").groupBy("d", "b").agg(
        F.count(F.lit(1)).alias("n_emits"), F.min("c").alias("c0"), F.max("c").alias("c1")
    )
    multi = emitted.filter(F.col("n_emits") >= 2)
    assert multi.count() > 0, "no counter spanned both micro-batches - state never exercised"
    assert multi.filter(F.col("c1") <= F.col("c0")).count() == 0, "running counters must grow"


def test_stream_quantiles_equals_batch_sketch(spark):
    """The stream-built bucket histogram must reproduce the batch
    quantile sketch EXACTLY (bucket counts add commutatively), state
    must span micro-batches (every type emits once per batch with
    strictly growing n_events), and the mid-stream emission is a valid
    partial sketch (n_buckets within the same grammar bound)."""
    from petasearch_spark.operators.events import events_quantile_sketch
    from petasearch_spark.streaming.stateful import events_stream_quantiles

    sf = "/root/testdata/sf0.001"
    stream_rows = [tuple(r) for r in events_stream_quantiles(spark, sf).collect()]
    batch_rows = [tuple(r) for r in events_quantile_sketch(spark, sf).collect()]
    assert stream_rows == batch_rows and len(stream_rows) > 0
    emitted = spark.table("events_stream_quantiles_sink")
    per_type = emitted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_emits"),
        F.min("n_events").alias("n0"),
        F.max("n_events").alias("n1"),
        F.max("n_buckets").alias("mb"),
    )
    rows = {r["event_type"]: r for r in per_type.collect()}
    assert rows and all(r["n_emits"] >= 2 for r in rows.values()), (
        "every type must be touched by both staged micro-batches"
    )
    assert all(r["n0"] < r["n1"] for r in rows.values()), "running n_events must grow"
    # bucket-grammar bound: cents < 10^5 at this SF -> 1000 exact + 2*900
    assert all(r["mb"] <= 1000 + 2 * 900 for r in rows.values())


def test_user_totals_cents_kernel_matches_sql_floor_on_negatives():
    """Round-5 audit: the stream's cents accumulation uses np.floor of
    the same float ops as the SQL twin's floor(value*100 + 0.5) — NOT
    astype-truncation, which truncates toward zero and diverges on any
    negative (refund) amount. Pure-arithmetic pin, no stream needed."""
    import duckdb
    import numpy as np

    vals = [-3.335, -0.005, -0.004, -12.5, 0.0, 0.005, 7.775, 123.45]
    got = int(np.floor(np.array(vals) * 100 + 0.5).sum())
    want = duckdb.connect().execute(
        "SELECT CAST(SUM(CAST(floor(v * 100 + 0.5) AS BIGINT)) AS BIGINT) "
        "FROM (SELECT unnest(?::DOUBLE[]) AS v)",
        [vals],
    ).fetchone()[0]
    assert got == int(want)
