"""Incremental curate e2e: the streaming ingest checkpoint is the
parse-once barrier, idempotent bronze batches are the landing store, and
the batch resume machinery (markers + bronze fingerprint) decides when
the funnel recomputes. Three runs over a growing landing zone:

1. initial dump        -> full curate; accounting equals the batch CLI's
2. one NEW file added  -> ONLY the new file is parsed (the old files are
                          poisoned in place, fingerprint-invisibly —
                          re-reading them would change the counts),
                          funnel recomputed over the union corpus
3. nothing new         -> zero micro-batches, every curate stage resumed,
                          accounting values identical to run 2
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from petasearch_spark.cli import main
from petasearch_spark.sources.tables import load_table
from petasearch_spark.streaming.curate_stream import curate_stream

SF = "/root/testdata/sf0.001"
MALFORMED_MOD = 50


def _dump_lines(docs):
    line = F.to_json(
        F.struct(
            F.concat(F.lit("doc-"), F.col("doc_id")).alias("id"),
            "text",
            "lang",
            "source",
        )
    )
    return F.when(
        F.col("doc_id") % MALFORMED_MOD == 7, F.substring(line, 1, 15)
    ).otherwise(line)


def _poison_in_place(dump: str) -> None:
    """Corrupt every existing data file WITHOUT changing size/mtime —
    invisible to the bronze fingerprint AND to mtime-based file listing,
    so any re-read by a later run changes the parse counts and fails the
    accounting assertions."""
    for root, _, files in os.walk(dump):
        for f in files:
            if not f.startswith("part-"):
                continue
            p = os.path.join(root, f)
            st = os.stat(p)
            with open(p, "r+") as fh:
                fh.write("POISON NOT JSON ")
            os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))


def test_curate_stream_incremental_parse_and_recurate(spark, tmp_path, capsys, monkeypatch):
    docs = load_table(spark, "documents", SF)
    dump = str(tmp_path / "landing")
    os.makedirs(dump)
    first = docs.filter(F.col("doc_id") < 300)
    first.select(_dump_lines(first).alias("value")).coalesce(2).write.mode(
        "overwrite"
    ).text(os.path.join(dump, "day1"))

    out = str(tmp_path / "out")
    r1 = curate_stream(spark, dump, out)
    assert r1["stream_batches"] >= 1
    n_bad1 = first.filter(F.col("doc_id") % MALFORMED_MOD == 7).count()
    assert r1["n_quarantined"] == n_bad1
    assert r1["n_staged"] == 300 - n_bad1
    assert r1["n_input_lines"] == 300
    assert r1["funnel"]["n_docs"] == r1["n_staged"]
    assert r1["n_kept"] == r1["funnel"]["kept"] > 0

    # accounting parity with the one-shot batch CLI over the same dump
    batch_out = str(tmp_path / "batch_out")
    assert main(["curate", os.path.join(dump, "day1"), batch_out]) == 0
    b = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    for k in ("n_quarantined", "n_staged", "n_dropped_null_fields", "funnel", "n_kept",
              "kept_tokens", "n_packs"):
        assert r1[k] == b[k], k

    # --- run 1 again, killed mid-drain: 6 files drain as 2 micro-batches;
    # the second dies after landing its bronze docs, before its accounting
    # sidecar and its checkpoint commit. One ordinary rerun replays it and
    # must reproduce run 1's accounting exactly, and a further run is a
    # no-op
    import petasearch_spark.streaming.curate_stream as cs

    crash_dump = str(tmp_path / "crash_landing")
    first.select(_dump_lines(first).alias("value")).repartition(6).write.text(
        os.path.join(crash_dump, "day1")
    )
    real_literal_df = cs.literal_df

    def dies_in_batch_1(spark_, rows, schema):
        if rows[0][0] == 1:
            raise RuntimeError("killed mid-drain")
        return real_literal_df(spark_, rows, schema)

    crash_out = str(tmp_path / "crash_out")
    monkeypatch.setattr(cs, "literal_df", dies_in_batch_1)
    with pytest.raises(Exception, match="killed mid-drain"):
        curate_stream(spark, crash_dump, crash_out)
    monkeypatch.setattr(cs, "literal_df", real_literal_df)
    rec = curate_stream(spark, crash_dump, crash_out)
    assert rec["stream_batches"] == 1
    for k in ("n_input_lines", "n_quarantined", "n_staged", "n_dropped_null_fields", "funnel",
              "n_kept", "kept_tokens", "n_packs"):
        assert rec[k] == r1[k], k
    again = curate_stream(spark, crash_dump, crash_out)
    assert again["stream_batches"] == 0 and again["n_kept"] == r1["n_kept"]

    # --- run 2: one NEW file; old files poisoned in place ----------------
    _poison_in_place(dump)
    second = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    second.select(_dump_lines(second).alias("value")).coalesce(1).write.mode(
        "overwrite"
    ).text(os.path.join(dump, "day2"))

    r2 = curate_stream(spark, dump, out)
    assert r2["stream_batches"] >= 1
    n_bad2 = n_bad1 + second.filter(F.col("doc_id") % MALFORMED_MOD == 7).count()
    # poison-proof: these counts are only right if day1 was NOT re-parsed
    assert r2["n_input_lines"] == 400
    assert r2["n_quarantined"] == n_bad2
    assert r2["n_staged"] == 400 - n_bad2
    # the funnel saw the union corpus (bronze changed -> full recompute)
    assert r2["funnel"]["n_docs"] == r2["n_staged"]
    assert r2["resumed_stages"] == []

    # --- run 3: nothing new -> zero batches, everything resumed ----------
    r3 = curate_stream(spark, dump, out)
    assert r3["stream_batches"] == 0
    assert r3["resumed_stages"] == ["staging", "funnel", "curated", "packs"]
    for k in ("n_quarantined", "n_input_lines", "n_staged", "funnel", "n_kept", "n_packs"):
        assert r3[k] == r2[k], k


def test_curate_stream_cli_entrypoint(spark, tmp_path, capsys):
    docs = load_table(spark, "documents", SF).filter(F.col("doc_id") < 80)
    dump = str(tmp_path / "landing")
    os.makedirs(dump)
    docs.select(_dump_lines(docs).alias("value")).coalesce(1).write.mode(
        "overwrite"
    ).text(os.path.join(dump, "d0"))
    out = str(tmp_path / "out")
    assert main(["curate-stream", dump, out]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_input_lines"] == 80
    assert rep["n_staged"] + rep["n_quarantined"] + rep["n_dropped_null_fields"] == 80
    assert rep["n_kept"] == rep["funnel"]["kept"]


def test_curate_stream_follow_drains_until_quiet(spark, tmp_path, capsys):
    """Continuous mode (round-7): a follow run over a landing zone that
    GROWS between drains must (a) parse each delivery exactly once
    through the shared checkpoint, (b) re-curate only when bronze
    changed, and (c) stop after the configured number of quiet drains.
    The growth is injected via the on_poll hook (round-8: the old
    time.sleep monkeypatch raced against background threads that also
    call time.sleep — the delivery could land after the next drain's
    listing on a loaded host)."""
    from petasearch_spark.streaming.curate_stream import curate_stream_follow

    docs = load_table(spark, "documents", SF)
    dump, out = str(tmp_path / "landing"), str(tmp_path / "out")
    docs.filter(F.col("doc_id") % 2 == 0).select(
        _dump_lines(docs).alias("value")
    ).coalesce(1).write.mode("overwrite").text(os.path.join(dump, "day1"))

    def deliver_day2(poll_index: int, _report: dict) -> None:
        if poll_index == 0:
            docs.filter(F.col("doc_id") % 2 == 1).select(
                _dump_lines(docs).alias("value")
            ).coalesce(1).write.mode("overwrite").text(os.path.join(dump, "day2"))

    rep = curate_stream_follow(
        spark, dump, out, poll_interval_s=0.0, idle_polls=2, max_polls=8,
        on_poll=deliver_day2,
    )

    per_poll = rep["follow_batches_per_poll"]
    # drain 1: day1 parsed; drain 2: day2 (landed during the sleep hook)
    # parsed; then exactly idle_polls quiet drains and the loop stops
    assert per_poll[0] > 0 and per_poll[1] > 0, per_poll
    assert per_poll[-2:] == [0, 0] and len(per_poll) == 4, per_poll
    assert rep["follow_total_batches"] == per_poll[0] + per_poll[1]
    # the final report's corpus covers BOTH deliveries exactly once:
    # every line seen, the planted-malformed ones (doc_id % 50 == 7)
    # quarantined, the rest staged
    n_docs = docs.count()
    n_malformed = docs.filter(F.col("doc_id") % MALFORMED_MOD == 7).count()
    assert rep["n_input_lines"] == n_docs
    assert rep["n_quarantined"] == n_malformed
    assert rep["funnel"]["n_docs"] == n_docs - n_malformed


def test_curate_stream_follow_max_polls_contract(spark, tmp_path):
    """max_polls=None means run until idle (the service mode the round-7
    docstring promised but the loop TypeError'd on — ADVICE r7), and
    max_polls < 1 is rejected up front instead of returning a report
    that carries only follow_* keys."""
    import pytest as _pytest

    from petasearch_spark.streaming.curate_stream import curate_stream_follow

    docs = load_table(spark, "documents", SF)
    dump, out = str(tmp_path / "landing"), str(tmp_path / "out")
    docs.limit(20).select(_dump_lines(docs).alias("value")).coalesce(1).write.mode(
        "overwrite"
    ).text(os.path.join(dump, "day1"))

    for bad in (0, -3):
        with _pytest.raises(ValueError, match="max_polls"):
            curate_stream_follow(spark, dump, out, max_polls=bad)

    # service mode: no poll cap — the quiet landing zone stops the loop
    # via idle_polls, and the report keeps the full CLI JSON shape
    rep = curate_stream_follow(
        spark, dump, out, poll_interval_s=0.0, idle_polls=1, max_polls=None
    )
    assert rep["follow_batches_per_poll"][-1] == 0
    assert "stream_batches" in rep and "funnel" in rep


def test_curate_stream_follow_survives_raising_hook(spark, tmp_path):
    """A flaky metrics/heartbeat hook must not kill the service loop it
    observes (ADVICE r8): the exception is caught, the drain loop runs to
    its normal idle stop, and the failure is surfaced as
    follow_hook_errors on the report instead of an abort."""
    from petasearch_spark.streaming.curate_stream import curate_stream_follow

    docs = load_table(spark, "documents", SF)
    dump, out = str(tmp_path / "landing"), str(tmp_path / "out")
    docs.limit(20).select(_dump_lines(docs).alias("value")).coalesce(1).write.mode(
        "overwrite"
    ).text(os.path.join(dump, "day1"))

    def flaky_hook(poll_index: int, _report: dict) -> None:
        if poll_index == 0:
            raise RuntimeError("metrics endpoint down")

    rep = curate_stream_follow(
        spark, dump, out, poll_interval_s=0.0, idle_polls=2, max_polls=8,
        on_poll=flaky_hook,
    )
    # the loop completed normally: day1 drained, then 2 quiet polls
    assert rep["follow_batches_per_poll"][0] > 0
    assert rep["follow_batches_per_poll"][-2:] == [0, 0]
    assert "funnel" in rep  # full report shape, not an aborted partial
    assert rep["follow_hook_errors"] == [[0, repr(RuntimeError("metrics endpoint down"))]]
