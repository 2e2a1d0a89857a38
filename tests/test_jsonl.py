"""JSONL corpus ingest (sources/jsonl.py): schema-first parse,
malformed-line quarantine, gzip transparency, parquet recompression."""

from __future__ import annotations

import gzip
import json
import sys

sys.path.insert(0, "/root/repo")

GOOD = [
    {"id": "d1", "text": "hello world", "lang": "en", "source": "web", "url": "http://a", "timestamp": "2024-01-01"},
    {"id": "d2", "text": "bonjour", "lang": "fr", "source": "web", "url": "http://b", "timestamp": "2024-01-02"},
    {"id": "d3", "text": "extra keys skipped", "lang": "en", "source": "books", "url": None, "timestamp": None, "ignored_key": 42},
]
BAD = ['{"id": "d4", "text": "trunca', "not json at all"]


def _write(path, lines):
    path.write_text("\n".join(lines) + "\n")


def test_parse_quarantine_and_stable_ids(spark, tmp_path):
    from petasearch_spark.sources.jsonl import read_jsonl_docs, split_malformed

    f = tmp_path / "dump.jsonl"
    _write(f, [json.dumps(g) for g in GOOD] + BAD)
    docs = read_jsonl_docs(spark, str(f))
    clean, bad = split_malformed(docs)
    crows = {r["text"]: r for r in clean.collect()}
    assert set(crows) == {"hello world", "bonjour", "extra keys skipped"}
    assert crows["hello world"]["n_chars"] == 11
    assert crows["hello world"]["doc_id"] is not None
    # every input line accounted for
    assert bad.count() == 2
    assert docs.count() == 5
    # doc_id is content-stable: re-reading a reshuffled copy gives the
    # same ids (monotonically_increasing_id would not)
    f2 = tmp_path / "dump2.jsonl"
    _write(f2, BAD + [json.dumps(g) for g in reversed(GOOD)])
    ids1 = {r["doc_id"] for r in clean.collect()}
    clean2, _ = split_malformed(read_jsonl_docs(spark, str(f2)))
    assert {r["doc_id"] for r in clean2.collect()} == ids1


def test_gzip_transparent(spark, tmp_path):
    from petasearch_spark.sources.jsonl import read_jsonl_docs, split_malformed

    f = tmp_path / "dump.jsonl.gz"
    with gzip.open(f, "wt") as fh:
        for g in GOOD:
            fh.write(json.dumps(g) + "\n")
    clean, bad = split_malformed(read_jsonl_docs(spark, str(f)))
    assert clean.count() == 3 and bad.count() == 0


def test_parquet_roundtrip_feeds_pipeline(spark, tmp_path):
    """Ingest -> recompress -> the dedup operator family runs on it."""
    from pyspark.sql import functions as F

    from petasearch_spark.sources.jsonl import (
        read_jsonl_docs,
        split_malformed,
        write_documents,
    )

    f = tmp_path / "dump.jsonl"
    _write(f, [json.dumps(g) for g in GOOD] + [json.dumps(GOOD[0] | {"id": "d9"})])
    clean, _ = split_malformed(read_jsonl_docs(spark, str(f)))
    out = tmp_path / "docs.parquet"
    write_documents(clean, str(out), partitions=2)
    back = spark.read.parquet(str(out))
    assert back.count() == 4
    # exact-dup by text hash finds the planted duplicate
    dups = (
        back.groupBy(F.md5("text").alias("h"))
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 1


# --- CSV events ingest (sources/csv_events.py) — parser-level units ---


def test_csv_reader_quarantines_bad_value_only(spark, tmp_path):
    from petasearch_spark.sources.csv_events import read_events_csv

    p = tmp_path / "ev.csv"
    p.write_text(
        "1,2024-01-01 00:00:00,10,purchase,5.5\n"
        "2,2024-01-01 00:01:00,11,view,not-a-number\n"
        "3,2024-01-01 00:02:00,12,view,0.25\n"
    )
    rows = read_events_csv(spark, str(p)).collect()
    by_id = {r["event_id"]: r for r in rows}
    assert by_id[1]["_malformed"] is None and by_id[1]["value"] == 5.5
    assert by_id[3]["_malformed"] is None and by_id[3]["value"] == 0.25
    bad = [r for r in rows if r["_malformed"] is not None]
    assert len(bad) == 1 and bad[0]["event_type"] == "view"
    assert "not-a-number" in bad[0]["_malformed"]


def test_csv_ingest_staging_is_content_cached(spark, monkeypatch):
    """A repeat call must NOT rebuild: pin the build-invocation count
    across the staged_cache boundary (path equality alone is vacuous —
    the path is derived from the content key either way)."""
    import petasearch_spark.storage as st
    from petasearch_spark.sources.csv_events import _stage_events_csv

    calls = []
    orig = st.staged_cache

    def counting(root, build):
        def wrapped(tmp):
            calls.append(1)
            build(tmp)

        return orig(root, wrapped)

    monkeypatch.setattr(st, "staged_cache", counting)
    a = _stage_events_csv(spark, "/root/testdata/sf0.001")
    n_after_first = len(calls)  # 0 if an earlier run already published
    b = _stage_events_csv(spark, "/root/testdata/sf0.001")
    assert a == b
    assert len(calls) == n_after_first  # second call never rebuilds
