"""Custom stateful streaming operators (applyInPandasWithState) +
streaming dedup — the beyond-parity Structured Streaming surface.

Both queries stage the events/documents parquet as a 2-file directory and
run with ``maxFilesPerTrigger=1`` + ``Trigger.AvailableNow``, so the
stream executes as (at least) two micro-batches and the state store does
real cross-batch work; a single-batch run would never exercise state
round-trips. Over the full file set the result must equal the batch
answer, which is what the DuckDB oracle checks.

Determinism: per-user money totals are accumulated as integer cents
(floor(value*100 + 0.5), the identical float ops on both engines — exact
for all signs, not just the fixture's positive 2-decimal amounts), so
the running state is exact and the final doubles are bit-identical to
the oracle's integer arithmetic regardless of row order across batches.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from petasearch_spark.session import apply_session_defaults
from petasearch_spark.storage import source_fingerprint, staged_cache


def _stage_two_files(spark: SparkSession, src_parquet: str, split_col: str) -> str:
    """Split one parquet file into a 2-file staging dir (micro-batch bait).
    Cached per (source CONTENT, split column) like a fixture so repeated
    gate/bench runs reuse one staging copy instead of leaking tempdirs
    (the round-3 ADVICE finding on the JSONL stager, applied here too),
    while a regenerated source gets a fresh key. Published atomically via
    :func:`staged_cache`, so concurrent processes cannot observe a
    half-built dir."""
    key = source_fingerprint(src_parquet, split_col)
    # "2b": dirs under this prefix are only ever PUBLISHED complete (the
    # pre-rename scheme's marker files don't exist here by construction)
    root = os.path.join(tempfile.gettempdir(), f"ps_stage2b_{key}")

    def build(tmp: str) -> None:
        flat = os.path.join(tmp, "flat")
        os.makedirs(flat)
        df = spark.read.parquet(src_parquet)
        for i in range(2):
            # pmod + NULL->half0: Spark's % keeps the dividend sign and
            # propagates NULL, so negative or NULL split keys matched
            # NEITHER half and silently vanished from the staged stream
            # (round-5 audit)
            half = F.coalesce(F.pmod(F.col(split_col), F.lit(2)), F.lit(0)) == i
            df.filter(half).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(tmp, f"half{i}"))
        n = 0
        for i in range(2):
            half = os.path.join(tmp, f"half{i}")
            for f in sorted(os.listdir(half)):
                if f.endswith(".parquet"):
                    # RELATIVE symlink: survives the tmp -> root rename
                    os.symlink(
                        os.path.join("..", f"half{i}", f),
                        os.path.join(flat, f"part{n}.parquet"),
                    )
                    n += 1

    return os.path.join(staged_cache(root, build), "flat")


_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def run_replay(
    stream_df: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> StreamingQuery:
    """THE replay runner: drive ``stream_df`` under
    ``trigger(availableNow=True)`` to termination and return the
    terminated query (its ``recentProgress`` holds one entry per
    micro-batch). ``sink`` is a memory-table name (the table is
    ``spark.table(sink)`` afterwards) or a ``foreachBatch`` function.
    ``checkpoint`` defaults to a temporary directory removed on return;
    pass a durable one to resume across runs (curate-stream's ingest
    barrier).

    A replay has no use for the trailing no-data micro-batch: the
    terminating query would advance its watermark and evict state only
    to drop that state anyway (a full state-store commit cycle for zero
    rows). No-data batches are therefore off for THIS query only — the
    session's previous value (or its absence) is restored once the
    query ends, so a live watermarked stream on the same session keeps
    evicting state while idle."""
    spark = stream_df.sparkSession
    prev = spark.conf.get(_NO_DATA_BATCHES, None)
    query = None
    with tempfile.TemporaryDirectory() as tmp_ckpt:
        writer = (
            stream_df.writeStream.outputMode(output_mode)
            .option("checkpointLocation", checkpoint or tmp_ckpt)
            .trigger(availableNow=True)
        )
        if callable(sink):
            writer = writer.foreachBatch(sink)
        else:
            writer = writer.format("memory").queryName(sink)
        spark.conf.set(_NO_DATA_BATCHES, "false")
        try:
            query = writer.start()
            query.awaitTermination()
        finally:
            if query is not None and query.isActive:
                query.stop()
            if prev is None:
                spark.conf.unset(_NO_DATA_BATCHES)
            else:
                spark.conf.set(_NO_DATA_BATCHES, prev)
    return query


def user_totals_precount(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STATELESS map-side combine for the user-totals stream (round 11 —
    the cm_stream/quantiles precount pattern applied to the third
    stateful twin, guide §2.3): per Arrow batch, collapse raw
    ``(user_id, value)`` rows to one ``(user_id, n, cents)`` partial per
    user, so the state operator's shuffle carries |users| rows per
    partition instead of |events|. The per-ROW arithmetic is verbatim
    the old transition's — isfinite mask (NULL arrives as NaN through
    Arrow; ±Inf excluded like the SQL twin's isfinite), then
    ``np.floor(v*100 + 0.5)`` per value BEFORE summing (floor of the
    same float ops is cross-engine exact for all signs; summing first
    would change the rounding) — so partial-fold totals are bit-equal
    to row-fold totals."""
    import numpy as np

    for pdf in batches:
        v = pdf["value"].to_numpy()
        ok = np.isfinite(v)
        cents = np.zeros(len(v), dtype="int64")
        cents[ok] = np.floor(v[ok] * 100 + 0.5).astype("int64")
        g = (
            pd.DataFrame(
                {"user_id": pdf["user_id"], "n": ok.astype("int64"), "cents": cents}
            )
            .groupby("user_id", sort=False, dropna=False)
            .sum()
            .reset_index()
        )
        u = g["user_id"]
        if u.dtype.kind == "f":
            # a NULL user_id (a legal group — the SQL twin groups it)
            # upcasts the int64 key to float64 with NaN in pandas; map
            # back to None/int so Arrow emits a typed NULL long, exactly
            # the key tuple the old per-row path produced. The frame is
            # |users|-sized, so the Python loop is trivial.
            import math

            g["user_id"] = [None if math.isnan(x) else int(x) for x in u]
        yield g


def user_totals_update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """The user-totals state transition over PRE-COUNTED partials
    (see :func:`user_totals_precount`) — integer partial sums add
    associatively, so the running (n, cents) state is exact and
    order-independent exactly as the old per-row fold was. Module-level
    so the kill/recover e2e (tests/test_stream_recovery.py) drives the
    SAME composed operator the registry runs, under its own source /
    durable checkpoint / poisoned sink."""
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += int(pdf["n"].sum())
        cents += int(pdf["cents"].sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
    )


def user_totals_stream(stream: DataFrame) -> DataFrame:
    """groupBy(user_id).applyInPandasWithState over a (user_id, value)
    stream — the stateful core of :func:`events_stream_user_totals`,
    with the stateless per-batch precount in front (round 11)."""
    pre = stream.mapInPandas(user_totals_precount, schema="user_id long, n long, cents long")
    return pre.groupBy("user_id").applyInPandasWithState(
        user_totals_update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def latest_user_totals(emitted: DataFrame) -> DataFrame:
    """Final answer from update-mode emissions: the latest emission per
    user is the one with the largest running n."""
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
        .orderBy("user_id")
    )


def events_stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user (n_events, total_value) via a custom stateful
    operator: groupBy(user_id).applyInPandasWithState, state = (n, cents).
    Each micro-batch emits the updated running totals; the latest emission
    per user (largest n) is the final answer and must equal the batch
    aggregate."""
    apply_session_defaults(spark)  # nanosAsLong + UTC for a foreign session
    stage = _stage_two_files(spark, f"{sf_dir}/events.parquet", "event_id")
    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .select("user_id", "value")
    )
    out = user_totals_stream(stream)
    name = "events_stream_user_totals_sink"
    run_replay(out, name, "update")
    return latest_user_totals(spark.table(name))


EVENTS_STREAM_USER_TOTALS_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
FROM events WHERE value IS NOT NULL AND isfinite(value)
GROUP BY user_id ORDER BY user_id
"""


def docs_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicates on the content hash across
    micro-batches (state = seen hashes), then per-source distinct-document
    counts. Equals the batch COUNT(DISTINCT md5(text)) per source."""
    stage = _stage_two_files(spark, f"{sf_dir}/documents.parquet", "doc_id")
    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .select("source", F.md5("text").alias("content_hash"))
        .dropDuplicates(["source", "content_hash"])
    )
    name = "docs_stream_dedup_sink"
    run_replay(stream, name, "append")
    return (
        spark.table(name)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_unique_docs"))
        .orderBy("source")
    )


DOCS_STREAM_DEDUP_SQL = """
-- + the NULL-text group: dropDuplicates keeps ONE NULL-hash row per
-- source (a NULL-text document IS a document — law (o)), while
-- COUNT(DISTINCT) silently skips NULLs (round-7 fuzz)
SELECT source,
       COUNT(DISTINCT md5(text))
         + MAX(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS n_unique_docs
FROM documents GROUP BY source ORDER BY source
"""


def cm_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min sketch: the 4×512 counter matrix maintained as
    per-(row, bucket) integer state across micro-batches — the ingest-time
    form of sketches.cm_heavy_hitters (a production pipeline folds tokens
    into the sketch as data ARRIVES; the batch query is the rebuild).

    Each micro-batch's exploded (d, bucket) token rows flow into
    ``applyInPandasWithState`` keyed by (d, b): state = one counter,
    update = += batch row count. Counter addition is associative and
    commutative, so after the final batch the state matrix must equal the
    batch-built sketch EXACTLY — the probe stage then reuses the batch
    top-k audit and the whole query sits under the same DuckDB oracle as
    the batch twin. At scale the state is bounded at depth×width keys
    (2,048 counters) regardless of corpus size — the defining property
    of the sketch."""
    from petasearch_spark.operators.portable import hash64, tokens
    from petasearch_spark.operators.sketches import CM_DEPTH, CM_TOP_K, CM_WIDTH, _cm_bucket

    stage = _stage_two_files(spark, f"{sf_dir}/documents.parquet", "doc_id")
    schema = spark.read.parquet(stage).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .select(F.explode(tokens(F.col("text"))).alias("term"))
        .select(F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("d"), "term")
        .select("d", _cm_bucket(F.col("d"), F.col("term"), CM_WIDTH).alias("b"))
    )

    def precount(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # STATELESS map-side combine: a streaming aggregation before the
        # state op would be a second stateful operator (unsupported), but
        # a per-Arrow-batch partial count is plain projection as far as
        # the planner cares — it shrinks the state op's input from one
        # row per token x depth to <= depth x width rows per batch
        for pdf in batches:
            g = pdf.groupby(["d", "b"], sort=False).size().reset_index(name="w")
            yield g

    stream = raw.mapInPandas(precount, schema="d int, b long, w long")

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (c,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            c += int(pdf["w"].sum())
        state.update((c,))
        yield pd.DataFrame({"d": [key[0]], "b": [key[1]], "c": [c]})

    out = stream.groupBy("d", "b").applyInPandasWithState(
        update,
        outputStructType="d int, b long, c long",
        stateStructType="c long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = "cm_stream_sink"
    run_replay(out, name, "update")
    # latest emission per counter = the final running value
    counters = (
        spark.table(name).groupBy("d", "b").agg(F.max("c").alias("c"))
    )
    # probe: batch-side top-k exact terms audited against the STREAM-built
    # counter matrix (identical to sketches.cm_probe's probe stage)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = tf.orderBy(F.desc("cnt"), "term").limit(CM_TOP_K)
    probes = top.select(
        "term",
        F.col("cnt").alias("exact_cnt"),
        F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("d"),
    ).select(
        "term", "exact_cnt", "d", _cm_bucket(F.col("d"), F.col("term"), CM_WIDTH).alias("b")
    )
    return (
        probes.join(F.broadcast(counters), ["d", "b"])
        .groupBy("term", "exact_cnt")
        .agg(F.min("c").alias("cm_estimate"))
        .select(
            "term",
            "exact_cnt",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("exact_cnt")).alias("overestimate"),
        )
        .orderBy(F.desc("exact_cnt"), "term")
    )


def quantile_bucket_counts(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sign-aware decimal bucket combine over an ``(event_type, value)``
    pandas batch — the streaming precount kernel, module-level so its
    rounding/bucketing parity with the batch engine is unit-testable.

    Must mirror the engine/SQL exactly: HALF_UP-away-from-zero cents
    of the double product ``v*100``, computed as ``trunc + exact
    fractional comparison against 0.5``. Both subtleties matter:
    ``floor(v*100+0.5)`` rounds negative halves toward +inf (round-4
    ADVICE), and the literal ``+ 0.5`` float ADDITION is inexact — for
    a product like 0.49999999999999994 it lands on exactly 1.0 and
    rounds UP where Spark's decimal HALF_UP and DuckDB's binary
    half-away-from-zero both round DOWN (round-5 review finding).
    ``prod - trunc(prod)`` is exact in IEEE754 (Sterbenz for |prod|>=1,
    trivially for |prod|<1) and n.5 boundaries are exactly
    representable, so the >= 0.5 comparison is the true comparison —
    which is also why Spark's shortest-decimal-repr HALF_UP and
    DuckDB's binary rounding agree with it. Then sign + digit count +
    leading digits of the ABSOLUTE cents (so '-' never counts as a
    digit)."""
    import numpy as np

    from petasearch_spark.operators.events import SKETCH_LEAD_DIGITS

    prod = np.abs(pdf["value"].to_numpy("float64")) * 100.0
    t = np.trunc(prod)
    a = (t + (prod - t >= 0.5)).astype("int64")
    sgn = np.where(a == 0, 1, np.sign(pdf["value"].to_numpy("float64"))).astype("int64")
    s = pd.Series(a).astype(str)
    d = s.str.len().to_numpy().astype("int64")
    lead = np.where(d <= SKETCH_LEAD_DIGITS, a, s.str[:SKETCH_LEAD_DIGITS].astype("int64"))
    return (
        pd.DataFrame({"event_type": pdf["event_type"], "s": sgn, "d": d, "l": lead})
        # dropna=False: pandas groupby silently DROPS NULL-key groups by
        # default, so the NULL event_type's whole sketch vanished from
        # the stream while the batch/SQL twins grouped it (round-7 fuzz)
        .groupby(["event_type", "s", "d", "l"], sort=False, dropna=False)
        .size()
        .reset_index(name="w")
    )


def events_stream_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile sketch: the per-type decimal-DDSketch bucket
    histogram of ``operators.events.quantile_sketch`` maintained as
    ``applyInPandasWithState`` state across micro-batches — the
    ingest-time form (a production pipeline folds values into the sketch
    as data ARRIVES; the batch query is the rebuild).

    Bucket counts add associatively and commutatively, so after the
    final batch the state histogram equals the batch-built sketch
    EXACTLY and the query sits under the same DuckDB oracle as the
    batch twin (the cm_stream_heavy_hitters pattern). State per
    event_type is bounded by the bucket grammar (<= ~900 buckets per
    decimal decade + 1000 exact cents buckets) REGARDLESS of stream
    length — the property that makes the sketch a legal unbounded-
    stream operator where the exact distinct-value histogram is not.
    Each micro-batch emits the type's current running quantile
    estimates; the emission with the largest n_events is the final
    answer."""
    from petasearch_spark.operators.events import QUANTILE_PCTS, SKETCH_LEAD_DIGITS

    import numpy as np

    stage = _stage_two_files(spark, f"{sf_dir}/events.parquet", "event_id")
    schema = spark.read.parquet(stage).schema
    from petasearch_spark.operators.events import _finite_value

    # non-finite values excluded like NULLs — the SAME mask the batch
    # sketch applies (its oracle is shared verbatim; round-7 fuzz)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .select("event_type", _finite_value(F.col("value")).alias("value"))
        .filter(F.col("value").isNotNull())
    )

    def precount(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # STATELESS per-Arrow-batch bucket combine (same reasoning as
        # cm_stream's precount): shrinks the state op's input from one
        # row per event to <= |buckets| rows per batch
        for pdf in batches:
            yield quantile_bucket_counts(pdf)

    stream = raw.mapInPandas(
        precount, schema="event_type string, s long, d long, l long, w long"
    )

    def _rep_x2(s: int, d: int, l: int) -> int:
        # signed doubled-cents bucket midpoint — identical to the batch
        # engine's rep_x2; monotone in value order, so sorting buckets by
        # it walks negatives largest-magnitude-first then positives
        if d <= SKETCH_LEAD_DIGITS:
            r = 2 * l
        else:
            width = 10 ** (d - SKETCH_LEAD_DIGITS)
            r = 2 * l * width + width
        return s * r

    def _estimates(buckets: dict) -> dict:
        items = sorted(buckets.items(), key=lambda kv: _rep_x2(*kv[0]))
        n = sum(c for _, c in items)
        out = {"n_events": n, "n_buckets": len(items)}
        for p in QUANTILE_PCTS:
            rank = (p * n + 99) // 100
            cum = 0
            est = None
            for (s, d, l), c in items:
                cum += c
                if cum >= rank:
                    est = _rep_x2(s, d, l) / 200.0
                    break
            out[f"p{p}_est"] = est
        return out

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            ss, ds, ls, cs = state.get
            buckets = {
                (int(s), int(d), int(l)): int(c) for s, d, l, c in zip(ss, ds, ls, cs)
            }
        else:
            buckets = {}
        for pdf in pdfs:
            for s, d, l, w in zip(pdf["s"], pdf["d"], pdf["l"], pdf["w"]):
                k = (int(s), int(d), int(l))
                buckets[k] = buckets.get(k, 0) + int(w)
        ks = sorted(buckets)
        state.update(
            (
                [s for s, _, _ in ks],
                [d for _, d, _ in ks],
                [l for _, _, l in ks],
                [buckets[k] for k in ks],
            )
        )
        est = _estimates(buckets)
        yield pd.DataFrame([{"event_type": key[0], **est}])

    out_schema = "event_type string, n_events long, n_buckets long, " + ", ".join(
        f"p{p}_est double" for p in QUANTILE_PCTS
    )
    out = stream.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="ss array<long>, ds array<long>, ls array<long>, cs array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = "events_stream_quantiles_sink"
    run_replay(out, name, "update")
    emitted = spark.table(name)
    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"))
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("event_type")
    )
