"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the configs below are the ones that also
matter on a real cluster (AQE, skew-join handling, Arrow batching for the
pandas-UDF alignment kernel, partition sizing).

The session carries no streaming overrides: a live stream built on it
keeps Spark's defaults (no-data micro-batches on, so an idle watermarked
query still evicts state). The streaming twins' replay-only settings are
scoped to each replay by ``streaming.stateful.run_replay``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "petasearch_spark", shuffle_partitions: int | None = None) -> SparkSession:
    # Python workers (pandas-UDF kernels) must be able to import this
    # package regardless of the caller's cwd: export the package root.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting. Hot k-mers (low
        # complexity sequence) are the classic skew source in the prefilter
        # join (SURVEY §4.1); the reference bounds skew via its
        # one-representative-per-kmer index (J2), we additionally let AQE
        # split any residual skewed partitions.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Alignment UDF rows carry two full sequences (up to ~KBs each);
        # keep Arrow batches modest so executor memory stays bounded at
        # 100 TB scale (SURVEY §4.3).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # bucketed tables (write_kmer_index_bucketed) need a catalog
        # warehouse; keep it out of the source tree
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/petasearch_warehouse"))
        .config("spark.ui.enabled", "false")
        # the console progress bar writes \r-spam that pollutes captured
        # output (the driver's bench tail capture is a bounded buffer —
        # BENCH_r03 lost its per-query record to exactly this)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet carries TIMESTAMP(NANOS); read as long, converted
        # to micros in sources.tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # reliable-checkpoint hygiene (ADVICE r7): cut_lineage routes
        # iterative plans (CC label propagation checkpoints EVERY round)
        # to df.checkpoint() when SPARK_GRAFT_CHECKPOINT_DIR is set; have
        # the ContextCleaner remove a checkpoint's files once its RDD is
        # GC'd, or the durable dir grows without bound across rounds
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Runtime session confs the package's readers depend on, applied
#: idempotently to sessions the package did NOT build (the driver's
#: correctness gate constructs its own plain SparkSession and calls
#: __spark_entry__.queries() against it). Keep this list minimal and
#: CONSTANT: these are package-wide conventions, never per-query state —
#: registry query functions must not mutate session config beyond
#: calling this (round-7 VERDICT nit: per-query spark.conf.set calls are
#: a config-leak pattern if queries ever run concurrently).
_SESSION_DEFAULTS: dict[str, str] = {
    # events.parquet carries TIMESTAMP(NANOS): read as raw longs
    # (normalize_events_ts converts to micros)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # the NTZ->TIMESTAMP normalization preserves wall-clock values only
    # under UTC; a differently-configured caller would silently shift
    # instants otherwise
    "spark.sql.session.timeZone": "UTC",
}


def apply_session_defaults(spark) -> None:
    """Idempotently apply :data:`_SESSION_DEFAULTS` to ``spark``.

    ``get_spark`` already sets these at build time; this is the single
    sanctioned entry point for code paths that may receive a foreign
    session (``sources.tables.load_table``, the streaming event
    stagers). Values are constants, so repeated application from any
    number of queries commutes — there is no restore-on-exit because
    there is no competing value to restore to.
    """
    for key, value in _SESSION_DEFAULTS.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)


def cut_lineage(df, eager: bool = True):
    """Truncate a DataFrame's lineage — THE checkpoint-vs-localCheckpoint
    decision, made once (round-6 VERDICT item 3 promoted it out of
    per-site comments).

    Iterative plans (connected-components label propagation, BPE merge
    rounds) and cache-release barriers (gopher verdicts, BPE-encoded
    docs) must materialize with lineage cut: without it Catalyst
    re-analyzes an exponentially growing plan every round, and the
    corpus-sized upstream cache cannot be released.

    - When a durable checkpoint directory is configured —
      ``SPARK_GRAFT_CHECKPOINT_DIR`` in the environment, or
      ``SparkContext.setCheckpointDir`` already called — this routes to
      RELIABLE ``df.checkpoint()``: blocks are written to that directory
      (HDFS/S3 on a cluster), so an executor loss mid-job recomputes
      nothing and loses nothing.
    - Otherwise it falls back to ``df.localCheckpoint()``: blocks live in
      executor storage. Fine on local[N] (one process, no executor to
      lose), NOT durable on a cluster — which is exactly why production
      deployments set the env var.
    """
    sc = df.sparkSession.sparkContext
    env_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if env_dir and sc.getCheckpointDir() is None:
        sc.setCheckpointDir(env_dir)
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def release_lineage_cuts(df) -> None:
    """Unpersist the blocks of every :func:`cut_lineage` frame under
    ``df``'s plan, for a caller that has written ``df``'s result and
    reads it back from there. ``clearCache()`` cannot release them: a
    checkpoint's RDD is registered outside the cache manager, and a
    ``localCheckpoint`` one stays until JVM GC runs the context cleaner
    (a long-lived service would keep one per run). Reading ``df``, or any
    frame over the same cut, afterwards fails."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRDD" and leaf.rdd().isCheckpointed():
            leaf.rdd().unpersist(False)
