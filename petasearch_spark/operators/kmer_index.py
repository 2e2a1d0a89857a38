"""Target k-mer index build (SURVEY §2: T1 + J2/A2 + O1) and query-side
k-mer extraction (T1 for queries).

Reference pipeline (`createkmertable`, /root/reference/src/sra/createkmertable.cpp):
extract k-mers (100-120) -> parallel sort by (kmer ASC, seqLen DESC, seqID
ASC) (130, 142-162) -> keep ONE representative row per distinct k-mer — the
first under that sort, i.e. the longest sequence containing it, ties to the
smallest id (179-190) -> delta-encode + write (229-245).

Spark design:
* extraction is a codegen'd explode (functions.kmer.extract_kmers — no UDF);
* the distinct-representative rule (J2) is `max_by` over
  struct(seq_len, -seq_id) — a single hash aggregation with map-side partial
  combine, no window/sort needed;
* the physical sorted layout (O1) becomes `repartitionByRange('kmer')` +
  `sortWithinPartitions` + parquet: range-partitioned, internally sorted
  files whose min/max statistics let the search join prune, the exact Spark
  analogue of the reference's sorted table + streamed merge (SURVEY §4.2).
  Parquet dictionary/delta encodings + ZSTD replace the 15-bit varint delta
  codec (createkmertable.cpp:229-245) — a physical codec, not semantics.

At 100 TB: extraction is embarrassingly parallel; the only shuffle is the
groupBy(kmer), whose key space (20^9 ≈ 5·10^11) hashes uniformly — skew comes
only from repeated k-mers, which this very aggregation collapses.
"""

from __future__ import annotations

import json
import os
import threading
from collections import OrderedDict
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from petasearch_spark.functions.kmer import AMINO_ALPHABET, extract_kmers  # noqa: F401 (column-expr twin)
from petasearch_spark.functions.localframe import literal_df

DEFAULT_K = 9  # workflow default, /root/reference/src/workflow/petasearch.cpp:12


def _write_parts(spark, num_shards: int) -> int:
    """Task count for a sharded directory-partitioned write: enough tasks
    that the per-directory file-open/commit latency stays parallel (one
    task otherwise writes every shard's file sequentially once AQE
    coalesces the tiny exchange), never more than one task per shard,
    scaled from the session's parallelism — not a local constant."""
    return max(1, min(int(num_shards), spark.sparkContext.defaultParallelism))


def check_kmer_width(k: int, alphabet: str = AMINO_ALPHABET) -> None:
    """Raise ValueError unless every k-mer code fits a signed BIGINT
    (``1 <= k`` and ``len(alphabet) ** k <= 2**63``): a wider code wraps
    in the int64 matmul and distinct k-mers would collide."""
    if k < 1 or len(alphabet) ** k > 2**63:
        raise ValueError(
            f"k={k} is out of range for a {len(alphabet)}-letter alphabet:"
            f" k-mer codes need 1 <= k and {len(alphabet)}**k <= 2**63"
        )


def extract_kmers_batch(
    seqs, k: int = DEFAULT_K, alphabet: str = AMINO_ALPHABET
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """T1 over one batch of sequences, one numpy sliding-window matmul per
    sequence: ``(row, seq_len, kmer, pos)`` arrays, ``row`` indexing
    ``seqs``. Invalid residues break windows (F1); a sequence shorter
    than k, or NULL (e.g. derived from a NULL-text doc), yields nothing
    (F2) — the HOF twin and every SQL oracle drop it the same way."""
    lut = np.full(128, -1, dtype=np.int64)
    for i, c in enumerate(alphabet):
        lut[ord(c)] = i
    weights = (len(alphabet) ** np.arange(k - 1, -1, -1)).astype(np.int64)
    row_o, len_o, km_o, pos_o = [], [], [], []
    for i, seq in enumerate(seqs):
        if seq is None:
            continue
        codes = lut[np.frombuffer(seq.encode("ascii", "replace"), dtype=np.uint8) & 0x7F]
        n = len(codes)
        if n < k:
            continue
        w = np.lib.stride_tricks.sliding_window_view(codes, k)
        valid = (w >= 0).all(axis=1)
        km = (w @ weights)[valid]
        row_o.append(np.full(len(km), i, dtype=np.int64))
        len_o.append(np.full(len(km), n, dtype=np.int32))
        km_o.append(km)
        pos_o.append(np.nonzero(valid)[0].astype(np.int32))
    if not row_o:
        return (np.array([], dtype=np.int64), np.array([], dtype=np.int32),
                np.array([], dtype=np.int64), np.array([], dtype=np.int32))
    return (np.concatenate(row_o), np.concatenate(len_o),
            np.concatenate(km_o), np.concatenate(pos_o))


def extract_kmers_arrow(
    sequences: DataFrame,
    k: int = DEFAULT_K,
    alphabet: str = AMINO_ALPHABET,
    with_pos: bool = False,
    id_col: str = "seq_id",
) -> DataFrame:
    """T1 as a vectorized Arrow stage: (id, [seq_len,] kmer[, pos]) rows
    (:func:`extract_kmers_batch` per Arrow batch).

    Catalyst higher-order functions (the `functions/kmer.py` twin) are
    interpreted per element — fine for small inputs and for SQL-portable
    oracle queries, but the hot extraction path encodes tens of millions
    of windows, where one numpy sliding-window matmul per sequence is
    ~6x faster end to end. Same output, same F1/F2 semantics.

    Raises ValueError via :func:`check_kmer_width`."""
    check_kmer_width(k, alphabet)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            row, seq_len, km, pos = extract_kmers_batch(list(pdf["sequence"]), k, alphabet)
            cols = {
                id_col: pdf[id_col].to_numpy(dtype=np.int64)[row],
                "seq_len": seq_len,
                "kmer": km,
            }
            if with_pos:
                cols["pos"] = pos
            yield pd.DataFrame(cols)

    schema = f"{id_col} long, seq_len int, kmer long" + (", pos int" if with_pos else "")
    return sequences.mapInPandas(run, schema=schema)


#: packed-representative bit layout (see build_kmer_index): seq_id in
#: the low 40 bits (inverted), seq_len in bits 40..62 — 63 bits total,
#: always non-negative in a signed BIGINT
_REP_ID_BITS = 40
_REP_ID_MASK = (1 << _REP_ID_BITS) - 1
_REP_MAX_LEN = 1 << (63 - _REP_ID_BITS)  # 8,388,608 residues


def build_kmer_index(
    sequences: DataFrame,
    k: int = DEFAULT_K,
    alphabet: str = AMINO_ALPHABET,
) -> DataFrame:
    """sequences(seq_id, sequence, ...) ->
    target_kmer_index(kmer BIGINT, seq_id BIGINT, seq_len INT),
    one row per DISTINCT k-mer (J2 semantics).

    J2: representative = longest sequence, ties -> smallest seq_id
    (reference src/sra/createkmertable.cpp one-entry-per-kmer rule).
    The lexicographic (seq_len desc, seq_id asc) argmax is packed into
    ONE BIGINT — ``seq_len << 40 | (2^40-1 - seq_id)`` — so the J2
    aggregation is a primitive ``max`` instead of a struct ``max_by``:
    narrower shuffle rows and cheaper agg state on a ~all-distinct key
    stream (the k-mer space is 20^9, so partial combine barely dedups
    and the agg cost is dominated by per-row state handling). Measured
    19% off the whole extract+aggregate stage at 1M sequences/194M
    k-mer rows, value-identical output including hot-key ties. Bit
    budget: seq_id < 2^40 (1.1e12 sequences), seq_len < 2^23 residues
    — both enforced with raise_error so an out-of-range corpus fails
    loudly instead of corrupting representatives."""
    return aggregate_kmer_index(extract_kmers_arrow(sequences, k=k, alphabet=alphabet))


def aggregate_kmer_index(
    kmers: DataFrame, extra_keys: tuple[str, ...] = ()
) -> DataFrame:
    """The J2 packed-max aggregation over an already-extracted
    ``(seq_id, seq_len, kmer[, ...])`` frame — factored out of
    :func:`build_kmer_index` (round 11) so the fused multi-target cascade
    can aggregate ONE unioned extraction pass per-DB: with
    ``extra_keys=("_set",)`` the representative is resolved within each
    target DB (groupBy(kmer, _set)), which is exactly N per-set
    ``build_kmer_index`` calls in one exchange."""
    packed = F.when(
        (F.col("seq_id") < 0)
        | (F.col("seq_id") > _REP_ID_MASK)
        | (F.col("seq_len") >= _REP_MAX_LEN),
        F.raise_error(
            F.format_string(
                "build_kmer_index: seq_id/seq_len out of packed-rep range "
                f"(seq_id=%s seq_len=%s; need 0 <= seq_id <= {_REP_ID_MASK}, "
                f"seq_len < {_REP_MAX_LEN})",
                F.col("seq_id"),
                F.col("seq_len"),
            )
        ).cast("long"),
    ).otherwise(
        F.col("seq_len").cast("long") * F.lit(1 << _REP_ID_BITS)
        + (F.lit(_REP_ID_MASK) - F.col("seq_id"))
    )
    return (
        kmers.select("kmer", *extra_keys, packed.alias("p"))
        .groupBy("kmer", *extra_keys)
        .agg(F.max("p").alias("p"))
        .select(
            "kmer",
            *extra_keys,
            (F.lit(_REP_ID_MASK) - F.col("p").bitwiseAND(F.lit(_REP_ID_MASK))).alias("seq_id"),
            F.shiftright("p", _REP_ID_BITS).cast("int").alias("seq_len"),
        )
    )


def write_kmer_index(index: DataFrame, path: str, num_ranges: int = 32) -> None:
    """Persist the index range-partitioned and sorted by kmer (O1) so the
    search join gets pruned, co-located scans."""
    (
        index.repartitionByRange(num_ranges, "kmer")
        .sortWithinPartitions("kmer")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(path)
    )


def write_kmer_index_sharded(
    index: DataFrame,
    path: str,
    num_shards: int = 1024,
    k: int | None = None,
    alphabet: str | None = None,
) -> None:
    """Persist the index SHARDED by a kmer-derived directory partition
    column (``kshard = kmer % num_shards``) — the INTERACTIVE-probe
    layout (round 9): a small query batch touches only the shards its
    own k-mers hash to, so lookup I/O scales with the QUERY's k-mer
    count, not the corpus. At 100 TB this is the difference between a
    full-index scan per interactive query (the bucketed layout's cost —
    right for large batches, wrong for one protein) and reading
    ~n_query_kmers/num_shards of the index. Within each shard the rows
    stay kmer-sorted (row-group min/max stats remain usable). Shard
    count rides a 1-row ``_ps_meta`` parquet INSIDE the dataset directory
    (underscore-prefixed names are invisible to Spark's file listing, the
    ``_SUCCESS`` convention) so readers never guess it from directory
    listings (an empty shard at small SF would undercount) AND data+meta
    travel as ONE directory — a publish-by-rename staging (ADVICE r9:
    the old ``<path>_meta`` sibling could pair new shards with an old
    modulus mid-rewrite) moves them atomically together; mid-write a
    reader finds no meta and fails loudly instead of mis-pruning."""
    (
        index.withColumn(
            "kshard", F.pmod(F.col("kmer"), F.lit(num_shards)).cast("int")
        )
        # EXPLICIT partition count (round-10 optimization): a bare
        # repartition(col) lets AQE coalesce the tiny-SF exchange to ONE
        # partition, and the single task then opens/writes all num_shards
        # zstd files sequentially (~5 s of the measured build cost at
        # sf0.1). Pinning the count to the cluster's parallelism keeps
        # the file-open latency parallel at any scale: each task writes
        # ~num_shards/n directories (guide §2.2/§6 — the write fanout
        # should track the cluster, not the optimizer's byte estimate).
        .repartition(
            _write_parts(index.sparkSession, num_shards), F.col("kshard")
        )
        .sortWithinPartitions("kmer")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("kshard")
        .parquet(path)
    )
    # k/alphabet travel with the index (round-10 review finding: a probe
    # built with different parameters would join on incompatible kmer
    # codes and return EMPTY results with exit 0 — record them so the
    # reader can refuse loudly instead). literal_df: a Python-RDD-backed
    # 1-row sidecar costs ~5 s per write (guide §4; measured round 10).
    literal_df(
        index.sparkSession,
        [(int(num_shards), k, alphabet)],
        "num_shards int, k int, alphabet string",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/_ps_meta")


#: in-process sidecar meta cache (round 11): every probe (and, in the
#: streaming twins, every MICRO-BATCH) re-read each generation's tiny
#: _ps_meta parquet as a full Spark job — pure per-probe machinery.
#: Published sidecars are immutable (layouts publish by rename and
#: appends claim fresh generation dirs), so caching on the sidecar's
#: CONTENT identity (file names + sizes + mtime_ns, the staged_cache
#: fingerprint convention) is exact: a rebuilt/compacted layout gets a
#: new key, a missing sidecar still fails loudly through the uncached
#: Spark read. Bounded LRU: every append or rebuild adds a key, so a
#: long-lived service would otherwise grow it without limit; an evicted
#: sidecar is simply re-read. The lock: concurrent streaming queries
#: probe from their own threads.
_META_CACHE: OrderedDict[tuple, dict] = OrderedDict()
_META_CACHE_SIZE = 64
_META_LOCK = threading.Lock()


def _meta_cache_get(ck: tuple | None) -> dict | None:
    with _META_LOCK:
        if ck is None or ck not in _META_CACHE:
            return None
        _META_CACHE.move_to_end(ck)
        return dict(_META_CACHE[ck])


def _meta_cache_put(ck: tuple | None, d: dict) -> None:
    if ck is None:
        return
    with _META_LOCK:
        _META_CACHE[ck] = dict(d)
        _META_CACHE.move_to_end(ck)
        while len(_META_CACHE) > _META_CACHE_SIZE:
            _META_CACHE.popitem(last=False)


def _sidecar_cache_key(path: str) -> tuple | None:
    d = path + "/_ps_meta"
    try:
        names = sorted(os.listdir(d))
        if not names:
            return None
        key: list = [os.path.abspath(d)]
        for n in names:
            st = os.stat(os.path.join(d, n))
            key.append((n, st.st_size, st.st_mtime_ns))
        return tuple(key)
    except OSError:
        return None  # absent/unreadable: let the Spark read raise loudly


def read_kmer_index_meta(spark, path: str) -> dict:
    """The sharded index's sidecar as a plain dict (num_shards, and —
    for layouts written since round 10 — the k and alphabet the index
    was built with; None on older layouts)."""
    ck = _sidecar_cache_key(path)
    cached = _meta_cache_get(ck)
    if cached is not None:
        return cached
    row = spark.read.parquet(path + "/_ps_meta").head()
    d = row.asDict()
    d.setdefault("k", None)
    d.setdefault("alphabet", None)
    _meta_cache_put(ck, d)
    return d


def read_kmer_index_pruned(
    spark,
    path: str,
    query_kmers: DataFrame,
    meta: dict | None = None,
    shards: list[int] | None = None,
) -> DataFrame:
    """Read the sharded index PRUNED to the shards the given query
    k-mers hash to: static partition pruning via an IN filter on the
    directory partition column — the executed scan's PartitionCount
    drops to |distinct query shards| (plan-pinned in
    tests/test_skew_pruning.py). The driver-side collect is bounded by
    min(num_shards, distinct query k-mers) integers (the interactive
    case this layout serves is a handful of queries), never by corpus
    size. Returns the standard index schema (kmer, seq_id, seq_len).
    ``meta``: pass a read_kmer_index_meta result to skip the sidecar
    re-read (the cascade reads it once for parameter validation).
    ``shards``: pass a precomputed shard list to skip the collect — a
    layout probe derives the lists of every modulus in ONE collect
    (query_shard_lists) and prunes every generation with them."""
    if meta is None:
        meta = read_kmer_index_meta(spark, path)
    num_shards = int(meta["num_shards"])
    if shards is None:
        shards = query_shard_list(query_kmers, num_shards)
    # explicit schema: an EMPTY corpus writes a partitioned dataset with
    # no part files at all (just _SUCCESS), and schema inference fails on
    # it — the empty-input law is "0 rows", never an AnalysisException
    return (
        spark.read.schema("kmer long, seq_id long, seq_len int, kshard int")
        .parquet(path)
        .filter(F.col("kshard").isin(shards))
        .select("kmer", "seq_id", "seq_len")
    )


def query_shard_lists(query_kmers: DataFrame, moduli) -> dict[int, list[int]]:
    """The sorted distinct ``kmer % m`` values of a query-k-mer frame
    for every modulus ``m`` — the partition-prune lists, all from
    ONE aggregation and one collect, each list bounded by min(m,
    distinct query k-mers)."""
    moduli = sorted({int(m) for m in moduli})
    row = query_kmers.agg(*[
        F.collect_set(F.pmod(F.col("kmer"), F.lit(m)).cast("int"))
        for m in moduli
    ]).first()
    return {m: sorted(int(x) for x in row[i]) for i, m in enumerate(moduli)}


def query_shard_list(query_kmers: DataFrame, num_shards: int) -> list[int]:
    """:func:`query_shard_lists` for one modulus."""
    return query_shard_lists(query_kmers, [num_shards])[int(num_shards)]


def write_sequence_store_sharded(seqs: DataFrame, path: str, num_shards: int = 256) -> None:
    """Persist a SEQUENCE STORE directory-partitioned by ``sshard =
    seq_id % num_shards`` — the fetch-side twin of the sharded k-mer
    index (round 10): after a shard-pruned prefilter yields candidate
    target ids, the J4 sequence fetch reads only the shards those ids
    hash to instead of scanning the corpus (the reference fetches
    candidates by offset into the target DB, never a full pass —
    /root/reference/src/sra/blockalign.cpp:387-417). The ``_ps_meta``
    sidecar (inside the directory, so a publish-by-rename moves data+meta
    atomically) carries the modulus, the store's schema, and
    ``db_residues`` — the CORPUS-total residue count the e-value
    normalization needs (reference keeps it in the DB header); computing
    it at query time from a pruned fetch would skew e-values, and from
    the full store would defeat the prune. ``max_seq_id`` (round 10)
    rides along so an APPEND can auto-offset fresh ids in O(generations)
    sidecar reads instead of an O(corpus) max-scan."""
    from pyspark.sql import Observation

    spark = seqs.sparkSession
    # db_residues/max_seq_id ride the WRITE itself via observe (round-10
    # optimization, guide §1/§5: the separate .agg().collect() was one
    # more full pass over seqs — observed metrics are collected from the
    # same tasks that write the store, exactly-once per successful task)
    obs = Observation("ps_store_stats")
    (
        seqs.withColumn("sshard", F.pmod(F.col("seq_id"), F.lit(num_shards)).cast("int"))
        # explicit count: see write_kmer_index_sharded (AQE would
        # serialize the num_shards-directory write into one task)
        .repartition(_write_parts(spark, num_shards), F.col("sshard"))
        .sortWithinPartitions("seq_id")
        # observe ABOVE the exchange boundary, i.e. inside the WRITE's
        # result stage (round-11, ADVICE r10): accumulator updates are
        # exactly-once only for result-stage tasks — observed below the
        # repartition they ride the shuffle-MAP stage, where a fetch-
        # failure resubmission or speculative duplicate double-counts
        # the sum and silently inflates the persisted Karlin-Altschul
        # normalization constant. Same single pass, now retry-exact.
        .observe(
            obs,
            F.sum(F.length("sequence")).alias("r"),
            F.max("seq_id").alias("m"),
        )
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("sshard")
        .parquet(path)
    )
    stats = obs.get
    db_residues = int(stats["r"] or 0)
    max_seq_id = int(stats["m"]) if stats["m"] is not None else -1
    literal_df(
        spark,
        [(int(num_shards), db_residues, max_seq_id, seqs.schema.json())],
        "num_shards int, db_residues long, max_seq_id long, schema_json string",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/_ps_meta")


def write_sharded_layout(
    seqs: DataFrame, root: str, num_shards: int = 256, k: int = DEFAULT_K,
    alphabet: str = AMINO_ALPHABET,
) -> None:
    """Write BOTH halves of the interactive layout under ``root``: the
    kmer-sharded index (``index/``) and the seq_id-sharded sequence
    store (``seqs/``, round 10 — carries db_residues for e-value parity
    with the full-scan path). One pass over ``seqs`` feeds both; pair
    with a publish-by-rename staging (streaming.stateful.staged_cache)
    when the root is shared."""
    seqs = seqs.persist()
    try:
        # the two writes are INDEPENDENT jobs over the same cached input;
        # submitted from a 2-thread pool they overlap (guide §2.6 — the
        # store write's tasks back-fill executors freed by the index
        # job's shuffle tail instead of waiting for it to drain). Job
        # descriptions are thread-local, so each stays labelled; the
        # block cache serves both readers (per-block compute-or-wait).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_idx = pool.submit(
                write_kmer_index_sharded,
                build_kmer_index(seqs, k=k, alphabet=alphabet),
                f"{root}/index",
                num_shards=num_shards,
                k=k,
                alphabet=alphabet,
            )
            f_store = pool.submit(
                write_sequence_store_sharded, seqs, f"{root}/seqs", num_shards=num_shards
            )
            # surface BOTH outcomes: result() re-raises the first failure
            # only after the pool has drained, so no half-running write is
            # abandoned behind a propagating exception
            f_idx.result()
            f_store.result()
    finally:
        seqs.unpersist()


def is_sharded_layout(path: str) -> bool:
    """True iff ``path`` holds the interactive layout (both datasets'
    in-directory sidecars present — a half-published dir is NOT a
    layout; the staging protocol prevents one existing)."""
    import os

    return os.path.isdir(os.path.join(path, "index", "_ps_meta")) and os.path.isdir(
        os.path.join(path, "seqs", "_ps_meta")
    )


def read_sequence_store_meta(spark, path: str) -> dict:
    """The sequence store's sidecar as a plain dict (num_shards,
    db_residues, schema_json, and — for stores written since the delta
    path landed — max_seq_id, None on older stores). A missing sidecar
    means the store is mid-write or absent — loud AnalysisException,
    never a silent mis-prune. Cached in-process on the sidecar's content
    identity (see _META_CACHE)."""
    ck = _sidecar_cache_key(path)
    cached = _meta_cache_get(ck)
    if cached is not None:
        return cached
    row = spark.read.parquet(path + "/_ps_meta").head()
    d = row.asDict()
    d.setdefault("max_seq_id", None)
    out = {
        k: d[k] for k in ("num_shards", "db_residues", "schema_json", "max_seq_id")
    }
    _meta_cache_put(ck, out)
    return out


def read_sequence_store_pruned(
    spark, path: str, seq_ids: list[int], meta: dict | None = None
) -> DataFrame:
    """Read the sharded sequence store pruned to the given candidate ids:
    an INSET partition filter on ``sshard`` prunes directories and the
    pushed ``seq_id IN`` filter prunes row groups within them, so fetch
    I/O is proportional to the CANDIDATE set (itself bounded by the
    prefilter funnel), not the corpus. ``seq_ids`` comes from a
    driver-side collect bounded by queries x candidates-per-query — the
    interactive case this layout serves — mirroring
    read_kmer_index_pruned's bounded shard-list collect. The explicit
    schema (from the sidecar) keeps the empty-corpus law: 0 rows, never
    an AnalysisException on an empty partitioned dataset. ``meta``:
    pass a read_sequence_store_meta result to skip the sidecar re-read
    (the cascade already holds it for db_residues)."""
    if meta is None:
        meta = read_sequence_store_meta(spark, path)
    num_shards = int(meta["num_shards"])
    ids = sorted({int(i) for i in seq_ids})
    shards = sorted({i % num_shards for i in ids})
    return (
        spark.read.schema(_store_read_schema(meta["schema_json"]))
        .parquet(path)
        .filter(F.col("sshard").isin(shards) & F.col("seq_id").isin(ids))
        .drop("sshard")
    )


def _drop_managed_table(spark, table: str) -> None:
    """DROP TABLE IF EXISTS plus local-warehouse orphan cleanup: an
    in-memory catalog forgets tables between sessions but their location
    dirs persist, and saveAsTable then fails with LOCATION_ALREADY_EXISTS.
    (On a cluster with a real metastore the DROP alone suffices.)"""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        shutil.rmtree(f"{wh.removeprefix('file:')}/{table.lower()}", ignore_errors=True)


def write_kmer_index_bucketed(
    index: DataFrame, table: str, num_buckets: int = 32
) -> None:
    """Persist the index BUCKETED by kmer (saveAsTable — bucketing needs
    catalog metadata). A probe side bucketed the same way joins with NO
    shuffle on the index at all: each task reads its bucket from both
    sides. This is the Spark analogue of the reference's sorted
    table + streamed merge join, and the layout you want when the same
    100 TB index serves many query batches."""
    _drop_managed_table(index.sparkSession, table)
    (
        index.write.mode("overwrite")
        .format("parquet")
        .option("compression", "zstd")
        .bucketBy(num_buckets, "kmer")
        .sortBy("kmer")
        .saveAsTable(table)
    )


def write_query_kmers_bucketed(
    query_kmers: DataFrame, table: str, num_buckets: int = 32
) -> None:
    """Bucket the probe side identically so the prefilter join is
    bucket-local (zero shuffle on either side)."""
    _drop_managed_table(query_kmers.sparkSession, table)
    (
        query_kmers.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, "kmer")
        .sortBy("kmer")
        .saveAsTable(table)
    )


def extract_query_kmers(
    sequences: DataFrame,
    k: int = DEFAULT_K,
    alphabet: str = AMINO_ALPHABET,
) -> DataFrame:
    """Query-side T1 (exact mode, `--exact-kmer-matching 1`,
    /root/reference/src/sra/comparekmertables.cpp:263):
    query_kmers(query_id BIGINT, kmer BIGINT, pos INT). All k-mer
    positions are kept (needed for the diagonal computation in J3)."""
    return extract_kmers_arrow(
        sequences.select(F.col("seq_id").alias("query_id"), "sequence"),
        k=k,
        alphabet=alphabet,
        with_pos=True,
        id_col="query_id",
    ).select("query_id", "kmer", "pos")


def merge_kmer_index_delta(
    base_table: str,
    delta_sequences: DataFrame,
    out_table: str,
    delta_table: str = "ps_index_delta",
    num_buckets: int = 32,
    k: int = DEFAULT_K,
    alphabet: str = AMINO_ALPHABET,
) -> DataFrame:
    """Incremental index maintenance: fold newly-arrived target sequences
    into an existing BUCKETED k-mer index without reshuffling the base.

    The reference rebuilds its k-mer table from scratch per target DB
    (createkmertable is batch-only); at 100 TB a daily delta must not cost
    a full re-sort of the index. Plan: build the delta's index (small —
    proportional to NEW data), write it bucketed IDENTICALLY to the base,
    then FULL OUTER join base and delta bucket-locally (sort-merge, no
    Exchange above either scan — same property test_skew_pruning pins for
    the prefilter) and resolve each collision by the J2 representative
    rule (longest sequence, ties to smallest id). The merged write stays
    bucket-aligned, so the only shuffle anywhere is the delta's own
    groupBy.

    Returns the merged index DataFrame (already persisted to
    ``out_table``).
    """
    spark = delta_sequences.sparkSession
    write_kmer_index_bucketed(
        build_kmer_index(delta_sequences, k=k, alphabet=alphabet),
        delta_table,
        num_buckets=num_buckets,
    )
    base = spark.table(base_table).alias("b")
    delta = spark.table(delta_table).alias("d")
    # J2 collision rule as a coalescing comparator: delta wins iff it is
    # strictly better under (seq_len DESC, seq_id ASC)
    delta_wins = (F.col("b.seq_id").isNull()) | (
        F.col("d.seq_id").isNotNull()
        & (
            (F.col("d.seq_len") > F.col("b.seq_len"))
            | ((F.col("d.seq_len") == F.col("b.seq_len")) & (F.col("d.seq_id") < F.col("b.seq_id")))
        )
    )
    merged = base.join(delta, "kmer", "full_outer").select(
        "kmer",
        F.when(delta_wins, F.col("d.seq_id")).otherwise(F.col("b.seq_id")).alias("seq_id"),
        F.when(delta_wins, F.col("d.seq_len")).otherwise(F.col("b.seq_len")).alias("seq_len"),
    )
    write_kmer_index_bucketed(merged, out_table, num_buckets=num_buckets)
    return delta_sequences.sparkSession.table(out_table)


# --- delta generations for the SHARDED interactive layout (round 10) ---
#
# merge_kmer_index_delta above serves the BUCKETED layout (large-batch
# steady state); the INTERACTIVE layout needs its own append story: at
# 100 TB the corpus grows continuously (the reference's SRA universe
# gains runs daily) and re-running write_sharded_layout costs a full
# corpus pass — extraction alone is ~90% of build cost. The LSM shape
# fixes that: an append writes a NEW GENERATION (a mini sharded layout,
# cost proportional to the DELTA), probes read base + generations with
# the J2 rule re-resolved over the pruned union (exact, because the
# packed (seq_len, -seq_id) representative max is associative — the max
# of per-generation maxima IS the global max), and a compaction folds
# generations back into one base when read amplification accumulates.
# The reference has no incremental path at all (createkmertable is
# batch-only, /root/reference/src/sra/createkmertable.cpp).

#: published delta generations: root/delta_NNNNN (rename-claimed, so a
#: matching dir is complete by construction); pid-unique build staging
#: lives at root/.delta_build<pid>, invisible to this pattern
_DELTA_NAME_FMT = "delta_{:05d}"


def _delta_generation_dirs(root: str) -> list[str]:
    import os
    import re

    # \d{5,}: zero-padding stops at 99999 but generations keep going —
    # an exact-width pattern would make generation 100000 invisible to
    # every reader while append kept returning success (round-10
    # review); numeric sort, since lexicographic breaks at mixed widths
    pat = re.compile(r"^delta_(\d{5,})$")
    found = []
    for n in os.listdir(root):
        m = pat.match(n)
        if m:
            found.append((int(m.group(1)), n))
    return [os.path.join(root, n) for _, n in sorted(found)]


def _recover_layout_swap(root: str) -> None:
    """Crash recovery for compact_sharded_layout's two-rename swap (the
    recluster_ivf_index protocol, operators/ivf.py): a kill between the
    renames leaves the live layout only at ``{root}.old<pid>`` — restore
    the newest dead-pid one when ``root`` is missing; reap dead-pid
    ``.compact``/``.old`` swap debris and dead-pid ``.delta_build``
    staging inside the root (a SIGKILLed append's half-written dir is
    invisible to readers but would otherwise leak forever — round-10
    review) either way. Every filesystem step tolerates losing a race
    to a concurrent recoverer: two probes may both see the missing root
    and restore — the rename loser re-checks instead of crashing the
    read path."""
    import glob
    import os
    import shutil

    def _dead(pid_str: str) -> bool:
        if not pid_str.isdigit() or int(pid_str) == os.getpid():
            return False
        try:
            os.kill(int(pid_str), 0)
            return False
        except ProcessLookupError:
            return True
        except PermissionError:
            return False

    def _mtime(d: str) -> float:
        try:
            return os.path.getmtime(d)
        except OSError:
            return 0.0  # reaped by a concurrent sweeper mid-listing

    olds = [d for d in glob.glob(f"{root}.old*") if _dead(d.rsplit(".old", 1)[-1])]
    if not os.path.exists(root) and olds:
        try:
            os.rename(max(olds, key=_mtime), root)
        except OSError:
            if not os.path.isdir(root):
                raise  # lost the race but nobody restored — real failure
        olds = [d for d in olds if os.path.exists(d)]
    for d in olds + [
        d for d in glob.glob(f"{root}.compact*") if _dead(d.rsplit(".compact", 1)[-1])
    ]:
        shutil.rmtree(d, ignore_errors=True)
    if os.path.isdir(root):
        for d in glob.glob(os.path.join(root, ".delta_build*")):
            if _dead(d.rsplit(".delta_build", 1)[-1]):
                shutil.rmtree(d, ignore_errors=True)


def list_layout_generations(root: str) -> list[str]:
    """All live generations of a sharded layout, fold order: the base
    (``root`` itself) first, then each published ``delta_NNNNN``. Every
    entry holds the same two datasets (``index/`` + ``seqs/``) with the
    same modulus/k/alphabet (append_sharded_layout enforces at write
    time). Runs swap-crash recovery first, mirroring probe_ivf_index."""
    _recover_layout_swap(root)
    return [root] + _delta_generation_dirs(root)


def resolve_j2(index: DataFrame) -> DataFrame:
    """Re-derive the ONE-representative rule (J2: longest sequence, ties
    to smallest id) over a UNION of per-generation index rows. Exact by
    associativity: each generation's row is already the argmax of the
    packed ``seq_len << 40 | (2^40-1 - seq_id)`` key over ITS sequences
    (build_kmer_index), and max-of-maxima is the global max, so the
    resolved union is byte-identical to a full rebuild's index. Inputs
    come from stored indexes whose ranges build_kmer_index already
    enforced, so no re-validation here. The bound on this groupBy is
    whatever the CALLER feeds it: read_layout_index_pruned semi-joins
    the pruned union down to the query's k-mers first (query k-mers x
    generations); compaction feeds the full stored indexes (~|distinct
    k-mers| — still no re-extraction)."""
    packed = F.col("seq_len").cast("long") * F.lit(1 << _REP_ID_BITS) + (
        F.lit(_REP_ID_MASK) - F.col("seq_id")
    )
    return (
        index.select("kmer", packed.alias("p"))
        .groupBy("kmer")
        .agg(F.max("p").alias("p"))
        .select(
            "kmer",
            (F.lit(_REP_ID_MASK) - F.col("p").bitwiseAND(F.lit(_REP_ID_MASK))).alias("seq_id"),
            F.shiftright("p", _REP_ID_BITS).cast("int").alias("seq_len"),
        )
    )


def read_layout_index_pruned(
    spark,
    root: str,
    query_kmers: DataFrame,
    idx_meta: dict | None = None,
    gens: list[str] | None = None,
) -> DataFrame:
    """GENERATION-AWARE pruned index read: the shard lists are derived
    ONCE from the query k-mers and prune every generation's scan; the
    pruned union is J2-re-resolved (resolve_j2 — exact by associativity)
    so downstream sees exactly the index a full rebuild would produce.
    With no deltas this IS read_kmer_index_pruned — same plan, zero new
    nodes (the no-delta probe's pinned plan shape is unchanged).
    Generations may carry DIFFERENT moduli (append auto-sizes a small
    delta's fanout to the delta, the LSM L0 shape — a 5k-seq arrival
    must not pay the base's 4096-directory write); one collect gives
    the list of every DISTINCT modulus (query_shard_lists). Each delta
    generation's k/alphabet is checked against the base's — a
    hand-placed generation with drifted k-mer codes fails loudly
    instead of returning silently-wrong joins."""
    import os

    if gens is None:
        gens = list_layout_generations(root)
    if idx_meta is None:
        idx_meta = read_kmer_index_meta(spark, os.path.join(root, "index"))
    metas = [idx_meta] + [
        read_kmer_index_meta(spark, os.path.join(g, "index")) for g in gens[1:]
    ]
    for gen, gmeta in zip(gens[1:], metas[1:]):
        for field in ("k", "alphabet"):
            if gmeta[field] != idx_meta[field]:
                raise ValueError(
                    f"sharded layout generation {gen} has {field}="
                    f"{gmeta[field]!r} but the base has {idx_meta[field]!r}"
                    " — the layout is corrupt (append_sharded_layout can"
                    " never write this); rebuild it"
                )
    shards_by_mod = query_shard_lists(query_kmers, [m["num_shards"] for m in metas])
    union = None
    for gen, gmeta in zip(gens, metas):
        part = read_kmer_index_pruned(
            spark,
            os.path.join(gen, "index"),
            query_kmers,
            meta=gmeta,
            shards=shards_by_mod[int(gmeta["num_shards"])],
        )
        union = part if union is None else union.unionAll(part)
    if len(gens) == 1:
        return union
    # narrow to the query's own k-mers BEFORE re-resolving: the probed
    # shards hold ~|shard| rows each (corpus-proportional), and without
    # this the multi-generation groupBy shuffles all of them; the only
    # consumer is the prefilter's kmer equi-join, which drops non-query
    # k-mers anyway, so the semi-join keeps the resolution input bounded
    # by query k-mers x generations (round-10 review)
    union = union.join(query_kmers.select("kmer").distinct(), "kmer", "left_semi")
    return resolve_j2(union)


def read_layout_store_pruned(
    spark, root: str, seq_ids: list[int], gens: list[str] | None = None
) -> tuple[DataFrame, int]:
    """GENERATION-AWARE pruned sequence fetch: unions each generation's
    pruned store read (ids are globally unique — append enforces) and
    returns it with the CORPUS-total residue count (the sum of the
    generation sidecars' db_residues), which is what the e-value
    normalization needs — identical to a full rebuild's sidecar by
    construction."""
    import os

    if gens is None:
        gens = list_layout_generations(root)
    union = None
    db_residues = 0
    for gen in gens:
        store = os.path.join(gen, "seqs")
        meta = read_sequence_store_meta(spark, store)
        db_residues += int(meta["db_residues"])
        part = read_sequence_store_pruned(spark, store, seq_ids, meta=meta)
        union = part if union is None else union.unionAll(part)
    return union, db_residues


#: above this many distinct delta seq_ids the append's id-disjointness
#: check switches from a driver-bounded pruned read to a distributed
#: semi-join (one column-pruned pass over the stored sequence ids —
#: cheaper than the delta's own index build at that size). Keep this
#: SMALL: the pruned path materializes the ids as an `isin` literal
#: list, and a round-10 1M measurement showed a 100k-literal filter
#: costing more in plan handling than the entire delta index build;
#: 2k literals is interactive-append scale and planning-free.
_DISJOINT_COLLECT_CAP = 2_000


def _check_ids_disjoint(spark, gens: list[str], new_seqs: DataFrame) -> None:
    import os

    ids = [
        int(r["seq_id"])
        for r in new_seqs.select("seq_id")
        .distinct()
        .limit(_DISJOINT_COLLECT_CAP + 1)
        .collect()
    ]
    if len(ids) <= _DISJOINT_COLLECT_CAP:
        for gen in gens:
            clash = (
                read_sequence_store_pruned(spark, os.path.join(gen, "seqs"), ids)
                .select("seq_id")
                .take(1)
            )
            if clash:
                raise ValueError(
                    f"append_sharded_layout: seq_id {clash[0]['seq_id']} already"
                    f" exists in generation {gen} — delta sequence ids must be"
                    " NEW (the layout's fetch side unions generations without"
                    " collision resolution; re-id the delta before appending)"
                )
    else:
        existing = None
        for gen in gens:
            meta = read_sequence_store_meta(spark, os.path.join(gen, "seqs"))
            part = (
                spark.read.schema(_store_read_schema(meta["schema_json"]))
                .parquet(os.path.join(gen, "seqs"))
                .select("seq_id")
            )
            existing = part if existing is None else existing.unionAll(part)
        clash = new_seqs.join(existing, "seq_id", "left_semi").select("seq_id").take(1)
        if clash:
            raise ValueError(
                f"append_sharded_layout: seq_id {clash[0]['seq_id']} already"
                " exists in the layout — delta sequence ids must be NEW"
            )


#: generation fanout auto-sizing (the LSM L0 shape): a delta's shard
#: count tracks the DELTA's size — one directory per ~this many k-mer
#: rows (≈ residues) / stored sequences, capped at the base's modulus
#: (a generation never needs finer sharding than the base; round-10
#: measurement: a 5k-seq delta written at the base's 4096-way fanout
#: cost ~140 s of pure directory overhead, auto-sized it is seconds).
#: Readers handle mixed moduli natively (read_layout_index_pruned
#: derives one prune list per distinct modulus), and compaction folds
#: everything back to the base fanout.
_DELTA_KMER_ROWS_PER_SHARD = 50_000
_DELTA_SEQS_PER_SHARD = 250


def append_sharded_layout(
    spark,
    root: str,
    new_seqs: DataFrame,
    num_shards: int | None = None,
) -> str | None:
    """Fold newly-arrived sequences into a published sharded layout as a
    NEW GENERATION — cost proportional to the DELTA (its own extraction
    + groupBy + two sharded writes whose fanout is auto-sized to the
    delta), never the corpus. The generation is a complete mini layout
    (``index/`` + ``seqs/``) written with the BASE's k/alphabet (read
    from its sidecar, so a drifted append is impossible), built in a
    pid-unique ``.delta_build`` dir inside the root and claimed by
    atomic rename to the next ``delta_NNNNN`` slot — a probe can never
    observe a half-written generation, and two concurrent appenders
    claim distinct slots (the rename loser retries on the next number).
    Returns the published generation path, or None for an empty delta
    (no generation written). ``num_shards`` overrides the auto-sizing
    for both datasets (e.g. a bulk daily delta sized like a base).

    Sequence ids must be NEW (checked, driver-bounded for interactive
    deltas / distributed above _DISJOINT_COLLECT_CAP; re-checked after
    publish against generations claimed concurrently — two racing
    appenders with colliding ids resolve deterministically, the lower
    slot survives and the higher aborts loudly, removing its own
    generation): the fetch side unions generations without collision
    resolution, and the e-value's ``db_residues`` is the sum of
    generation sidecars — a replaced id would double-count."""
    import os
    import shutil

    from pyspark.sql.types import StructType

    gens = list_layout_generations(root)
    idx_meta = read_kmer_index_meta(spark, os.path.join(root, "index"))
    store_meta = read_sequence_store_meta(spark, os.path.join(root, "seqs"))
    if idx_meta["k"] is None or idx_meta["alphabet"] is None:
        raise ValueError(
            f"append_sharded_layout: layout at {root} predates the k/alphabet"
            " sidecar fields — rebuild it (write_sharded_layout) before"
            " appending, or the delta's k-mer codes could silently diverge"
        )
    # fetch-side reads union generations POSITIONALLY under the base's
    # column names — a delta frame with the same columns in a different
    # order would serve accession strings as sequences with exit 0
    # (round-10 review): align the order here, refuse a different SET
    base_cols = [
        f.name for f in StructType.fromJson(json.loads(store_meta["schema_json"])).fields
    ]
    if set(new_seqs.columns) != set(base_cols):
        raise ValueError(
            f"append_sharded_layout: delta columns {sorted(new_seqs.columns)}"
            f" != the layout's store columns {sorted(base_cols)} — the fetch"
            " union has no column resolution; align the delta's schema"
        )
    new_seqs = new_seqs.select(*base_cols).persist()
    try:
        stats = new_seqs.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.length("sequence")).alias("r")
        ).collect()[0]
        if not stats["n"]:
            return None
        if num_shards is None:
            idx_shards = min(
                int(idx_meta["num_shards"]),
                int(stats["r"] or 0) // _DELTA_KMER_ROWS_PER_SHARD + 1,
            )
            seq_shards = min(
                int(store_meta["num_shards"]),
                int(stats["n"]) // _DELTA_SEQS_PER_SHARD + 1,
            )
        else:
            idx_shards = seq_shards = int(num_shards)
        _check_ids_disjoint(spark, gens, new_seqs)
        tmp = os.path.join(root, f".delta_build{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            # same §2.6 overlap as write_sharded_layout: the generation's
            # index and store writes are independent jobs over the cached
            # delta — the store write back-fills the index job's tail
            # instead of waiting behind it (the pool context drains both
            # before any exception propagates to the rmtree below)
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                f_idx = pool.submit(
                    write_kmer_index_sharded,
                    build_kmer_index(
                        new_seqs, k=int(idx_meta["k"]), alphabet=idx_meta["alphabet"]
                    ),
                    os.path.join(tmp, "index"),
                    num_shards=idx_shards,
                    k=int(idx_meta["k"]),
                    alphabet=idx_meta["alphabet"],
                )
                f_store = pool.submit(
                    write_sequence_store_sharded,
                    new_seqs,
                    os.path.join(tmp, "seqs"),
                    num_shards=seq_shards,
                )
                f_idx.result()
                f_store.result()
            nums = [int(os.path.basename(g).split("_", 1)[1]) for g in gens[1:]]
            n = (max(nums) + 1) if nums else 1  # gap-safe next slot
            while True:
                target = os.path.join(root, _DELTA_NAME_FMT.format(n))
                try:
                    os.rename(tmp, target)
                    break
                except OSError:
                    if not os.path.isdir(target):
                        raise  # not a slot collision — surface it
                    n += 1  # concurrent appender claimed this slot
            # the disjointness check above is check-then-publish: a rival
            # appender may have published between the check and our claim
            # (round-10 review). Re-check against generations we did not
            # see before claiming; on a clash the HIGHER slot aborts (we
            # only inspect lower slots — the rival inspecting US sees a
            # lower slot and keeps), so exactly one survives,
            # deterministically, with no lock
            known = set(gens)
            rivals = [
                g
                for g in _delta_generation_dirs(root)
                if g not in known
                and g != target
                and int(os.path.basename(g).split("_", 1)[1]) < n
            ]
            for g in rivals:
                try:
                    _check_ids_disjoint(spark, [g], new_seqs)
                except ValueError:
                    shutil.rmtree(target, ignore_errors=True)
                    raise
            return target
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
    finally:
        new_seqs.unpersist()


def layout_next_seq_id(spark, root: str) -> int:
    """The smallest seq_id guaranteed fresh across ALL generations —
    max(sidecar max_seq_id) + 1, O(generations) tiny reads. Falls back
    to a column-pruned max-scan for stores written before the sidecar
    carried max_seq_id (one pass, parquet statistics do most of it)."""
    import os

    best = -1
    for gen in list_layout_generations(root):
        store = os.path.join(gen, "seqs")
        meta = read_sequence_store_meta(spark, store)
        if meta["max_seq_id"] is not None:
            best = max(best, int(meta["max_seq_id"]))
        else:
            m = (
                spark.read.schema(_store_read_schema(meta["schema_json"]))
                .parquet(store)
                .agg(F.max("seq_id"))
                .collect()[0][0]
            )
            best = max(best, int(m) if m is not None else -1)
    return best + 1


def compact_sharded_layout(spark, root: str) -> int:
    """Fold all delta generations back into ONE base — the maintenance
    job that bounds probe read amplification (each generation adds one
    pruned scan per probe). Much cheaper than a rebuild: the index side
    unions the STORED per-generation indexes and re-resolves J2 (one
    groupBy over ~|distinct k-mers| rows — skipping extraction, which
    dominates build cost), the fetch side is a plain union (ids are
    disjoint by append's check), and db_residues re-derives from the
    union (equal to the sidecar sum by construction). The new layout is
    built in a pid-unique sibling and swapped in with two renames
    (recluster_ivf_index's protocol; readers recover via
    list_layout_generations -> _recover_layout_swap). Generations
    published by concurrent appenders WHILE the fold ran are not lost
    (round-10 review: the old root's rmtree used to take them with it):
    the root rename carries them into the ``.old`` sibling, and they
    are ADOPTED into the new root — re-claimed under fresh slot numbers
    — before the sibling is deleted. An appender racing the brief
    root-missing swap window itself fails loudly on its claim rename
    (ENOENT), never silently. Returns the number of generations folded
    (0 = no deltas, nothing to do)."""
    import os
    import shutil

    gens = list_layout_generations(root)
    if len(gens) == 1:
        return 0
    idx_meta = read_kmer_index_meta(spark, os.path.join(root, "index"))
    store_meta = read_sequence_store_meta(spark, os.path.join(root, "seqs"))
    schema = "kmer long, seq_id long, seq_len int, kshard int"
    idx_union = None
    seqs_union = None
    for gen in gens:
        part = (
            spark.read.schema(schema)
            .parquet(os.path.join(gen, "index"))
            .select("kmer", "seq_id", "seq_len")
        )
        idx_union = part if idx_union is None else idx_union.unionAll(part)
        smeta = read_sequence_store_meta(spark, os.path.join(gen, "seqs"))
        seq_part = (
            spark.read.schema(_store_read_schema(smeta["schema_json"]))
            .parquet(os.path.join(gen, "seqs"))
            .drop("sshard")
        )
        seqs_union = seq_part if seqs_union is None else seqs_union.unionAll(seq_part)
    tmp = f"{root}.compact{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        write_kmer_index_sharded(
            resolve_j2(idx_union),
            os.path.join(tmp, "index"),
            num_shards=int(idx_meta["num_shards"]),
            k=int(idx_meta["k"]) if idx_meta["k"] is not None else None,
            alphabet=idx_meta["alphabet"],
        )
        write_sequence_store_sharded(
            seqs_union, os.path.join(tmp, "seqs"),
            num_shards=int(store_meta["num_shards"]),
        )
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    old = f"{root}.old{os.getpid()}"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(root, old)
    os.rename(tmp, root)
    # adopt generations that landed AFTER our snapshot — they rode into
    # `old` with the first rename and would be silently destroyed by the
    # cleanup below (round-10 review). Their ids are disjoint from the
    # folded base by append's own check, so a plain re-claim is exact.
    folded = {os.path.basename(g) for g in gens}
    n = 1
    for g in _delta_generation_dirs(old):
        if os.path.basename(g) in folded:
            continue
        while True:
            slot = os.path.join(root, _DELTA_NAME_FMT.format(n))
            try:
                os.rename(g, slot)
                break
            except OSError:
                if not os.path.isdir(slot):
                    raise
                n += 1
        n += 1
    shutil.rmtree(old, ignore_errors=True)
    return len(gens) - 1


def _store_read_schema(schema_json: str):
    """Sequence-store schema (sidecar JSON) + the sshard partition column
    — the read schema compact/fetch paths share (empty-dataset law: an
    explicit schema, never inference)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    base = StructType.fromJson(json.loads(schema_json))
    return StructType(list(base.fields) + [StructField("sshard", IntegerType())])
