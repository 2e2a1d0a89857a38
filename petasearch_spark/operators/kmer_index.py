"""Target k-mer index build (SURVEY §2: T1 + J2/A2 + O1) and query-side
k-mer extraction (T1 for queries).

Reference pipeline (`createkmertable`, /root/reference/src/sra/createkmertable.cpp):
extract k-mers (100-120) -> parallel sort by (kmer ASC, seqLen DESC, seqID
ASC) (130, 142-162) -> keep ONE representative row per distinct k-mer — the
first under that sort, i.e. the longest sequence containing it, ties to the
smallest id (179-190) -> delta-encode + write (229-245).

Spark design:
* extraction is one Arrow stage, a numpy sliding-window matmul per
  sequence (:func:`extract_kmers_batch`);
* the distinct-representative rule (J2) is a primitive ``max`` over
  (seq_len, -seq_id) packed into one BIGINT (:func:`aggregate_kmer_index`,
  the engine's one J2 aggregation) — a single hash aggregation with
  map-side partial combine, no window/sort needed;
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
import shutil
from concurrent.futures import ThreadPoolExecutor
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from petasearch_spark.functions.kmer import AMINO_ALPHABET
from petasearch_spark.storage import build_staged, reap_staging, recover, swap_in, write_bucketed

DEFAULT_K = 9  # workflow default, /root/reference/src/workflow/petasearch.cpp:12

#: directory-shard count of a sharded layout's base (``createindex
#: --num-shards``): ~190k distinct k-mers at sf0.1 -> ~750 rows/shard; at
#: 100 TB size it so one shard ~ one storage block
DEFAULT_NUM_SHARDS = 256


def _write_parts(spark, num_shards: int) -> int:
    """Task count for a sharded directory-partitioned write: enough tasks
    that the per-directory file-open/commit latency stays parallel (one
    task otherwise writes every shard's file sequentially once AQE
    coalesces the tiny exchange), never more than one task per shard,
    scaled from the session's parallelism — not a local constant."""
    return max(1, min(int(num_shards), spark.sparkContext.defaultParallelism))


#: the two sidecar schemas: one 1-row parquet data file in each sharded
#: dataset's ``_ps_meta/`` directory (index half, then store half)
_INDEX_META = pa.schema(
    [("num_shards", pa.int32()), ("k", pa.int32()), ("alphabet", pa.string())]
)
_STORE_META = pa.schema([
    ("num_shards", pa.int32()), ("db_residues", pa.int64()),
    ("max_seq_id", pa.int64()), ("schema_json", pa.string()),
])


def _write_sidecar(path: str, schema: pa.Schema, row: tuple) -> None:
    """Write ``row`` as the ``_ps_meta`` sidecar of the dataset at
    ``path``, on the driver: to a hidden temp name (skipped by Spark and
    by :func:`_read_sidecar`), then ``os.replace``d into place, so a
    reader sees a whole file or none."""
    d = os.path.join(path, "_ps_meta")
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".part-00000.parquet.{os.getpid()}")
    pq.write_table(pa.Table.from_pylist([dict(zip(schema.names, row))], schema=schema), tmp)
    os.replace(tmp, os.path.join(d, "part-00000.parquet"))


def _read_sidecar(path: str) -> dict:
    """The ``_ps_meta`` sidecar of the dataset at ``path`` as a dict, read
    on the driver. Hidden names (``_SUCCESS``, ``.crc``, a temp file) are
    skipped as Spark skips them, so Spark-written sidecars of older
    layouts read the same. A missing directory raises FileNotFoundError
    (a mid-write or absent dataset fails loudly, never mis-prunes); a
    directory that is not one data file of one row raises ValueError."""
    d = os.path.join(path, "_ps_meta")
    files = sorted(n for n in os.listdir(d) if not n.startswith(("_", ".")))
    rows = pq.ParquetFile(os.path.join(d, files[0])).read().to_pylist() if len(files) == 1 else []
    if len(rows) != 1:
        raise ValueError(f"sidecar {d} must be one data file of one row; data files: {files}")
    return rows[0]


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


def _pack_rep(seq_id, seq_len):
    """The J2 key of a ``(seq_id, seq_len)`` column pair as ONE BIGINT,
    ``seq_len << 40 | (2^40-1 - seq_id)``, whose ``max`` is the
    representative (longest sequence, ties to the smallest id). NULL in,
    NULL out (``greatest`` then skips that side); an id or length outside
    the bit budget fails the query via raise_error."""
    return F.when(
        (seq_id < 0) | (seq_id > _REP_ID_MASK) | (seq_len >= _REP_MAX_LEN),
        F.raise_error(
            F.format_string(
                "build_kmer_index: seq_id/seq_len out of packed-rep range "
                f"(seq_id=%s seq_len=%s; need 0 <= seq_id <= {_REP_ID_MASK}, "
                f"seq_len < {_REP_MAX_LEN})",
                seq_id,
                seq_len,
            )
        ).cast("long"),
    ).otherwise(seq_len.cast("long") * F.lit(1 << _REP_ID_BITS) + (F.lit(_REP_ID_MASK) - seq_id))


def _unpack_rep(p) -> list:
    """The ``seq_id`` and ``seq_len`` columns of a :func:`_pack_rep` key."""
    return [
        (F.lit(_REP_ID_MASK) - p.bitwiseAND(F.lit(_REP_ID_MASK))).alias("seq_id"),
        F.shiftright(p, _REP_ID_BITS).cast("int").alias("seq_len"),
    ]


def aggregate_kmer_index(
    kmers: DataFrame, extra_keys: tuple[str, ...] = ()
) -> DataFrame:
    """The engine's one J2 aggregation: the packed max (:func:`_pack_rep`)
    per k-mer over a ``(seq_id, seq_len, kmer[, ...])`` frame — an
    extraction (:func:`build_kmer_index`) or a union of stored index rows
    (a layout probe or compaction; exact there because the max of
    per-generation maxima IS the global max). With
    ``extra_keys=("_set",)`` the representative is resolved within each
    target DB (groupBy(kmer, _set)), which is exactly N per-set
    ``build_kmer_index`` calls in one exchange — the fused multi-target
    cascade aggregates ONE unioned extraction pass that way."""
    return (
        kmers.select("kmer", *extra_keys, _pack_rep(F.col("seq_id"), F.col("seq_len")).alias("p"))
        .groupBy("kmer", *extra_keys)
        .agg(F.max("p").alias("p"))
        .select("kmer", *extra_keys, *_unpack_rep(F.col("p")))
    )


def write_kmer_index(
    index: DataFrame, path: str, num_ranges: int = 32, k: int | None = None,
    alphabet: str | None = None,
) -> None:
    """Persist the index range-partitioned and sorted by kmer (O1) so the
    search join gets pruned, co-located scans. The ``_ps_meta`` sidecar
    records the k and alphabet the index was built with, when given, so
    a search with other ones is refused (plans.search.check_index_params)
    instead of joining on incompatible k-mer codes."""
    (
        index.repartitionByRange(num_ranges, "kmer")
        .sortWithinPartitions("kmer")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(path)
    )
    _write_sidecar(path, _INDEX_META, (None, k, alphabet))


def write_kmer_index_sharded(
    index: DataFrame,
    path: str,
    num_shards: int,
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
    ~n_query_kmers/num_shards of the index. Within each shard file the
    rows are kmer-sorted (row-group min/max stats stay usable) because
    the sort leads with ``kshard``: the planned write sorts by its
    partition column and keeps a sort it finds already leading with it,
    but replaces a ``kmer``-only one. Shard
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
        # kshard first, as in the store write: see the docstring
        .sortWithinPartitions("kshard", "kmer")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("kshard")
        .parquet(path)
    )
    # k/alphabet travel with the index (round-10 review finding: a probe
    # built with different parameters would join on incompatible kmer
    # codes and return EMPTY results with exit 0 — record them so the
    # reader can refuse loudly instead)
    _write_sidecar(path, _INDEX_META, (int(num_shards), k, alphabet))


def read_kmer_index_meta(spark, path: str) -> dict:
    """The sharded index's sidecar as a plain dict (num_shards, and —
    for layouts written since round 10 — the k and alphabet the index
    was built with; None on older layouts). Read on the driver
    (:func:`_read_sidecar`); ``spark`` is not used."""
    d = _read_sidecar(path)
    d.setdefault("k", None)
    d.setdefault("alphabet", None)
    return d


def read_kmer_index_pruned(
    spark,
    path: str,
    query_kmers: DataFrame | None,
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
    ``shards``: pass a precomputed shard list to skip the collect — a
    layout probe derives the lists of every modulus in ONE collect
    (query_shard_lists) and prunes every generation with them; with
    neither, every shard is read (compaction)."""
    if shards is None and query_kmers is not None:
        shards = query_shard_list(
            query_kmers, int(read_kmer_index_meta(spark, path)["num_shards"])
        )
    # explicit schema: an EMPTY corpus writes a partitioned dataset with
    # no part files at all (just _SUCCESS), and schema inference fails on
    # it — the empty-input law is "0 rows", never an AnalysisException
    index = spark.read.schema("kmer long, seq_id long, seq_len int, kshard int").parquet(path)
    if shards is not None:
        index = index.filter(F.col("kshard").isin(shards))
    return index.select("kmer", "seq_id", "seq_len")


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


def write_sequence_store_sharded(
    seqs: DataFrame, path: str, num_shards: int, db_residues: int, max_seq_id: int
) -> None:
    """Persist a SEQUENCE STORE directory-partitioned by ``sshard =
    seq_id % num_shards`` — the fetch-side twin of the sharded k-mer
    index (round 10): after a shard-pruned prefilter yields candidate
    target ids, the J4 sequence fetch reads only the shards those ids
    hash to instead of scanning the corpus (the reference fetches
    candidates by offset into the target DB, never a full pass —
    /root/reference/src/sra/blockalign.cpp:387-417). The ``_ps_meta``
    sidecar (inside the directory, so a publish-by-rename moves data+meta
    atomically) carries the modulus, the store's schema, ``db_residues``
    — the CORPUS-total residue count the e-value normalization needs
    (reference keeps it in the DB header); computing it at query time
    from a pruned fetch would skew e-values, and from the full store
    would defeat the prune — and ``max_seq_id``, so an APPEND can
    auto-offset fresh ids in O(generations) sidecar reads. Both come
    from :func:`_write_generation`'s ``admit``."""
    spark = seqs.sparkSession
    (
        seqs.withColumn("sshard", F.pmod(F.col("seq_id"), F.lit(num_shards)).cast("int"))
        # explicit count: see write_kmer_index_sharded (AQE would
        # serialize the num_shards-directory write into one task)
        .repartition(_write_parts(spark, num_shards), F.col("sshard"))
        # sshard first: the planned write sorts by it, and would drop a
        # seq_id-only sort (row-group pruning reads the seq_id order)
        .sortWithinPartitions("sshard", "seq_id")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("sshard")
        .parquet(path)
    )
    meta = (int(num_shards), int(db_residues), int(max_seq_id), seqs.schema.json())
    _write_sidecar(path, _STORE_META, meta)


def write_sharded_layout(
    seqs: DataFrame, root: str, num_shards: int = DEFAULT_NUM_SHARDS, k: int = DEFAULT_K,
    alphabet: str = AMINO_ALPHABET,
) -> None:
    """Write ``seqs`` as a fresh interactive layout (:func:`write_sharded_base`)
    and publish it at ``root`` by :func:`storage.swap_in`: the whole root
    is replaced, so an old layout's delta generations are superseded with
    it."""
    swap_in(root, lambda tmp: write_sharded_base(seqs, tmp, num_shards, k, alphabet))


def write_sharded_base(
    seqs: DataFrame, out_dir: str, num_shards: int = DEFAULT_NUM_SHARDS, k: int = DEFAULT_K,
    alphabet: str = AMINO_ALPHABET,
) -> None:
    """Write ``seqs`` as a base layout into the empty directory ``out_dir``:
    the kmer-sharded index (``index/``) and the seq_id-sharded sequence
    store (``seqs/``, round 10 — carries db_residues for e-value parity
    with the full-scan path). One persisted pass over ``seqs`` feeds the
    admission (:func:`_admit`) and both halves. Nothing is published:
    the caller hands in a staging directory and picks the verb
    (:mod:`petasearch_spark.storage`)."""
    seqs = seqs.persist()
    try:
        _write_generation(
            out_dir, build_kmer_index(seqs, k=k, alphabet=alphabet), seqs,
            num_shards, num_shards, k, alphabet, lambda: _admit(seqs),
        )
    finally:
        seqs.unpersist()


def _admit(seqs: DataFrame, moduli=()) -> Row:
    """The one admission aggregation of a layout write, over the frame it
    persists: a Row of the row count ``n``, the summed sequence lengths
    ``residues``, ``max_seq_id`` (-1 when empty) and, as ``m<m>``, the
    ``seq_id % m`` values of every ``m`` in ``moduli``. Ids must be unique
    (the fetch returns every row of an id, and db_residues counts each):
    a repeated or null id raises ValueError naming it, found by a query
    run only then."""
    row = seqs.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("seq_id").alias("distinct"),
        F.coalesce(F.sum(F.length("sequence")), F.lit(0)).alias("residues"),
        F.coalesce(F.max("seq_id"), F.lit(-1)).alias("max_seq_id"),
        *[F.collect_set(F.pmod("seq_id", F.lit(m)).cast("int")).alias(f"m{m}")
          for m in sorted({int(m) for m in moduli})],
    ).first()
    if row["n"] != row["distinct"]:
        dup = seqs.groupBy("seq_id").count().where("count > 1 OR seq_id IS NULL")
        dup = dup.orderBy("seq_id").first()
        raise ValueError(
            f"sharded layout: seq_id {dup[0]} appears {dup[1]} times in the sequences"
            " being written; layout ids must be unique and non-null"
        )
    return row


def _write_generation(
    root: str, index: DataFrame, seqs: DataFrame, idx_shards: int,
    seq_shards: int, k: int | None, alphabet: str | None, admit,
) -> None:
    """Write one generation of the interactive layout into the directory
    ``root`` and publish nothing — a base (write_sharded_base,
    compact_sharded_layout) or a delta (append_sharded_layout): ``index``
    as the kmer-sharded ``index/`` and ``seqs`` as the seq_id-sharded
    store ``seqs/``, each with its sidecar. The two writes are
    INDEPENDENT jobs submitted from a 2-thread pool, so they overlap
    (guide §2.6). ``admit()`` returns the store's ``residues`` and
    ``max_seq_id`` or raises to refuse ``seqs``; it runs beside the index
    write, and only the store write waits for it. Job descriptions are
    thread-local, so each stays labelled. Every outcome surfaces only
    after the pool has drained, so no half-running write is abandoned
    behind a propagating exception."""
    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(
            write_kmer_index_sharded, index, os.path.join(root, "index"),
            num_shards=idx_shards, k=k, alphabet=alphabet,
        )]
        stats = admit()
        futures.append(pool.submit(
            write_sequence_store_sharded, seqs, os.path.join(root, "seqs"),
            seq_shards, stats["residues"], stats["max_seq_id"],
        ))
    for f in futures:
        f.result()


def is_sharded_layout(path: str) -> bool:
    """True iff ``path`` holds the interactive layout (both datasets'
    in-directory sidecars present — a half-published dir is NOT a
    layout; the staging protocol prevents one existing)."""
    return os.path.isdir(os.path.join(path, "index", "_ps_meta")) and os.path.isdir(
        os.path.join(path, "seqs", "_ps_meta")
    )


def read_sequence_store_meta(spark, path: str) -> dict:
    """The sequence store's sidecar as a plain dict (num_shards,
    db_residues, schema_json, and — for stores written since the delta
    path landed — max_seq_id, None on older stores). A missing sidecar
    means the store is mid-write or absent — loud FileNotFoundError,
    never a silent mis-prune. Read on the driver (:func:`_read_sidecar`);
    ``spark`` is not used."""
    d = _read_sidecar(path)
    return {k: d.get(k) for k in ("num_shards", "db_residues", "schema_json", "max_seq_id")}


def read_sequence_store_pruned(
    spark, path: str, seq_ids: list[int] | None, shards: list[int] | None = None
) -> DataFrame:
    """Read the sharded sequence store pruned to the given candidate ids:
    an INSET partition filter on ``sshard`` prunes directories and the
    pushed ``seq_id IN`` filter prunes row groups within them, so fetch
    I/O is proportional to the CANDIDATE set (itself bounded by the
    prefilter funnel), not the corpus. ``shards`` replaces the ids'
    ``sshard`` list; with ``seq_ids`` None only it prunes (the append's
    id check), and with neither every shard is read (compaction). The
    explicit schema (from the sidecar) keeps the empty-corpus law: 0
    rows, never an AnalysisException on an empty partitioned dataset."""
    meta = read_sequence_store_meta(spark, path)
    ids = None if seq_ids is None else sorted({int(i) for i in seq_ids})
    if shards is None and ids is not None:
        shards = sorted({i % int(meta["num_shards"]) for i in ids})
    store = spark.read.schema(_store_read_schema(meta["schema_json"])).parquet(path)
    if shards is not None:
        keep = F.col("sshard").isin(shards)
        store = store.filter(keep if ids is None else keep & F.col("seq_id").isin(ids))
    return store.drop("sshard")


def write_kmer_index_bucketed(
    index: DataFrame, table: str, num_buckets: int = 32
) -> None:
    """Persist the index BUCKETED by kmer (saveAsTable — bucketing needs
    catalog metadata). A probe side bucketed the same way joins with NO
    shuffle on the index at all: each task reads its bucket from both
    sides. This is the Spark analogue of the reference's sorted
    table + streamed merge join, and the layout you want when the same
    100 TB index serves many query batches."""
    write_bucketed(index, table, "kmer", num_buckets)


def write_query_kmers_bucketed(
    query_kmers: DataFrame, table: str, num_buckets: int = 32
) -> None:
    """Bucket the probe side identically so the prefilter join is
    bucket-local (zero shuffle on either side)."""
    write_bucketed(query_kmers, table, "kmer", num_buckets)


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
    # J2 per k-mer: the greater packed key; greatest skips the NULL
    # side a k-mer present in one table only leaves
    best = F.greatest(
        _pack_rep(F.col("b.seq_id"), F.col("b.seq_len")),
        _pack_rep(F.col("d.seq_id"), F.col("d.seq_len")),
    )
    merged = base.join(delta, "kmer", "full_outer").select("kmer", *_unpack_rep(best))
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
#: matching dir is complete by construction); an append builds in the
#: staging of root/.delta (storage.build_staged), invisible to this pattern
_DELTA_NAME_FMT = "delta_{:05d}"
_DELTA_STAGE = ".delta"


def _delta_generation_dirs(root: str) -> list[str]:
    import re

    # \d{5,}: zero-padding stops at 99999 but generations keep going —
    # an exact-width pattern would make generation 100000 invisible to
    # every reader while append kept returning success (round-10
    # review); numeric sort, since lexicographic breaks at mixed widths
    pat = re.compile(r"^delta_\d{5,}$")
    return sorted(
        (os.path.join(root, n) for n in os.listdir(root) if pat.match(n)), key=_slot_number
    )


def _slot_number(gen: str) -> int:
    """The slot number of a published ``delta_NNNNN`` generation path."""
    return int(os.path.basename(gen).split("_", 1)[1])


def _claim_slot(src: str, root: str, n: int) -> str:
    """Publish the directory ``src`` as generation ``n`` of ``root`` by
    atomic rename, moving up to the next slot while a concurrent
    appender holds the one tried; returns the claimed path. Any other
    rename failure (e.g. a root missing mid-compaction) raises."""
    while True:
        target = os.path.join(root, _DELTA_NAME_FMT.format(n))
        try:
            os.rename(src, target)
            return target
        except OSError:
            if not os.path.isdir(target):
                raise  # not a slot collision — surface it
            n += 1


def list_layout_generations(root: str) -> list[str]:
    """All live generations of a sharded layout, fold order: the base
    (``root`` itself) first, then each published ``delta_NNNNN``. Every
    entry holds the same two datasets (``index/`` + ``seqs/``) with the
    same modulus/k/alphabet (append_sharded_layout enforces at write
    time). Recovers an interrupted swap of the root first
    (:func:`storage.recover`), and reaps the staging of killed appends,
    which readers never see but nobody else would delete."""
    recover(root)
    reap_staging(os.path.join(root, _DELTA_STAGE))
    return [root] + _delta_generation_dirs(root)


def read_layout_index_pruned(
    spark,
    root: str,
    query_kmers: DataFrame,
    idx_meta: dict | None = None,
    gens: list[str] | None = None,
) -> DataFrame:
    """GENERATION-AWARE pruned index read: the shard lists are derived
    ONCE from the query k-mers and prune every generation's scan; the
    pruned union is J2-re-resolved (aggregate_kmer_index — exact by
    associativity) so downstream sees exactly the index a full rebuild
    would produce.
    With no deltas this IS read_kmer_index_pruned — same plan, zero new
    nodes (the no-delta probe's pinned plan shape is unchanged).
    Generations may carry DIFFERENT moduli (append auto-sizes a small
    delta's fanout to the delta, the LSM L0 shape — a 5k-seq arrival
    must not pay the base's 4096-directory write); one collect gives
    the list of every DISTINCT modulus (query_shard_lists). Each delta
    generation's k/alphabet is checked against the base's — a
    hand-placed generation with drifted k-mer codes fails loudly
    instead of returning silently-wrong joins."""
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
    union = _read_generations(
        spark, gens, "index", [shards_by_mod[int(m["num_shards"])] for m in metas]
    )
    if len(gens) == 1:
        return union
    # narrow to the query's own k-mers BEFORE re-resolving: the probed
    # shards hold ~|shard| rows each (corpus-proportional), and without
    # this the multi-generation groupBy shuffles all of them; the only
    # consumer is the prefilter's kmer equi-join, which drops non-query
    # k-mers anyway, so the semi-join keeps the resolution input bounded
    # by query k-mers x generations (round-10 review); inner, since Spark
    # pushes a left-semi join below the union: one exchange per generation
    union = union.join(query_kmers.select("kmer").distinct(), "kmer")
    return aggregate_kmer_index(union)


def read_layout_store_pruned(
    spark, root: str, seq_ids: list[int], gens: list[str] | None = None
) -> tuple[DataFrame, int]:
    """GENERATION-AWARE pruned sequence fetch: unions each generation's
    pruned store read (ids are globally unique — append enforces) and
    returns it with the CORPUS-total residue count (the sum of the
    generation sidecars' db_residues), which is what the e-value
    normalization needs — identical to a full rebuild's sidecar by
    construction."""
    if gens is None:
        gens = list_layout_generations(root)
    return _read_generations(spark, gens, "seqs", seq_ids=seq_ids), _db_residues(spark, gens)


def _db_residues(spark, gens: list[str]) -> int:
    """The summed ``db_residues`` of the generations' store sidecars."""
    return sum(
        int(read_sequence_store_meta(spark, os.path.join(g, "seqs"))["db_residues"])
        for g in gens
    )


def _read_generations(
    spark, gens: list[str], half: str, shards: list[list[int]] | None = None,
    seq_ids: list[int] | None = None, tag: str | None = None,
) -> DataFrame:
    """The union of one half of every generation in ``gens``, the
    ``"index"`` (read_kmer_index_pruned) or the ``"seqs"`` store
    (read_sequence_store_pruned): the one place generations are
    unioned. ``shards`` gives each generation the prune list of ITS
    modulus (parallel to ``gens``); ``seq_ids`` prunes the store to those
    ids; ``tag`` names an int column holding each row's index in ``gens``."""
    union = None
    for i, gen in enumerate(gens):
        path = os.path.join(gen, half)
        gen_shards = None if shards is None else shards[i]
        if half == "index":
            part = read_kmer_index_pruned(spark, path, None, shards=gen_shards)
        else:
            part = read_sequence_store_pruned(spark, path, seq_ids, shards=gen_shards)
        if tag is not None:
            part = part.withColumn(tag, F.lit(i))
        union = part if union is None else union.unionAll(part)
    return union


class SeqIdCollision(ValueError):
    """An append's sequence ids already live in the layout: ``matched``
    of the delta's ``distinct`` ids were found, in ``generations``."""

    def __init__(self, seq_id: int, gen: str, matched: int, distinct: int, generations: list[str]):
        self.matched, self.distinct, self.generations = matched, distinct, generations
        super().__init__(
            f"append_sharded_layout: seq_id {seq_id} already exists in generation {gen}"
            f" ({matched} of the delta's {distinct} ids, in {generations}) — delta"
            " sequence ids must be NEW (the fetch side unions generations without"
            " collision resolution; re-id the delta before appending)"
        )


def _admit_delta(spark, gens: list[str], new_seqs: DataFrame) -> Row | None:
    """An append's admission in two Spark actions at any number of
    generations: :func:`_admit` over every store modulus in ``gens`` (an
    empty delta stops here: None), then :class:`SeqIdCollision` if an id
    is stored in ``gens``, from the stores' ``seq_id`` column, each pruned
    by the delta's shard list of its modulus, joined to the broadcast
    delta ids. They are distinct, so an inner join keeps a semi-join's
    rows, and one broadcast: a left-semi join is pushed below the union,
    one broadcast per generation. Returns the admission Row."""
    metas = [read_sequence_store_meta(spark, os.path.join(g, "seqs")) for g in gens]
    admitted = _admit(new_seqs, [m["num_shards"] for m in metas])
    if not admitted["n"]:
        return None
    shards = [sorted(admitted[f"m{m['num_shards']}"]) for m in metas]
    stored = _read_generations(spark, gens, "seqs", shards, tag="gen")
    hits = (
        stored.select("seq_id", "gen")
        .join(F.broadcast(new_seqs.select("seq_id")), "seq_id")
        .agg(
            F.min(F.struct("seq_id", "gen")).alias("first"),
            F.count_distinct("seq_id").alias("matched"),
            F.sort_array(F.collect_set("gen")).alias("gens"),
        )
        .first()
    )
    if hits["matched"]:
        raise SeqIdCollision(
            hits["first"]["seq_id"], gens[hits["first"]["gen"]], hits["matched"],
            admitted["n"], [gens[i] for i in hits["gens"]],
        )
    return admitted


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
) -> str | None:
    """Fold newly-arrived sequences into a published sharded layout as a
    NEW GENERATION — cost proportional to the DELTA (its own extraction
    + groupBy + two sharded writes whose fanout is auto-sized to the
    delta), never the corpus. The generation is a complete mini layout
    (``index/`` + ``seqs/``) written with the BASE's k/alphabet (read
    from its sidecar, so a drifted append is impossible), built in a
    staging dir inside the root and claimed by atomic rename to the next
    ``delta_NNNNN`` slot — a probe can never observe a half-written
    generation, and two concurrent appenders claim distinct slots (the
    rename loser retries on the next number). Returns the published
    generation path, or None for an empty delta (no generation written).

    Sequence ids must be distinct and NEW (:func:`_admit_delta` raises
    ValueError or :class:`SeqIdCollision`), checked before the write and
    re-checked after publish against generations claimed concurrently:
    of two racing appenders with colliding ids the lower slot survives
    and the higher aborts loudly, removing its own generation."""
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
        admitted = _admit_delta(spark, gens, new_seqs)
        if admitted is None:
            return None
        idx_shards = min(
            int(idx_meta["num_shards"]), admitted["residues"] // _DELTA_KMER_ROWS_PER_SHARD + 1
        )
        seq_shards = min(
            int(store_meta["num_shards"]), admitted["n"] // _DELTA_SEQS_PER_SHARD + 1
        )
        k, alphabet = idx_meta["k"], idx_meta["alphabet"]
        tmp = build_staged(os.path.join(root, _DELTA_STAGE), lambda tmp: _write_generation(
            tmp, build_kmer_index(new_seqs, k=k, alphabet=alphabet), new_seqs,
            idx_shards, seq_shards, k, alphabet, lambda: admitted,
        ))
        try:
            target = _claim_slot(tmp, root, max(map(_slot_number, gens[1:]), default=0) + 1)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        # check-then-publish: a rival may have published since the
        # check (round-10 review). Only lower unseen slots are checked,
        # so of two clashing appenders the higher aborts, with no lock
        rivals = [
            g for g in _delta_generation_dirs(root)
            if g not in gens and _slot_number(g) < _slot_number(target)
        ]
        if rivals:
            try:
                _admit_delta(spark, rivals, new_seqs)
            except ValueError:
                shutil.rmtree(target, ignore_errors=True)
                raise
        return target
    finally:
        new_seqs.unpersist()


def layout_next_seq_id(spark, root: str) -> int:
    """The smallest seq_id guaranteed fresh across ALL generations —
    max(generation max_seq_id) + 1 (:func:`_max_seq_id`)."""
    return max(_max_seq_id(spark, g) for g in list_layout_generations(root)) + 1


def _max_seq_id(spark, gen: str) -> int:
    """A generation's largest stored seq_id (-1 if none): its sidecar's,
    or a column-pruned max-scan for a store whose sidecar predates it."""
    store = os.path.join(gen, "seqs")
    meta = read_sequence_store_meta(spark, store)
    if meta["max_seq_id"] is not None:
        return int(meta["max_seq_id"])
    m = (
        spark.read.schema(_store_read_schema(meta["schema_json"]))
        .parquet(store)
        .agg(F.max("seq_id"))
        .collect()[0][0]
    )
    return int(m) if m is not None else -1


def compact_sharded_layout(spark, root: str) -> int:
    """Fold all delta generations back into ONE base — the maintenance
    job that bounds probe read amplification (each generation adds one
    pruned scan per probe). Much cheaper than a rebuild: the index side
    unions the STORED per-generation indexes and re-resolves J2 (one
    groupBy over ~|distinct k-mers| rows — skipping extraction, which
    dominates build cost), the fetch side is a plain union (ids are
    disjoint by append's check), and db_residues and max_seq_id are the
    sum and max of the generation sidecars'. :func:`storage.swap_in`
    swaps the new root in; generations appended while the fold ran are
    not in its snapshot, and are re-claimed from the old root into the
    new one (their ids are disjoint from the base by append's check).
    An appender racing the root-missing window between the renames
    fails loudly on its claim rename (ENOENT). Returns the number of
    generations folded (0 = no deltas)."""
    gens = list_layout_generations(root)
    if len(gens) == 1:
        return 0
    idx_meta = read_kmer_index_meta(spark, os.path.join(root, "index"))
    store_meta = read_sequence_store_meta(spark, os.path.join(root, "seqs"))
    stats = Row(
        residues=_db_residues(spark, gens), max_seq_id=max(_max_seq_id(spark, g) for g in gens)
    )
    folded = {os.path.basename(g) for g in gens}

    def adopt(old: str) -> None:
        n = 1
        for g in _delta_generation_dirs(old):
            if os.path.basename(g) not in folded:
                n = _slot_number(_claim_slot(g, root, n)) + 1

    swap_in(root, lambda tmp: _write_generation(
        tmp, aggregate_kmer_index(_read_generations(spark, gens, "index")),
        _read_generations(spark, gens, "seqs"), idx_meta["num_shards"],
        store_meta["num_shards"], idx_meta["k"], idx_meta["alphabet"], lambda: stats,
    ), adopt=adopt)
    return len(gens) - 1


def _store_read_schema(schema_json: str):
    """Sequence-store schema (sidecar JSON) + the sshard partition column
    — the read schema compact/fetch paths share (empty-dataset law: an
    explicit schema, never inference)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    base = StructType.fromJson(json.loads(schema_json))
    return StructType(list(base.fields) + [StructField("sshard", IntegerType())])
