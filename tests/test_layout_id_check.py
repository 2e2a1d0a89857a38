"""The sharded layout's admission laws on the fast tier (the full
tests/test_sharded_delta.py suite is ``slow``): an append whose ids
already live in the layout is refused, naming the generation that holds
them, whether the clash is with the base, with a delta, or one id among
more than 2,000 new ones; a delta or a base that repeats an id is
refused; a rebuilt root keeps none of its old generations; the store
files stay ``seq_id``-sorted and the index files ``kmer``-sorted; and neither an append's admission nor a probe's
index read costs more Spark work as generations accumulate."""

from __future__ import annotations

import glob
import os
import random
import re

import pyarrow.parquet as pq
import pytest

from petasearch_spark.operators.kmer_index import (
    SeqIdCollision,
    _admit_delta,
    append_sharded_layout,
    extract_query_kmers,
    list_layout_generations,
    read_layout_index_pruned,
    read_layout_store_pruned,
    write_sharded_layout,
)

_ALPHA, _K = "ACGT", 5


def _rows(ids, seed):
    rng = random.Random(seed)
    return [(i, "".join(rng.choice(_ALPHA) for _ in range(60))) for i in ids]


def _seqs(spark, ids, seed):
    return spark.createDataFrame(_rows(ids, seed), "seq_id long, sequence string")


def _last_execution_id(spark) -> int:
    """The highest SQL execution id in the status store, once the
    listener bus has delivered every event. The executions list is
    capped by ``spark.sql.ui.retainedExecutions``, so its length can
    stand still while executions run; the newest id cannot."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)


def _job_ids(spark) -> set[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _cost(spark, fn) -> tuple[int, int]:
    """(SQL executions, Spark jobs) that ``fn()`` runs."""
    e0, j0 = _last_execution_id(spark), _job_ids(spark)
    fn()
    return _last_execution_id(spark) - e0, len(_job_ids(spark) - j0)


def test_append_id_check_refuses_clashes_at_a_cost_flat_in_generations(spark, tmp_path):
    root = str(tmp_path / "root")
    write_sharded_layout(_seqs(spark, range(6), 1), root, num_shards=8, k=_K, alphabet=_ALPHA)
    for j in (1, 2, 3):
        append_sharded_layout(spark, root, _seqs(spark, range(10 * j, 10 * j + 3), 1 + j))
    gens = list_layout_generations(root)
    assert len(gens) == 4

    clashes = [
        ([3, 99], gens[0]),  # the base
        ([11], gens[1]),  # a delta
        (list(range(1000, 3001)) + [21], gens[2]),  # 2,001 new ids and one clash
    ]
    for ids, gen in clashes:
        with pytest.raises(SeqIdCollision, match=rf"already exists in generation {re.escape(gen)} ") as exc:
            append_sharded_layout(spark, root, _seqs(spark, ids, 7))
        assert (exc.value.matched, exc.value.distinct, exc.value.generations) == (1, len(ids), [gen])
    assert list_layout_generations(root) == gens

    fresh = _seqs(spark, range(500, 600), 8).persist()
    empty = fresh.filter("seq_id < 0")
    try:
        fresh.count()
        cost = [_cost(spark, lambda: _admit_delta(spark, g, fresh)) for g in (gens[:1], gens)]
        empty_cost = _cost(spark, lambda: _admit_delta(spark, gens, empty))
    finally:
        fresh.unpersist()
    # one admission aggregation and one id check, at any number of
    # generations; an empty delta stops after the aggregation
    assert cost[0] == cost[1] and cost[0][0] == 2, cost
    assert empty_cost[0] == 1, empty_cost


def test_probe_index_read_cost_is_flat_in_generations(spark, tmp_path):
    root = str(tmp_path / "root")
    write_sharded_layout(_seqs(spark, range(20), 11), root, num_shards=8, k=_K, alphabet=_ALPHA)
    qk = extract_query_kmers(_seqs(spark, [900], 12), k=_K, alphabet=_ALPHA).persist()
    try:
        qk.count()
        cost = []
        for j in (1, 2, 3):
            append_sharded_layout(spark, root, _seqs(spark, range(100 * j, 100 * j + 5), 12 + j))
            if j != 2:  # measure at 2 and at 4 generations
                gens = list_layout_generations(root)
                cost.append(_cost(
                    spark, lambda: read_layout_index_pruned(spark, root, qk, gens=gens).collect()
                ))
    finally:
        qk.unpersist()
    assert cost[0] == cost[1], cost


def test_a_repeated_id_is_refused_in_a_delta_and_in_a_base(spark, tmp_path):
    root = str(tmp_path / "root")
    write_sharded_layout(_seqs(spark, range(6), 21), root, num_shards=8, k=_K, alphabet=_ALPHA)
    gens = list_layout_generations(root)
    twice = spark.createDataFrame(
        _rows([5000, 77], 22) + _rows([5000], 23), "seq_id long, sequence string"
    )
    with pytest.raises(ValueError, match="seq_id 5000 appears 2 times") as exc:
        append_sharded_layout(spark, root, twice)
    assert not isinstance(exc.value, SeqIdCollision)
    assert list_layout_generations(root) == gens
    assert not glob.glob(root + "/.delta_build*")
    fetched, residues = read_layout_store_pruned(spark, root, [5000, 77])
    assert fetched.count() == 0 and residues == 6 * 60

    other = str(tmp_path / "other")
    with pytest.raises(ValueError, match="seq_id 5000 appears 2 times"):
        write_sharded_layout(twice, other, num_shards=8, k=_K, alphabet=_ALPHA)
    assert not os.path.exists(other)
    assert not [n for n in os.listdir(tmp_path) if ".compact" in n]


def test_rewriting_a_root_supersedes_its_generations(spark, tmp_path):
    grown, fresh = str(tmp_path / "grown"), str(tmp_path / "fresh")
    write_sharded_layout(_seqs(spark, range(6), 31), grown, num_shards=8, k=_K, alphabet=_ALPHA)
    append_sharded_layout(spark, grown, _seqs(spark, range(40, 44), 32))
    assert len(list_layout_generations(grown)) == 2

    for root in (grown, fresh):
        write_sharded_layout(
            _seqs(spark, range(50, 56), 33), root, num_shards=8, k=_K, alphabet=_ALPHA
        )
    assert list_layout_generations(grown) == [grown]
    assert not [n for n in os.listdir(tmp_path) if ".compact" in n or ".old" in n]

    probe = extract_query_kmers(_seqs(spark, range(40, 56), 0), k=_K, alphabet=_ALPHA)
    got, want = (
        sorted(map(tuple, read_layout_index_pruned(spark, root, probe).collect()))
        for root in (grown, fresh)
    )
    assert got == want and got
    (g_df, g_res), (f_df, f_res) = (
        read_layout_store_pruned(spark, root, list(range(40, 56))) for root in (grown, fresh)
    )
    assert sorted(map(tuple, g_df.collect())) == sorted(map(tuple, f_df.collect()))
    assert sorted(r["seq_id"] for r in g_df.collect()) == list(range(50, 56))
    assert g_res == f_res == 6 * 60


def test_store_files_are_seq_id_sorted(spark, tmp_path):
    """The candidate fetch's row-group pruning reads the store files'
    min/max ``seq_id`` statistics, so each file must be sorted."""
    ids = list(range(400))
    random.Random(41).shuffle(ids)
    root = str(tmp_path / "root")
    write_sharded_layout(
        _seqs(spark, ids, 42).repartition(3), root, num_shards=4, k=_K, alphabet=_ALPHA
    )
    _assert_files_sorted(os.path.join(root, "seqs", "sshard=*"), "seq_id", 4)


def _assert_files_sorted(shard_glob: str, column: str, min_files: int) -> None:
    files = glob.glob(os.path.join(shard_glob, "*.parquet"))
    assert len(files) >= min_files
    for f in files:
        col = pq.read_table(f, columns=[column]).column(column).to_pylist()
        assert len(col) > 1 and col == sorted(col), f


def test_index_files_are_kmer_sorted(spark, tmp_path):
    """A probe's row-group pruning reads the index files' min/max ``kmer``
    statistics, so each shard file must be sorted. Spark's planned write
    sorts by the partition column and drops a ``kmer``-only sort below
    it, so the order holds only if the write's sort leads with
    ``kshard``."""
    ids = list(range(400))
    random.Random(43).shuffle(ids)
    root = str(tmp_path / "root")
    write_sharded_layout(
        _seqs(spark, ids, 44).repartition(3), root, num_shards=16, k=_K, alphabet=_ALPHA
    )
    _assert_files_sorted(os.path.join(root, "index", "kshard=*"), "kmer", 16)
