"""The sharded layout's id law on the fast tier (the full
tests/test_sharded_delta.py suite is ``slow``): an append whose ids
already live in the layout is refused, naming the generation that holds
them, whether the clash is with the base, with a delta, or one id among
more than 2,000 new ones; and the id check costs the same number of
Spark SQL executions however many generations it covers."""

from __future__ import annotations

import random
import re

import pytest

from petasearch_spark.operators.kmer_index import (
    SeqIdCollision,
    _check_ids_disjoint,
    append_sharded_layout,
    list_layout_generations,
    write_sharded_layout,
)

_ALPHA, _K = "ACGT", 5


def _seqs(spark, ids, seed):
    rng = random.Random(seed)
    rows = [(i, "".join(rng.choice(_ALPHA) for _ in range(60))) for i in ids]
    return spark.createDataFrame(rows, "seq_id long, sequence string")


def _last_execution_id(spark) -> int:
    """The highest SQL execution id in the status store, once the
    listener bus has delivered every event. The executions list is
    capped by ``spark.sql.ui.retainedExecutions``, so its length can
    stand still while executions run; the newest id cannot."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)


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
    try:
        fresh.count()
        cost = []
        for covered in (gens[:1], gens):
            before = _last_execution_id(spark)
            _check_ids_disjoint(spark, covered, fresh)
            cost.append(_last_execution_id(spark) - before)
    finally:
        fresh.unpersist()
    assert cost[0] == cost[1] > 0, cost
