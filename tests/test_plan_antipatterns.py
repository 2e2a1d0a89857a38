"""Registry-wide plan anti-pattern guard (round-7): the judge-grep
invariants — NO row-at-a-time Python UDF (BatchEvalPython) and NO
unbounded cartesian product — promoted to a machine check over the
EXECUTED plan of every registered batch query.

BroadcastNestedLoopJoin is allowed ONLY because every crossJoin in the
package is against a 1-row aggregate or a broadcast <=16-row frame (the
documented pattern); a true CartesianProduct node (both sides
unbroadcastable) is always a bug.

Streaming entries are excluded: constructing their frame EXECUTES the
stream (their plan quality is covered by their own e2e/recovery tests
and the bench record); ditto the bench-only maintenance jobs.
"""

from __future__ import annotations

import pytest

from petasearch_spark.registry import REGISTRY

SF_DIR = "/root/testdata/sf0.001"

BATCH_QUERIES = sorted(n for n in REGISTRY if "stream" not in n)


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_no_plan_antipatterns(spark, name):
    df = REGISTRY[name][0](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, (
        f"{name}: unbounded cartesian product in the executed plan"
    )
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in the executed plan — use an"
        " Arrow-batched kernel (mapInPandas / pandas_udf)"
    )


# ---- round-11: global sorts above Python kernels ---------------------------
#
# A global orderBy plans as Sort <- Exchange(rangepartitioning), and building
# the RangePartitioner runs a SEPARATE sampling job over the exchange's child
# RDD (RangePartitioner.sketch). That job re-executes everything above the
# last materialized boundary — a mapInPandas kernel directly under the final
# sort runs TWICE per query. functions/ordering.sort_via_exchange interposes
# a hash exchange so the sampling job reads a shuffle instead.

PY_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
            "FlatMapGroupsInPandas", "MapInArrow")
#: boundaries the sampling job does NOT recompute through: a materialized
#: shuffle, a broadcast (built once, reused), a populated cache
CUT_NODES = ("Exchange", "BroadcastExchange", "InMemoryTableScan")


def _parse_plan(formatted_plan: str) -> tuple[set[int], list[tuple[int, str, int]]]:
    """``explain("formatted")`` -> (ids of the range Exchanges, tree as
    (indent_depth, node_name, node_id) rows). An empty tree means the
    format drifted away from these regexes: fail, rather than let every
    query pass the guard vacuously."""
    import re

    lines = formatted_plan.splitlines()
    range_ids = set()
    cur_id = None
    for ln in lines:
        m = re.match(r"\((\d+)\) Exchange\b", ln)
        if m:
            cur_id = int(m.group(1))
        elif ln.startswith("("):
            cur_id = None
        if cur_id is not None and "rangepartitioning" in ln:
            range_ids.add(cur_id)
    # tree section: (indent_depth, node_name, node_id); whole-stage-codegen
    # nodes print as "* Name (n)" after the tree glyphs
    tree = []
    for ln in lines:
        m = re.search(r"^([+\-:|\s]*)(?:\* )?(\w+)[^(]*\((\d+)\)\s*$", ln)
        if m:
            tree.append((len(m.group(1)), m.group(2), int(m.group(3))))
        elif tree and ln.strip() == "":
            break
    assert tree, "explain('formatted') output no longer parses as a plan tree"
    return range_ids, tree


def _kernels_resampled_by_sort(formatted_plan: str) -> list[str]:
    """Python-kernel nodes reachable from an Exchange(rangepartitioning)
    without crossing a shuffle/broadcast/cache boundary — i.e. kernels the
    sort's RangePartitioner sampling job would re-execute."""
    range_ids, tree = _parse_plan(formatted_plan)
    hits = []
    for i, (ind, name, nid) in enumerate(tree):
        if nid not in range_ids:
            continue
        pruned_below: int | None = None
        for j in range(i + 1, len(tree)):
            ind2, name2, nid2 = tree[j]
            if ind2 <= ind:
                break  # left the range exchange's subtree
            if pruned_below is not None:
                if ind2 > pruned_below:
                    continue  # inside a pruned (materialized) subtree
                pruned_below = None
            if name2 in CUT_NODES:
                pruned_below = ind2
                continue
            if name2 in PY_NODES:
                hits.append(f"{name2} ({nid2}) under range Exchange ({nid})")
    return hits


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def formatted_plan(spark):
    """name -> formatted plan of the registry query, built once per module."""
    plans: dict[str, str] = {}

    def get(name: str) -> str:
        if name not in plans:
            plans[name] = _formatted(REGISTRY[name][0](spark, SF_DIR))
        return plans[name]

    return get


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_no_kernel_resampled_by_global_sort(formatted_plan, name):
    hits = _kernels_resampled_by_sort(formatted_plan(name))
    assert not hits, (
        f"{name}: the final sort's RangePartitioner sampling job re-executes"
        f" a Python kernel: {hits} — sort via functions.ordering."
        "sort_via_exchange so the sampling reads a shuffle instead"
    )


def test_global_sort_guard_sees_range_exchanges(formatted_plan):
    """The guard above only bites where it finds a range Exchange: if no
    registry plan parses to one, it checks nothing."""
    assert any(_parse_plan(formatted_plan(name))[0] for name in BATCH_QUERIES)


def test_sort_above_kernel_runs_kernel_once(spark, tmp_path):
    """Behavioral pin for functions/ordering.sort_via_exchange: a bare
    orderBy above a mapInPandas kernel executes the kernel's batches
    TWICE (RangePartitioner sampling + real shuffle write); the helper's
    interposed hash exchange restores exactly-once. Local mode shares the
    filesystem, so the kernel counts its own executions in a mark file."""
    from petasearch_spark.functions.ordering import sort_via_exchange

    mark = str(tmp_path / "kernel_marks.txt")

    def kernel(batches):
        for pdf in batches:
            with open(mark, "a") as f:
                f.write(f"{len(pdf)}\n")
            yield pdf

    def n_marks() -> int:
        try:
            with open(mark) as f:
                return sum(1 for _ in f)
        except OSError:
            return 0

    df = spark.range(0, 10_000).selectExpr("id", "id % 7 as g")
    base = df.repartition(4, "g").mapInPandas(kernel, schema="id long, g long")

    base.write.format("noop").mode("overwrite").save()
    once = n_marks()
    assert once > 0

    import os

    os.remove(mark)
    bare = base.orderBy("g", "id")
    bare.write.format("noop").mode("overwrite").save()
    assert n_marks() == 2 * once, "bare orderBy no longer doubles the kernel"
    assert _kernels_resampled_by_sort(_formatted(bare)), "the plan guard misses it"

    os.remove(mark)
    fixed = sort_via_exchange(base, "g", "id")
    fixed.write.format("noop").mode("overwrite").save()
    assert n_marks() == once, "sort_via_exchange must run the kernel once"
    assert not _kernels_resampled_by_sort(_formatted(fixed))

    # and the helper is result-identical to the bare sort
    assert [tuple(r) for r in fixed.collect()] == [tuple(r) for r in bare.collect()]
