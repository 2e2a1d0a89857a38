"""The cascade's query side (plans.search.build_query_kmers) as ONE Python
pass: mask -> extract -> T4 bias -> T2 expansion in a single mapInPandas
over the queries, and the layout probe's shard lists from one collect.

Pinned here:
* the executed plan has one Python node, one scan of the query source
  and no shuffle or broadcast;
* its rows equal the staged composition of the public operators
  (mask_sequences -> extract_query_kmers -> expand_query_kmers, with
  composition_bias_kmer when bias is on) for every knob that reaches the
  query side, across several Arrow batches and the edge inputs;
* query_shard_lists gives every modulus of a mixed-modulus layout the
  list query_shard_list gives it alone, and a layout probe asks for them
  in one call.
"""

from __future__ import annotations

import os
import random

import pytest

from pyspark.sql import functions as F

from petasearch_spark.functions.kmer import AMINO_ALPHABET
from petasearch_spark.plans.search import SearchKnobs, build_query_kmers

from tests.test_plan_antipatterns import PY_NODES, _formatted, _parse_plan


def _query_rows() -> list[tuple[int, str | None]]:
    """Random proteins with planted repeats (masking and bias bite),
    X breaks, a NULL, sequences shorter than k, an empty one and a few
    nucleotide-only ones (the nucl alphabet has windows to extract)."""
    rng = random.Random(7)
    rows = []
    for i in range(60):
        s = "".join(rng.choice(AMINO_ALPHABET) for _ in range(rng.randint(9, 90)))
        if i % 5 == 0:
            s = s[:15] + "L" * 24 + s[15:]
        if i % 7 == 0:
            s = s[:8] + "QPQPQPQPQPQPQPQP" + s[8:]
        if i % 9 == 0:
            s = s[:20] + "X" + s[20:]
        rows.append((i, s))
    rows += [(100, None), (101, "ACDEFGHI"), (102, ""), (103, "WWWWWWWWW")]
    rows += [(200 + i, "".join(rng.choice("ACGT") for _ in range(40))) for i in range(4)]
    return rows


@pytest.fixture(scope="module")
def queries_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("qk") / "queries.parquet")
    spark.createDataFrame(_query_rows(), "seq_id long, sequence string").write.parquet(path)
    return path


def _staged(queries, kn: SearchKnobs):
    """The query side composed from the public operators, one stage each."""
    from petasearch_spark.functions.scoring import NUCL_ALPHABET
    from petasearch_spark.operators.kmer_index import extract_query_kmers
    from petasearch_spark.operators.masking import mask_sequences
    from petasearch_spark.operators.similar_kmers import (
        DEFAULT_KMER_THRESHOLD,
        DEFAULT_MAX_PER_POS,
        composition_bias_kmer,
        expand_query_kmers,
    )

    alpha = NUCL_ALPHABET if kn.alphabet == "nucl" else AMINO_ALPHABET
    qk = extract_query_kmers(
        mask_sequences(queries) if kn.mask else queries, k=kn.k, alphabet=alpha
    )
    if not kn.expand_similar or kn.alphabet == "nucl":
        return qk
    return expand_query_kmers(
        qk,
        k=kn.k,
        threshold=kn.kmer_threshold if kn.kmer_threshold is not None else DEFAULT_KMER_THRESHOLD,
        max_per_pos=(kn.kmer_max_per_pos if kn.kmer_max_per_pos is not None
                     else DEFAULT_MAX_PER_POS),
        bias=composition_bias_kmer(queries, k=kn.k) if kn.compo_bias else None,
    )


def _plan_nodes(df) -> list[str]:
    df.collect()  # the executed (AQE final) plan
    return [name for _depth, name, _id in _parse_plan(_formatted(df))[1]]


@pytest.mark.parametrize(
    "knobs",
    [dict(mask=True, expand_similar=True),
     dict(mask=True, expand_similar=True, compo_bias=True)],
    ids=["cli_defaults", "compo_bias"],
)
def test_query_side_plan_is_one_python_pass(spark, queries_path, knobs):
    nodes = _plan_nodes(build_query_kmers(spark.read.parquet(queries_path), SearchKnobs(**knobs)))
    assert sum(n in PY_NODES for n in nodes) == 1, nodes
    assert sum(n.startswith("Scan") for n in nodes) == 1, nodes
    assert not {"Exchange", "BroadcastExchange"} & set(nodes), nodes


_KNOBS = {
    "exact": dict(),
    "mask": dict(mask=True),
    "expand": dict(expand_similar=True),
    "cli_defaults": dict(mask=True, expand_similar=True),
    "compo_bias": dict(mask=True, expand_similar=True, compo_bias=True),
    "bias_unmasked_thr150": dict(expand_similar=True, compo_bias=True, kmer_threshold=150),
    "thr150_max5": dict(expand_similar=True, kmer_threshold=150, kmer_max_per_pos=5),
    "thr150_max0": dict(mask=True, expand_similar=True, kmer_threshold=150, kmer_max_per_pos=0),
    "nucl": dict(alphabet="nucl", mask=True, expand_similar=True),
}


@pytest.fixture
def small_arrow_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("case", sorted(_KNOBS))
def test_fused_query_side_equals_staged_composition(
    spark, queries_path, small_arrow_batches, case
):
    kn = SearchKnobs(**_KNOBS[case])
    queries = spark.read.parquet(queries_path)
    got = sorted(tuple(r) for r in build_query_kmers(queries, kn).collect())
    want = sorted(tuple(r) for r in _staged(queries, kn).collect())
    assert got == want and len(got) > 0
    if kn.expand_similar and kn.alphabet != "nucl" and kn.kmer_max_per_pos != 0:
        # the case reaches the similar-k-mer rows, not just the exact ones
        exact = _staged(queries, SearchKnobs(mask=kn.mask, alphabet=kn.alphabet)).count()
        assert len(got) > exact
    empty = queries.filter(F.col("seq_id") < 0)
    assert build_query_kmers(empty, kn).collect() == []


def test_shard_lists_cover_every_modulus_in_one_collect(spark, tmp_path, monkeypatch):
    from petasearch_spark.operators import kmer_index
    from petasearch_spark.operators.kmer_index import (
        append_sharded_layout,
        extract_query_kmers,
        query_shard_list,
        query_shard_lists,
        read_kmer_index_meta,
        read_layout_index_pruned,
        write_sharded_layout,
    )

    alpha, k = "ACGT", 5
    rng = random.Random(3)

    def seqs(ids):
        return spark.createDataFrame(
            [(i, "".join(rng.choice(alpha) for _ in range(60))) for i in ids],
            "seq_id long, sequence string",
        )

    root = str(tmp_path / "layout")
    write_sharded_layout(seqs(range(8)), root, num_shards=16, k=k, alphabet=alpha)
    append_sharded_layout(spark, root, seqs([100, 101]))  # auto-sized: 1 shard
    append_sharded_layout(spark, root, seqs([200, 201]), num_shards=4)
    moduli = sorted(
        int(read_kmer_index_meta(spark, os.path.join(g, "index"))["num_shards"])
        for g in kmer_index.list_layout_generations(root)
    )
    assert moduli == [1, 4, 16]

    qk = extract_query_kmers(seqs([900, 901]), k=k, alphabet=alpha)
    kmers = [r["kmer"] for r in qk.collect()]
    merged = query_shard_lists(qk, moduli)
    for m in moduli:
        assert merged[m] == sorted(query_shard_list(qk, m))
        assert merged[m] == sorted({km % m for km in kmers})
    assert len(merged[16]) > 1

    calls = []

    def spy(query_kmers, mods):
        calls.append(sorted(int(m) for m in mods))
        return query_shard_lists(query_kmers, mods)

    monkeypatch.setattr(kmer_index, "query_shard_lists", spy)
    assert read_layout_index_pruned(spark, root, qk).count() > 0
    assert [sorted(set(c)) for c in calls] == [moduli]
