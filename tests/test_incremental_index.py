"""Incremental index maintenance: merge_kmer_index_delta must (a) produce
exactly the index a full rebuild would, and (b) never shuffle the base
index (bucket-local full-outer merge)."""

from __future__ import annotations

import pyspark.sql.functions as F

from petasearch_spark.operators.doc_search import derived_sequences
from petasearch_spark.operators.kmer_index import (
    build_kmer_index,
    merge_kmer_index_delta,
    write_kmer_index_bucketed,
)
from petasearch_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"

# pid-unique managed-table names: the warehouse dir (/tmp) is shared
# across processes, so a concurrent session running these helpers with
# the same fixed names can drop a table out from under this test
# (observed as a one-off full-suite flake in round 4)
import os as _os

_P = f"_{_os.getpid()}"


def _seqs(spark):
    docs = load_table(spark, "documents", SF_DIR, widen_scan=True)
    return derived_sequences(docs).drop("source")


def test_merge_equals_full_rebuild(spark):
    seqs = _seqs(spark).persist()
    base_seqs = seqs.filter(F.col("seq_id") % 3 != 0)
    delta_seqs = seqs.filter(F.col("seq_id") % 3 == 0)

    write_kmer_index_bucketed(build_kmer_index(base_seqs), f"t_inc_base{_P}")
    merged = merge_kmer_index_delta(
        f"t_inc_base{_P}", delta_seqs, f"t_inc_out{_P}", delta_table=f"t_inc_delta{_P}"
    )
    expect = {
        (r["kmer"], r["seq_id"], r["seq_len"]) for r in build_kmer_index(seqs).collect()
    }
    got = {(r["kmer"], r["seq_id"], r["seq_len"]) for r in merged.collect()}
    assert got == expect
    # collisions actually happened (otherwise the J2 rule is untested)
    base_k = {r["kmer"] for r in spark.table(f"t_inc_base{_P}").select("kmer").collect()}
    delta_k = {r["kmer"] for r in spark.table(f"t_inc_delta{_P}").select("kmer").collect()}
    assert base_k & delta_k, "delta must overlap base kmers for a meaningful merge"


def test_merge_join_is_bucket_local(spark):
    seqs = _seqs(spark)
    write_kmer_index_bucketed(build_kmer_index(seqs.filter(F.col("seq_id") % 3 != 0)), f"t_inc_base2{_P}")
    write_kmer_index_bucketed(build_kmer_index(seqs.filter(F.col("seq_id") % 3 == 0)), f"t_inc_delta2{_P}")
    base = spark.table(f"t_inc_base2{_P}").alias("b")
    delta = spark.table(f"t_inc_delta2{_P}").alias("d")
    plan = (
        base.join(delta, "kmer", "full_outer")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan, plan


def test_dedup_ledger_merge_equals_full_rebuild(spark):
    """Base ledger + delta batch must equal dedup over the union — the
    first-occurrence canonical and the copy counts both."""
    from petasearch_spark.operators.dedup import merge_dedup_ledger, write_dedup_ledger

    docs = load_table(spark, "documents", SF_DIR)
    base = docs.filter(F.col("doc_id") < 250)
    delta = docs.filter(F.col("doc_id") >= 250)
    write_dedup_ledger(base, f"t_ledger_base{_P}")
    merged = merge_dedup_ledger(f"t_ledger_base{_P}", delta, f"t_ledger_merged{_P}")
    full = (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )
    m = {r["content_hash"]: (r["canonical_doc_id"], r["n_copies"]) for r in merged.collect()}
    f = {r["content_hash"]: (r["canonical_doc_id"], r["n_copies"]) for r in full.collect()}
    assert m == f and len(m) > 0


def test_dedup_ledger_merge_is_bucket_local(spark):
    """No Exchange may sit above either bucketed ledger scan in the merge
    join — the base never reshuffles for a delta."""
    from petasearch_spark.operators.dedup import write_dedup_ledger

    docs = load_table(spark, "documents", SF_DIR)
    write_dedup_ledger(docs.filter(F.col("doc_id") < 250), f"t_ledger_b2{_P}")
    write_dedup_ledger(docs.filter(F.col("doc_id") >= 250), f"t_ledger_d2{_P}")
    base = spark.table(f"t_ledger_b2{_P}").alias("b")
    delta = spark.table(f"t_ledger_d2{_P}").alias("d")
    j = base.join(delta, "content_hash", "full_outer")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan


class TestIvfIndexMerge:
    """Incremental IVF ingestion: appending a delta must (a) leave every
    base file untouched, (b) give probe results identical to an index
    rebuilt from scratch over base+delta with the same frozen quantizer,
    and (c) the probe scan must prune to the probed bucket partitions."""

    @staticmethod
    def _setup(spark, tmp_path):
        from pyspark.sql import functions as F

        from petasearch_spark.operators.ivf import N_CENTROIDS
        from petasearch_spark.operators.similarity import _as_double
        from petasearch_spark.sources.tables import load_table

        emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").select(
            "vec_id", _as_double(F.col("embedding")).alias("v")
        )
        cent = [
            (r["vec_id"], r["v"])
            for r in emb.filter(F.col("vec_id") < N_CENTROIDS).collect()
        ]
        base = emb.filter(F.col("vec_id") % 5 != 0)
        delta = emb.filter(F.col("vec_id") % 5 == 0)
        return emb, cent, base, delta

    @staticmethod
    def _files(path):
        import glob
        import os

        return {
            f: os.path.getmtime(f)
            for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
        }

    def test_append_only_and_probe_equivalence(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from petasearch_spark.operators.ivf import (
            merge_ivf_index_delta,
            probe_ivf_index,
            write_ivf_index,
        )

        emb, cent, base, delta = self._setup(spark, tmp_path)
        merged_path = str(tmp_path / "ivf_merged")
        write_ivf_index(base, merged_path, cent)
        before = self._files(merged_path)
        merge_ivf_index_delta(spark, merged_path, delta, cent)
        after = self._files(merged_path)
        # base files untouched, only new files appear
        for f, mt in before.items():
            assert f in after and after[f] == mt, f
        assert len(after) > len(before)

        rebuilt_path = str(tmp_path / "ivf_rebuilt")
        write_ivf_index(emb, rebuilt_path, cent)
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
        got = [
            (r["query_id"], r["rk"], r["neighbor_id"])
            for r in probe_ivf_index(spark, merged_path, q, cent).collect()
        ]
        want = [
            (r["query_id"], r["rk"], r["neighbor_id"])
            for r in probe_ivf_index(spark, rebuilt_path, q, cent).collect()
        ]
        assert got == want and got

    def test_probe_scan_prunes_partitions(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from petasearch_spark.operators.ivf import probe_ivf_index, write_ivf_index

        spark.catalog.clearCache()
        emb, cent, base, delta = self._setup(spark, tmp_path)
        path = str(tmp_path / "ivf_prune")
        write_ivf_index(emb, path, cent)
        # ONE query -> at most NPROBE of the N_CENTROIDS partitions scanned
        q = emb.filter(F.col("vec_id") == 3).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
        df = probe_ivf_index(spark, path, q, cent)
        plan = df._jdf.queryExecution().executedPlan().toString()
        import re

        from petasearch_spark.operators.ivf import NPROBE

        m = re.search(r"PartitionFilters: \[bucket#\d+ IN \(([\d,]+)\)", plan)
        assert m, plan
        assert len(m.group(1).split(",")) <= NPROBE, m.group(1)


class TestBM25PostingsDelta:
    """Fourth member of the delta-merge family: append-only BM25
    postings. Pins (a) base files untouched by a merge, (b) probe over
    the merged index == inline BM25 over the full corpus CELL-EXACTLY
    (stats recomputed at probe time, so old docs' scores shift with the
    growing corpus), (c) the df aggregation is bucket-local — no
    Exchange above the postings scan."""

    @staticmethod
    def _docs(spark):
        return load_table(spark, "documents", SF_DIR, widen_scan=True).select(
            "doc_id", "text"
        )

    def test_append_only_and_probe_equals_rebuild(self, spark):
        import glob
        import os

        from petasearch_spark.operators.bm25 import (
            QUERIES,
            bm25_probe_prebuilt,
            bm25_rank,
            merge_postings_delta,
            write_postings_bucketed,
        )

        docs = self._docs(spark).persist()
        base = docs.filter(F.col("doc_id") % 3 != 0)
        delta = docs.filter(F.col("doc_id") % 3 == 0)
        prefix = f"t_bm25inc{_P}"
        write_postings_bucketed(base, prefix)

        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        pdir = os.path.join(wh, f"{prefix}_postings")
        before = {
            f: os.path.getmtime(f) for f in glob.glob(f"{pdir}/**/*.parquet", recursive=True)
        }
        merge_postings_delta(spark, prefix, delta)
        after = {
            f: os.path.getmtime(f) for f in glob.glob(f"{pdir}/**/*.parquet", recursive=True)
        }
        for f, mt in before.items():
            assert f in after and after[f] == mt, f
        assert len(after) > len(before)

        got = [tuple(r) for r in bm25_probe_prebuilt(spark, prefix, QUERIES).collect()]
        want = [tuple(r) for r in bm25_rank(docs, QUERIES).collect()]
        assert got == want and len(got) > 0
        docs.unpersist()

    def test_probe_df_agg_is_bucket_local(self, spark):
        from petasearch_spark.operators.bm25 import (
            QUERIES,
            bm25_probe_prebuilt,
            write_postings_bucketed,
        )

        prefix = f"t_bm25plan{_P}"
        write_postings_bucketed(self._docs(spark), prefix)
        plan = (
            bm25_probe_prebuilt(spark, prefix, QUERIES)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the term-bucketed layout makes the df aggregation bucket-local:
        # the term key is NEVER reshuffled (the partial and final
        # HashAggregate(keys=[term]) sit back to back over the scan, and
        # candidate probing is a broadcast join); the only hash exchanges
        # move (query_id, doc_id) partial scores and the window key
        # (the one term exchange in the plan is the few-row query-term
        # distinct under its BroadcastExchange — never the postings)
        import re

        adj = re.search(
            r"HashAggregate\(keys=\[term[^\n]*functions=\[count\(1\)[^\n]*\n"
            r"[^\n]*HashAggregate\(keys=\[term[^\n]*partial_count",
            plan,
        )
        assert adj, "df partial/final aggs are not back-to-back (reshuffled):\n" + plan
        assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan
        assert plan.count("BroadcastHashJoin") >= 2


def test_merge_postings_delta_rejects_overlapping_doc_ids(spark):
    """Round-4 ADVICE: a delta re-submitting an existing doc_id would
    silently double that document's postings/doclens rows and corrupt
    every later probe score. The default-on disjointness check must fail
    loudly, leave the index unchanged, and still accept a disjoint delta."""
    import pytest

    from petasearch_spark.operators.bm25 import (
        merge_postings_delta,
        write_postings_bucketed,
    )

    docs = load_table(spark, "documents", SF_DIR, widen_scan=True).select(
        "doc_id", "text"
    )
    prefix = f"t_bm25ovl{_P}"
    base = docs.filter(F.col("doc_id") < 100)
    write_postings_bucketed(base, prefix)
    n_before = spark.table(f"{prefix}_doclens").count()

    overlapping = docs.filter((F.col("doc_id") >= 90) & (F.col("doc_id") < 110))
    with pytest.raises(ValueError, match="append-only"):
        merge_postings_delta(spark, prefix, overlapping)
    assert spark.table(f"{prefix}_doclens").count() == n_before

    disjoint = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 110))
    merge_postings_delta(spark, prefix, disjoint)
    assert spark.table(f"{prefix}_doclens").count() == n_before + disjoint.count()


class TestIvfRecluster:
    """recluster_ivf_index: the lifecycle maintenance job — self-seeded
    Lloyd refinement, partitioned rewrite with payload survival, probe
    continuity under the returned quantizer."""

    def _labeled_index(self, spark, tmp_path):
        import os

        from petasearch_spark.operators.ivf import N_CENTROIDS, write_ivf_index
        from petasearch_spark.operators.similarity import _as_double

        emb = load_table(spark, "embeddings", SF_DIR).select(
            "vec_id", "label", _as_double(F.col("embedding")).alias("v")
        )
        cent = [
            (r["vec_id"], r["v"])
            for r in emb.filter(F.col("vec_id") < N_CENTROIDS).select("vec_id", "v").collect()
        ]
        path = os.path.join(str(tmp_path), "idx")
        write_ivf_index(emb, path, cent, extra_cols=("label",))
        return emb, cent, path

    def test_recluster_probe_equivalence_payload_and_pruning(self, spark, tmp_path):
        import glob
        import os

        from petasearch_spark.operators.ivf import (
            N_QUERIES,
            probe_ivf_index,
            recluster_ivf_index,
            write_ivf_index,
        )
        from petasearch_spark.operators.similarity import ANN_FILTER_LABELS

        emb, cent0, path = self._labeled_index(spark, tmp_path)
        new_cent = recluster_ivf_index(spark, path, iters=2)
        # refined quantizer: bounded by the old centroid count, non-trivial
        assert 1 < len(new_cent) <= len(cent0)
        assert [c for c, _ in new_cent] == sorted(c for c, _ in new_cent)

        # layout: still partitioned by bucket dirs, only refined ids, no
        # swap debris left behind
        buckets = {
            int(os.path.basename(d).split("=")[1])
            for d in glob.glob(os.path.join(path, "bucket=*"))
        }
        assert buckets == {c for c, _ in new_cent}
        assert glob.glob(f"{path}.build*") == [] and glob.glob(f"{path}.old*") == []

        # payload survived: label is queryable and the filtered probe works
        assert "label" in spark.read.parquet(path).columns

        # probe continuity: results against the reclustered index equal a
        # FRESH index written from the source vectors with the SAME
        # refined quantizer (rewrite adds/loses nothing)
        q = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
        fresh = os.path.join(str(tmp_path), "fresh")
        write_ivf_index(emb, fresh, new_cent, extra_cols=("label",))
        for flt in (None, F.col("label").isin(*ANN_FILTER_LABELS)):
            got = [
                tuple(r)
                for r in probe_ivf_index(spark, path, q, new_cent, scan_filter=flt).collect()
            ]
            want = [
                tuple(r)
                for r in probe_ivf_index(spark, fresh, q, new_cent, scan_filter=flt).collect()
            ]
            assert got == want and len(got) > 0

        # recall: on a corpus with real cluster structure (32 separated
        # centers, 16 frozen seed centroids taken from the first vectors)
        # reclustering must not lose probe recall@5 against brute force
        import numpy as np

        from petasearch_spark.operators.ivf import DIM
        from petasearch_spark.operators.similarity import cosine_topk

        centers = np.random.RandomState(0).normal(0, 1, (32, DIM))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows = [
            (i, (centers[i % 32] + np.random.RandomState(i).normal(0, 0.08, DIM)).tolist())
            for i in range(2000)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, v array<double>")
        seed_cent = rows[: len(cent0)]
        q = emb.filter(F.col("vec_id") < 50).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        truth = {tuple(r) for r in cosine_topk(q, emb).select("query_id", "neighbor_id").collect()}
        clustered = os.path.join(str(tmp_path), "clustered")
        write_ivf_index(emb, clustered, seed_cent)

        def recall(cent):
            got = probe_ivf_index(spark, clustered, q, cent).select("query_id", "neighbor_id").collect()
            return len(truth & {tuple(r) for r in got}) / len(truth)

        before = recall(seed_cent)
        assert recall(recluster_ivf_index(spark, clustered, iters=2)) >= before

    def test_recluster_then_merge_delta_uses_new_quantizer(self, spark, tmp_path):
        import pytest

        from petasearch_spark.operators.ivf import (
            merge_ivf_index_delta,
            recluster_ivf_index,
        )

        emb, _cent0, path = self._labeled_index(spark, tmp_path)
        new_cent = recluster_ivf_index(spark, path, iters=1)
        n_before = spark.read.parquet(path).count()
        # the REAL merge carries the base's payload schema through: a
        # delta missing `label` must fail loudly (NULL-labeled rows would
        # be silently excluded by filtered probes — round-5 review
        # finding), and a complete delta appends labeled rows
        delta = emb.limit(20).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "v", "label"
        )
        with pytest.raises(ValueError, match="payload"):
            merge_ivf_index_delta(spark, path, delta.drop("label"), new_cent)
        merge_ivf_index_delta(spark, path, delta, new_cent)
        merged = spark.read.parquet(path)
        assert merged.count() == n_before + 20
        assert merged.filter(
            (F.col("vec_id") >= 1_000_000) & F.col("label").isNull()
        ).count() == 0

    def test_recluster_failed_rewrite_leaves_no_debris_and_index_intact(
        self, spark, tmp_path, monkeypatch
    ):
        import glob

        import pytest

        from petasearch_spark.operators import ivf

        _emb, _cent0, path = self._labeled_index(spark, tmp_path)
        n = spark.read.parquet(path).count()

        def boom(*_a, **_k):
            raise RuntimeError("synthetic rewrite failure")

        monkeypatch.setattr(ivf, "write_ivf_index", boom)
        with pytest.raises(RuntimeError, match="synthetic"):
            ivf.recluster_ivf_index(spark, path, iters=1)
        # no pid-unique build debris survives, and the live index is
        # untouched (swap never started)
        assert glob.glob(f"{path}.build*") == []
        assert spark.read.parquet(path).count() == n

    def test_recluster_recovers_interrupted_swap(self, spark, tmp_path):
        import glob
        import os
        import shutil

        from petasearch_spark.storage import recover

        _emb, _cent0, path = self._labeled_index(spark, tmp_path)
        n = spark.read.parquet(path).count()
        # simulate a kill between the two renames by a DEAD pid: the live
        # index sits only at .old<pid>, plus stale .build debris
        dead = 999_999_999
        os.rename(path, f"{path}.old{dead}")
        os.makedirs(f"{path}.build{dead}")
        recover(path)
        assert spark.read.parquet(path).count() == n
        assert glob.glob(f"{path}.old*") == []
        assert glob.glob(f"{path}.build*") == []
        shutil.rmtree(path, ignore_errors=True)

    def test_recluster_recovery_tolerates_losing_the_restore_race(self, tmp_path, monkeypatch):
        """Two probes may both find the index missing and restore it from
        the same dead-pid .old copy: the one whose rename loses (the
        other already moved it back) returns without raising."""
        import glob
        import os

        from petasearch_spark.storage import recover

        path = str(tmp_path / "ivf_idx")
        os.makedirs(f"{path}.old999999999")
        real_rename = os.rename

        def rival_restores_first(src, dst):
            monkeypatch.setattr(os, "rename", real_rename)
            real_rename(src, dst)  # the concurrent restorer wins
            real_rename(src, dst)  # ours: the source is gone

        monkeypatch.setattr(os, "rename", rival_restores_first)
        recover(path)
        assert os.path.isdir(path)
        assert glob.glob(f"{path}.old*") == []


def test_probe_and_merge_recover_interrupted_recluster_swap(spark, tmp_path):
    """Round-5 ADVICE: a recluster killed between its two renames leaves
    the live index only at `.old<pid>` — previously only the NEXT
    recluster call recovered it, so probes/merges failed on the missing
    path until then. Both now run the same cheap path-missing recovery."""
    import glob
    import os

    from petasearch_spark.operators.ivf import (
        N_CENTROIDS,
        N_QUERIES,
        merge_ivf_index_delta,
        probe_ivf_index,
        write_ivf_index,
    )
    from petasearch_spark.operators.similarity import _as_double

    emb = load_table(spark, "embeddings", SF_DIR).select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("v")
    )
    cent = [
        (r["vec_id"], r["v"])
        for r in emb.filter(F.col("vec_id") < N_CENTROIDS).select("vec_id", "v").collect()
    ]
    path = os.path.join(str(tmp_path), "idx_swapwin")
    base = emb.filter(F.col("vec_id") < 400)
    write_ivf_index(base, path, cent, extra_cols=("label",))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    want = [tuple(r) for r in probe_ivf_index(spark, path, q, cent).collect()]

    # kill window: live index only at .old<dead-pid>
    dead = 999_999_999
    os.rename(path, f"{path}.old{dead}")
    got = [tuple(r) for r in probe_ivf_index(spark, path, q, cent).collect()]
    assert got == want and len(got) > 0
    assert glob.glob(f"{path}.old*") == []

    # same window hit by the delta merge path
    os.rename(path, f"{path}.old{dead}")
    delta = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 420))
    merge_ivf_index_delta(spark, path, delta, cent)
    assert spark.read.parquet(path).count() == 420
