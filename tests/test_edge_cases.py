"""Edge-case robustness: degenerate inputs must produce empty results or
sane parses, never exceptions."""

from __future__ import annotations

from petasearch_spark.plans.search import search
from petasearch_spark.sources.fasta import read_fasta, read_fastq, sequences_from_records


def test_empty_query_set(spark):
    q = sequences_from_records(spark, [])
    t = sequences_from_records(spark, [("t0", "ACDEFGHIKLMNPQRSTVWY")])
    assert search(q, t).count() == 0


def test_all_x_query_yields_no_kmers(spark):
    q = sequences_from_records(spark, [("q0", "X" * 30)])
    t = sequences_from_records(spark, [("t0", "ACDEFGHIKLMNPQRSTVWYACDEFGHIKL")])
    assert search(q, t).count() == 0


def test_query_shorter_than_k(spark):
    q = sequences_from_records(spark, [("q0", "ACDEF")])
    t = sequences_from_records(spark, [("t0", "ACDEFGHIKLMNPQRSTVWY")])
    assert search(q, t).count() == 0


def test_fasta_edge_records(spark, tmp_path):
    f = tmp_path / "edge.fa"
    f.write_text(
        ">only-header no sequence\n"
        ">short\nACD\n"
        ">multi line record\nACDEF\nGHIKL\nMNPQR\n"
        ">lowercase and star\nacd*ef\n"
        ">unicode header ümlaut £\nACDEFGHIKL\n"
    )
    rows = {r["accession"]: r for r in read_fasta(spark, str(f)).collect()}
    assert rows["only-header"]["sequence"] == ""
    assert rows["multi"]["sequence"] == "ACDEFGHIKLMNPQR"
    assert rows["lowercase"]["sequence"] == "ACDXEF"  # '*' -> X, uppercased
    assert rows["unicode"]["header"].startswith("unicode header")
    # dense 0-based load-order ids
    assert sorted(r["seq_id"] for r in rows.values()) == [0, 1, 2, 3, 4]


def test_multifile_fasta_ids_deterministic_load_order(spark, tmp_path):
    """Multi-file ingest: ids follow (file path, intra-file offset) and are
    identical run to run — the round-1 ADVICE nondeterminism (per-file byte
    offsets repeat across files) is gone."""
    (tmp_path / "a.fa").write_text(">a1\nAAACCC\n>a2\nCCCAAA\n")
    (tmp_path / "b.fa").write_text(">b1\nGGG\n")
    (tmp_path / "c.fa").write_text(">c1\nTTT\n>c2\nTTTT\n>c3\nT\n")
    paths = [str(tmp_path / n) for n in ["c.fa", "a.fa", "b.fa"]]  # shuffled arg order
    got = {
        r["accession"]: r["seq_id"]
        for r in read_fasta(spark, paths).collect()
    }
    # path-sorted file order, intra-file record order
    assert got == {"a1": 0, "a2": 1, "b1": 2, "c1": 3, "c2": 4, "c3": 5}
    again = {r["accession"]: r["seq_id"] for r in read_fasta(spark, paths).collect()}
    assert again == got


def test_fasta_ids_stable_across_split_sizes(spark, tmp_path):
    """Force many intra-file splits (tiny maxPartitionBytes) and check ids
    still come out in exact intra-file record order — exercises the
    (_file, _blk, _mid) composite through real multi-split reads."""
    recs = [f">r{i:04d}\n" + "ACDEFGHIKL" * 12 + "\n" for i in range(400)]
    f = tmp_path / "big.fa"
    f.write_text("".join(recs))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "4096")  # ~30 splits over the ~50 KB file
        got = {r["accession"]: r["seq_id"] for r in read_fasta(spark, str(f)).collect()}
    finally:
        spark.conf.set(key, old)
    assert got == {f"r{i:04d}": i for i in range(400)}


def test_fasta_fastq_plans_have_no_global_window(spark, tmp_path):
    """VERDICT r1 item 4 'done' criterion: no unpartitioned window (single
    partition exchange) in either reader's plan."""
    (tmp_path / "x.fa").write_text(">x\nACGT\n")
    (tmp_path / "x.fq").write_text("@x\nACGT\n+\nIIII\n")
    for df in [read_fasta(spark, str(tmp_path / "x.fa")), read_fastq(spark, str(tmp_path / "x.fq"))]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, plan


def test_empty_fasta(spark, tmp_path):
    f = tmp_path / "empty.fa"
    f.write_text("")
    assert read_fasta(spark, str(f)).count() == 0


def test_duplicate_accessions_preserved(spark):
    q = sequences_from_records(
        spark, [("dup same", "ACDEFGHIKLMNPQRSTVWY"), ("dup again", "ACDEFGHIKLMNPQRSTVWY")]
    )
    # ids stay distinct even when accessions collide
    assert q.select("seq_id").distinct().count() == 2


def test_prefilter_plan_broadcasts_query_side(spark):
    """Plan-shape regression: the prefilter must broadcast the query k-mer
    side, never shuffle the index for a small query set."""
    from petasearch_spark.operators.kmer_index import build_kmer_index, extract_query_kmers
    from petasearch_spark.operators.prefilter import prefilter_grouped

    t = sequences_from_records(
        spark, [(f"t{i}", "ACDEFGHIKLMNPQRSTVWY" * 3) for i in range(5)]
    )
    q = sequences_from_records(spark, [("q0", "ACDEFGHIKLMNPQRSTVWY")])
    pairs = prefilter_grouped(extract_query_kmers(q), build_kmer_index(t))
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_read_fastq(spark, tmp_path):
    from petasearch_spark.sources.fasta import read_fastq

    f = tmp_path / "r.fq"
    f.write_text(
        "@r0 first\nACDEFGHIKL\n+\n@IIIIIIIII\n"  # quality starts with '@'
        "@r1 second\nMNPQRSTVWY\n+r1\nJJJJJJJJJJ\n"
    )
    rows = {r["accession"]: r for r in read_fastq(spark, str(f)).collect()}
    assert rows["r0"]["sequence"] == "ACDEFGHIKL"
    assert rows["r0"]["quality"] == "@IIIIIIIII"  # not mis-split
    assert rows["r1"]["sequence"] == "MNPQRSTVWY"
    assert rows["r0"]["seq_id"] == 0 and rows["r1"]["seq_id"] == 1


def test_fastq_feeds_search(spark, tmp_path):
    from petasearch_spark.plans.search import search
    from petasearch_spark.sources.fasta import read_fastq, sequences_from_records

    f = tmp_path / "q.fq"
    f.write_text("@q0\nACDEFGHIKLMNPQRSTVWY\n+\nIIIIIIIIIIIIIIIIIIII\n")
    q = read_fastq(spark, str(f)).drop("quality")
    t = sequences_from_records(spark, [("t0", "WWWWACDEFGHIKLMNPQRSTVWYAAAA")])
    assert search(q, t).count() == 1


def test_gzipped_fasta(spark, tmp_path):
    import gzip

    from petasearch_spark.sources.fasta import read_fasta

    f = tmp_path / "z.fa.gz"
    with gzip.open(f, "wt") as fh:
        fh.write(">g0 zipped\nACDEFGHIKL\nMNPQRSTVWY\n")
    rows = read_fasta(spark, str(f)).collect()
    assert rows[0]["sequence"] == "ACDEFGHIKLMNPQRSTVWY"


def test_filter_reads_trim_and_gates(spark, tmp_path):
    """FASTQ quality hygiene: 3'-tail trimming at Q<=3, the k=9 length
    gate, the mean-quality gate — plus the '@'-quality-line parse trap
    and the all-bad read (last_good = 0 -> dropped, no substr error)."""
    from petasearch_spark.sources.fasta import PHRED_OFFSET, filter_reads, read_fastq

    def q(codes):
        return "".join(chr(c + PHRED_OFFSET) for c in codes)

    recs = [
        ("@r0 clean", "ACDEFGHIKLMN", q([30] * 12)),
        ("@r1 tail", "ACDEFGHIKAAA", q([30] * 9 + [2, 3, 1])),   # trims to 9
        ("@r2 short", "ACDEFAAA", q([30] * 5 + [1, 1, 1])),      # 5 < k
        ("@r3 lowq", "ACDEFGHIKLMN", q([10] * 12)),              # mean 10 < 20
        ("@r4 at", "ACDEFGHIKLMN", q([31] + [30] * 11)),         # quality starts with '@'
        ("@r5 allbad", "ACDEFGHIKLMN", q([1] * 12)),             # trims to nothing
        ("@r6 interior", "ACDEFGHIKLMN", q([30, 2, 30] + [30] * 9)),  # low Q inside stays
    ]
    fq = tmp_path / "t.fastq"
    fq.write_text("".join(f"{h}\n{s}\n+\n{ql}\n" for h, s, ql in recs))
    out = {r["accession"]: r for r in filter_reads(read_fastq(spark, str(fq))).collect()}
    assert set(out) == {"r0", "r1", "r4", "r6"}
    assert len(out["r1"]["sequence"]) == 9 and out["r1"]["n_trimmed"] == 3
    assert out["r1"]["mean_q"] == 30.0
    # interior low-quality base is NOT trimmed (tail rule only) but drags the mean
    assert len(out["r6"]["sequence"]) == 12
    assert out["r6"]["mean_q"] == round((30 * 11 + 2) / 12, 6)


def test_fastq_paired_end(spark, tmp_path):
    """Positional R1/R2 pairing: interleaved dense ids, mate metadata,
    stem validation, and loud failure on desynchronized files."""
    import pytest

    from petasearch_spark.sources.fasta import read_fastq_paired

    (tmp_path / "r1.fq").write_text(
        "@read0/1 lane1\nACDEFGHIK\n+\nIIIIIIIII\n@read1/1 lane1\nLMNPQRSTV\n+\nIIIIIIIII\n"
    )
    (tmp_path / "r2.fq").write_text(
        "@read0/2 lane1\nWYACDEFGH\n+\nIIIIIIIII\n@read1/2 lane1\nIKLMNPQRS\n+\nIIIIIIIII\n"
    )
    rows = read_fastq_paired(
        spark, str(tmp_path / "r1.fq"), str(tmp_path / "r2.fq")
    ).orderBy("seq_id").collect()
    assert [r["seq_id"] for r in rows] == [0, 1, 2, 3]
    assert [(r["pair_id"], r["mate"]) for r in rows] == [(0, 1), (0, 2), (1, 1), (1, 2)]
    assert rows[0]["accession"] == "read0/1" and rows[1]["accession"] == "read0/2"
    assert rows[2]["sequence"] == "LMNPQRSTV" and rows[3]["sequence"] == "IKLMNPQRS"

    # desync: R2 shorter
    (tmp_path / "r2short.fq").write_text("@read0/2\nWYACDEFGH\n+\nIIIIIIIII\n")
    with pytest.raises(ValueError, match="desync"):
        read_fastq_paired(spark, str(tmp_path / "r1.fq"), str(tmp_path / "r2short.fq"))

    # desync: same counts, mismatched stems at position 1
    (tmp_path / "r2swap.fq").write_text(
        "@read0/2\nWYACDEFGH\n+\nIIIIIIIII\n@readX/2\nIKLMNPQRS\n+\nIIIIIIIII\n"
    )
    with pytest.raises(ValueError, match="stems differ"):
        read_fastq_paired(spark, str(tmp_path / "r1.fq"), str(tmp_path / "r2swap.fq"))
    # trusted re-read path skips validation
    n = read_fastq_paired(
        spark, str(tmp_path / "r1.fq"), str(tmp_path / "r2swap.fq"), validate=False
    ).count()
    assert n == 4


def test_dense_ids_correct_on_multisplit_files(spark, tmp_path):
    """Round-4 regression: assign_dense_ids must survive re-execution on a
    file Spark reads as MANY splits. The old range-repartition version
    collected per-physical-partition bases, but the sampled boundaries
    changed between the count execution and the final action — ~97% of
    ids on a 100k-record file came out wrong, nondeterministically. Force
    multi-split reads of a small corpus and verify every id twice."""
    from pyspark.sql import functions as F

    from petasearch_spark.sources.fasta import read_fastq

    n = 2000
    with open(tmp_path / "many.fq", "w") as fh:
        for i in range(n):
            fh.write(f"@r{i} x\nACDEFGHIKLMNPQRSTVWY\n+\n{'I' * 20}\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try:
        # the split regime must be real: the raw scan sees many splits
        assert spark.read.text(str(tmp_path / "many.fq")).rdd.getNumPartitions() >= 2
        for _ in range(2):  # re-execution must not desync ids
            df = read_fastq(spark, str(tmp_path / "many.fq"))
            bad = df.filter(
                F.col("accession") != F.concat(F.lit("r"), F.col("seq_id"))
            ).count()
            assert bad == 0 and df.count() == n
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_fasta_write_read_roundtrip(spark, tmp_path):
    """write_fasta -> read_fasta reproduces (header, sequence) exactly,
    including wrapped >60-residue sequences and a header-only record."""
    from pyspark.sql import functions as F

    from petasearch_spark.sources.fasta import read_fasta, sequences_from_records, write_fasta

    recs = [
        ("long_one some description", "ACDEFGHIKLMNPQRSTVWY" * 7),  # 140 aa, wraps
        ("short", "ACDEFGHIK"),
        ("empty header-only", ""),
    ]
    df = sequences_from_records(spark, recs)
    out = tmp_path / "out_fa"
    write_fasta(df.coalesce(1), str(out))
    back = read_fasta(spark, str(out)).orderBy("seq_id").collect()
    assert [(r["header"], r["sequence"]) for r in back] == recs
    # wrapping is real: no residue line exceeds 60 chars
    raw = "".join(
        open(out / f).read() for f in sorted(__import__("os").listdir(out)) if f.endswith(".txt")
    )
    assert max(len(line) for line in raw.splitlines() if not line.startswith(">")) <= 60


def test_m8_write_read_roundtrip(spark):
    """write_m8 -> read_m8 reproduces the hit table (both widths)."""
    import random

    from petasearch_spark.plans.search import search
    from petasearch_spark.sources.m8 import read_m8, to_m8, write_m8

    rng = random.Random(5)
    core = "".join(rng.choice("ACDEFGHIKLMNPQRSTVWY") for _ in range(60))
    q = sequences_from_records(spark, [("q0", core)])
    t = sequences_from_records(
        spark, [("t0 hit", core)] + [(f"n{i}", "".join(rng.choice("ACDEFGHIKLMNPQRSTVWY") for _ in range(70))) for i in range(4)]
    )
    res = search(q, t)
    for with_lengths in (False, True):
        import tempfile

        out = tempfile.mkdtemp(prefix="m8rt_")
        write_m8(res, out, with_lengths=with_lengths)
        want = sorted(tuple(r) for r in to_m8(res, with_lengths).collect())
        got = sorted(tuple(r) for r in read_m8(spark, out, with_lengths=with_lengths).collect())
        assert got == want and len(got) > 0


def test_fasta_write_read_roundtrip_multifile(spark, tmp_path):
    """Multi-partition write_fasta: record CONTENT survives a 3-file
    write + read regardless of which partition each record landed in."""
    from petasearch_spark.sources.fasta import read_fasta, sequences_from_records, write_fasta

    recs = [(f"acc{i} d{i}", "ACDEFGHIKLMNPQRSTVWY" * (1 + i % 4)) for i in range(30)]
    df = sequences_from_records(spark, recs)
    out = tmp_path / "multi_fa"
    write_fasta(df.repartition(3), str(out))
    back = read_fasta(spark, str(out))
    got = sorted((r["header"], r["sequence"]) for r in back.collect())
    assert got == sorted(recs)
    # ids are dense 0..N-1 over the written files
    assert sorted(r["seq_id"] for r in back.collect()) == list(range(30))
