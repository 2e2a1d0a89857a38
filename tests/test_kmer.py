"""Unit tests for k-mer extraction/encoding (FIXTURES.md §3 micro-fixtures)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from petasearch_spark.functions.kmer import AMINO_ALPHABET, extract_kmers, sanitize_seq
from petasearch_spark.functions.scoring import NUCL_ALPHABET
from petasearch_spark.operators.kmer_index import build_kmer_index, extract_query_kmers


def encode_py(s: str) -> int:
    code = 0
    for ch in s:
        code = code * 20 + AMINO_ALPHABET.index(ch)
    return code


def kmers_py(seq: str, k: int) -> list[tuple[int, int]]:
    out = []
    for i in range(len(seq) - k + 1):
        w = seq[i : i + k]
        if all(c in AMINO_ALPHABET for c in w):
            out.append((encode_py(w), i))
    return out


def _extract(spark, seq: str, k: int, with_pos=True):
    df = spark.createDataFrame([(seq,)], "sequence string")
    row = df.select(extract_kmers("sequence", k=k, with_pos=with_pos).alias("a")).head()
    return row["a"]


def test_encode_hand_computed(spark):
    # 'ACD' with k=3: A=0,C=1,D=2 -> 0*400 + 1*20 + 2 = 22
    got = _extract(spark, "ACD", 3)
    assert [(r["kmer"], r["pos"]) for r in got] == [(22, 0)]


def test_extract_matches_python_model(spark):
    for seq in ["ACDEFGHIKLMNPQRSTVWY", "AAAAAAAAAA", "MKVLAAGICD" * 5]:
        for k in (6, 7, 9):
            got = [(r["kmer"], r["pos"]) for r in _extract(spark, seq, k)]
            assert got == kmers_py(seq, k), (seq, k)


def test_x_windows_excluded(spark):
    # X at position 4 kills windows 0..4 for k=5
    seq = "ACDEXFGHIK"
    got = [(r["kmer"], r["pos"]) for r in _extract(spark, seq, 5)]
    assert got == kmers_py(seq, 5)
    assert all(p >= 5 for _, p in got)


def test_short_sequence_empty(spark):
    assert _extract(spark, "ACDEF", 9) == []
    assert _extract(spark, "", 9) == []


def test_sanitize(spark):
    df = spark.createDataFrame([("AC*D@E\nF",)], "s string")
    assert df.select(sanitize_seq(F.col("s")).alias("s")).head()["s"] == "ACXDEF"


def test_index_representative_rule(spark):
    # Same 9-mer in three sequences; representative = longest, tie -> smallest id.
    shared = "ACDEFGHIK"
    seqs = [
        (0, shared + "MMMM"),        # len 13
        (1, "WWW" + shared + "WWWW"),  # len 16  <- longest, wins
        (2, "Y" + shared + "YYYYYY"),  # len 16 tie, larger id loses
    ]
    df = spark.createDataFrame(seqs, "seq_id long, sequence string")
    idx = build_kmer_index(df, k=9)
    row = idx.filter(F.col("kmer") == encode_py(shared)).head()
    assert (row["seq_id"], row["seq_len"]) == (1, 16)
    # one row per distinct kmer
    assert idx.groupBy("kmer").count().filter("count > 1").count() == 0


def test_index_packed_rep_range_guard(spark):
    """The packed-representative BIGINT (seq_len<<40 | inverted seq_id)
    caps seq_id below 2^40; an out-of-range corpus must fail loudly via
    raise_error, never silently corrupt the J2 representative."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1 << 40, "ACDEFGHIKLMNP")], "seq_id long, sequence string"
    )
    with _pytest.raises(Exception, match="packed-rep range"):
        build_kmer_index(df, k=9).collect()


def test_query_kmers_positions(spark):
    df = spark.createDataFrame([(7, "ACDEFGHIKL")], "seq_id long, sequence string")
    got = extract_query_kmers(df, k=9).collect()
    assert sorted((r["query_id"], r["kmer"], r["pos"]) for r in got) == [
        (7, encode_py("ACDEFGHIK"), 0),
        (7, encode_py("CDEFGHIKL"), 1),
    ]


@pytest.mark.parametrize(
    "alphabet, k, ok",
    [
        (AMINO_ALPHABET, 14, True),
        (AMINO_ALPHABET, 15, False),
        (NUCL_ALPHABET, 31, True),
        (NUCL_ALPHABET, 32, False),
        (AMINO_ALPHABET, 0, False),
    ],
)
def test_kmer_codes_must_fit_bigint(spark, alphabet, k, ok):
    """A k-mer code is a base-|alphabet| integer; past 2^63 the int64
    matmul wraps and distinct k-mers collide in the index. Widths that
    fit give exact codes up to the largest one; wider ones raise."""
    top = alphabet[-1] * k
    df = spark.createDataFrame([(1, top)], "seq_id long, sequence string")
    if ok:
        got = [r["kmer"] for r in extract_query_kmers(df, k=k, alphabet=alphabet).collect()]
        assert got == [len(alphabet) ** k - 1]
    else:
        with pytest.raises(ValueError, match=f"k={k}"):
            extract_query_kmers(df, k=k, alphabet=alphabet)
        with pytest.raises(ValueError, match=f"k={k}"):
            build_kmer_index(df, k=k, alphabet=alphabet)
