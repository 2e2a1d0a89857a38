from petasearch_spark.operators.kmer_index import (
    build_kmer_index,
    extract_query_kmers,
    merge_kmer_index_delta,
)
from petasearch_spark.operators.prefilter import prefilter_counts, prefilter_grouped

__all__ = [
    "build_kmer_index",
    "extract_query_kmers",
    "merge_kmer_index_delta",
    "prefilter_counts",
    "prefilter_grouped",
]
