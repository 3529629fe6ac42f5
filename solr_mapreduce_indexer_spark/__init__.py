"""solr_mapreduce_indexer_spark — a from-scratch PySpark-native inverted-index
build + BM25 query engine with the capabilities of Factual/solr-mapreduce-indexer.

The reference (/root/reference) is a Hadoop MapReduce orchestration around an
embedded Lucene writer; this package re-derives the same pipeline natively on
Spark DataFrames + Arrow-vectorized pandas UDFs:

    read transcripts -> dedup (conflict resolvers) -> murmur3 doc routing ->
    stable doc-id assignment -> tokenize -> posting-block build
    (delta+FOR bit-packing, block-max metadata) -> tree merge -> manifest commit
    -> top-k BM25 query (block pruning, bounded heap)

Design stance (SURVEY.md §7.0): DataFrame/Catalyst for everything relational;
numpy/Arrow kernels only for tokenize-side encoding, block codec, merge
compaction and scoring. No RDDs, no per-row Python.
"""

__version__ = "0.1.0"
