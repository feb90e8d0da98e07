"""Scalar / vector function library for training-data pipelines.

These are the large-scale data-curation operators a 100 TB ingest needs on
top of the CDC core: text statistics and language heuristics (text.py),
document deduplication — exact, Jaccard, MinHash+LSH, SimHash
(dedup_docs.py), and approximate nearest-neighbour search over embedding
columns (ann.py).

All hot-path math is native Spark SQL expressions (JVM, whole-stage
codegen); Python appears only as Arrow-batched pandas UDFs where Spark has
no built-in (and those are clearly marked).
"""
