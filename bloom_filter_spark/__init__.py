"""bloom_filter_spark — a PySpark-native distributed sketch / approximate-
aggregation library.

From-scratch re-expression (NOT a port) of the query capabilities of the
reference Go library ``rag-nar1/Bloom-Filter`` (/root/reference), extended —
per the project north rule — with HyperLogLog, count-min sketch, t-digest and
KLL quantile sketches, each implemented as a *mergeable aggregation*:

    partition-local vectorized build (numpy inside ``mapInArrow``)
        → associative merge levels (keyed ``groupBy(...).applyInArrow``)
        → broadcast probe / estimate (scalar ``arrow_udf``)

All heavy math is numpy over Arrow batches; there is no per-row Python in any
hot path.  Relational operators (scan/filter/join/group-by/window) are taken
directly from stock Spark DataFrame/SQL — the reference has no query engine
(see SURVEY.md §2.6), so nothing is re-implemented there.

Layout:
    core/       hashing, sizing params, byte-layout serde
    sketches/   pure numpy sketch kernels (Bloom, blocked-Bloom, cuckoo,
                HLL, CMS, KLL, t-digest) behind one MergeableSketch protocol
    operators/  Spark build / merge-tree / probe / checkpoint operators
    sources/    deterministic fixture generator (FIXTURES.md) + catalog shim
    functions/  training-data pipeline ops (dedup, similarity, text stats,
                multimodal plumbing) and relational query library
    streaming/  structured-streaming incremental sketch build
    zipcache    worker-only: keep zip-import directories across Spark tasks
"""

from . import zipcache

__version__ = "0.1.0"

zipcache.install()
