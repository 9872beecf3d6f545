"""lucene_solr_spark — a PySpark-native full-text analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of Apache Lucene 7.0 / Solr 7.0 (reference:
mikemccand/lucene-solr) on top of the Spark DataFrame API:

- ``analysis``   — StandardAnalyzer-semantics tokenization (vectorized).
- ``functions``  — BM25 scoring math (byte315 norm encoding, idf),
                   exposed both as exact-float32 numpy kernels and as
                   Catalyst column expressions.
- ``index``      — inverted-index construction: flat posting tables,
                   segment-structured FOR/delta-compressed blocks with
                   skip + block-max metadata, CheckIndex-style
                   validation, TieredMergePolicy-style merging.
- ``search``     — query AST (term / boolean / phrase / multi-term) and
                   two executors: a pure-DataFrame plan and a
                   block-max-WAND Arrow-UDF plan.
- ``operators``  — Solr streaming-expression relational operators,
                   facets / stats / grouping, dedup (exact, MinHash-LSH,
                   SimHash), similarity search, text analysis.
- ``sources``    — deterministic webtext corpus synthesizer and
                   testdata loaders.
- ``streaming``  — NRT (near-real-time) incremental indexing via
                   Structured Streaming.

Everything is DataFrame-first: Catalyst plans the relational parts,
and the only Python on the hot path is vectorized Arrow/pandas UDFs.
"""

import sys as _sys

__version__ = "0.1.0"

# Only inside a Spark Python task (a worker deserializing an engine UDF);
# the driver is never patched.
if "pyspark" in _sys.modules and _sys.modules["pyspark"].TaskContext.get() is not None:
    from lucene_solr_spark import _zipguard

    _zipguard.install()
