"""gloomy_spark — a PySpark-native inverted-index build + BM25 query engine.

Brand-new engine with the query/data-processing capabilities of the
reference n-gram database (tomachalek/gloomy, Go), re-designed Spark-first:

- DataFrame/SQL logical plans, Catalyst/Tungsten physical execution;
- vectorized Arrow/pandas UDFs only where built-ins can't express the
  semantics (varint block codecs, the per-bucket BM25 kernel);
- explicit partitioning strategy for 100 TB scale: salted two-phase
  aggregation for head-term skew, repartitionByRange(term_id, doc_id) for
  globally docID-sorted posting runs, broadcast term dictionaries.

Layout:
    config        engine configuration (mirrors reference conf-sample.json)
    textnorm      pinned pure-Python tokenization semantics (the contract)
    functions.text  the same semantics as Spark Column expressions (JVM-side)
    codecs        delta+varint block codecs (numpy, vectorized)
    corpus        deterministic Common-Crawl-style `pages` corpus generator
    build         index build pipeline (postings, dictionary, segments)
    index_store   on-disk index layout, manifest, lineage, resume
    query         regex→prefix compiler + BM25 query engine
    oracle        slow, obviously-correct pure-Python oracle for tests
    ops           large-scale training-data ops (dedup, ANN, text stats)
"""

__version__ = "0.1.0"
